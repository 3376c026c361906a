"""Python workers run from mini_flink_spark.pyworker: Spark's own archives
(pyspark.zip, py4j-*-src.zip, the spark-core jar) are off the worker's import
path, so a task's importlib.invalidate_caches() no longer re-reads them."""

import json
import os
import site
import statistics
import subprocess
import sys
import zipfile

from mini_flink_spark import session
from mini_flink_spark.pyworker import strip_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_task_imports_installed_pyspark(spark):
    assert spark.conf.get("spark.python.daemon.module") == "mini_flink_spark.pyworker"

    def probe(batches):
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pandas as pd
        import pyspark

        from mini_flink_spark.pyworker import is_spark_archive

        for _ in batches:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1e3
        archive_importers = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and any(is_spark_archive(part) for part in k.split(os.sep))
        ]
        yield pd.DataFrame({
            "pyspark_file": [pyspark.__file__],
            "on_disk": [os.path.isfile(pyspark.__file__)],
            "archive_importers": [len(archive_importers)],
            "invalidate_ms": [ms],
        })

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "pyspark_file string, on_disk boolean, "
                            "archive_importers int, invalidate_ms double")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        # a module inside a zip has no file of its own on disk
        assert r.on_disk, r.pyspark_file
        assert r.archive_importers == 0
    # ~250 ms with the archives cached, well under 1 ms without them
    assert statistics.median(r.invalidate_ms for r in rows) < 5.0


def _package(root, name, version=None, zip_name=None):
    """Write package `name` (with pyspark's version.py when `version` is set)
    as a directory under `root`, or into archive `zip_name` there."""
    files = {f"{name}/__init__.py": ""}
    if version is not None:
        files[f"{name}/version.py"] = f'__version__: str = "{version}"\n'
    if zip_name is None:
        for rel, text in files.items():
            path = root / rel
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(text)
        return str(root)
    archive = root / zip_name
    with zipfile.ZipFile(archive, "a") as z:
        for rel, text in files.items():
            z.writestr(rel, text)
    return str(archive)


def _layout(tmp_path, installed_version):
    spark_lib = tmp_path / "spark"
    spark_lib.mkdir()
    archives = [
        _package(spark_lib, "pyspark", "4.1.2", zip_name="pyspark.zip"),
        _package(spark_lib, "py4j", zip_name="py4j-0.10.9.9-src.zip"),
    ]
    site = tmp_path / "site"
    site.mkdir()
    if installed_version is not None:
        _package(site, "pyspark", installed_version)
        _package(site, "py4j")
    path = archives + [str(site)]
    cache = {a: object() for a in archives}
    cache[archives[0] + os.sep + "pyspark"] = object()
    cache[str(site)] = object()
    return archives, str(site), path, cache


def test_strip_removes_archives_when_installed_pyspark_matches(tmp_path):
    archives, site, path, cache = _layout(tmp_path, installed_version="4.1.2")
    assert strip_spark_archives(path, cache) == archives
    assert path == [site]
    assert list(cache) == [site]


def test_strip_keeps_archives_when_pyspark_not_importable_without_them(tmp_path):
    _, _, path, cache = _layout(tmp_path, installed_version=None)
    before_path, before_cache = list(path), dict(cache)
    assert strip_spark_archives(path, cache) == []
    assert path == before_path
    assert cache == before_cache


def test_strip_keeps_archives_when_installed_pyspark_differs(tmp_path):
    _, _, path, cache = _layout(tmp_path, installed_version="3.5.0")
    before_path = list(path)
    assert strip_spark_archives(path, cache) == []
    assert path == before_path


def test_worker_pythonpath_puts_checkout_first():
    assert session.PACKAGE_PARENT == REPO
    assert session.worker_pythonpath() == REPO
    assert session.worker_pythonpath("/extra") == os.pathsep.join([REPO, "/extra"])


def test_worker_pythonpath_leaves_out_site_packages(monkeypatch):
    # an installed package: site-packages must not go ahead of the stdlib
    monkeypatch.setattr(session, "PACKAGE_PARENT", site.getsitepackages()[0])
    assert session.worker_pythonpath() is None
    assert session.worker_pythonpath("/extra") == "/extra"


SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from mini_flink_spark.pipeline_spec import run_pipeline
from mini_flink_spark.session import get_spark

spark = get_spark("outside-cwd", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
docs = spark.createDataFrame([
    (1, "the quick brown fox jumps over the lazy sleeping dog and then runs into the forest", "en"),
    (2, "short text", "en"),
    (3, " ".join(["spam"] * 20), "en"),
], "doc_id long, text string, lang string")
kept = sorted(r.doc_id for r in run_pipeline(docs, [{"op": "gopher_gate"}]).collect())

def probe(batches):
    import os
    import pandas as pd
    import mini_flink_spark
    import pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({"pkg": [mini_flink_spark.__file__], "pyspark": [pyspark.__file__],
                        "cwd": [os.getcwd()]})

worker = spark.range(1).mapInPandas(probe, "pkg string, pyspark string, cwd string").first()
registry = sorted(m for m in sys.modules if m.startswith("mini_flink_spark.queries"))
spark.stop()
print(json.dumps({"kept": kept, "registry": registry, "worker": worker.asDict()}))
"""


def test_session_and_gate_from_outside_the_repo(tmp_path):
    """A fresh interpreter whose working directory is outside the repository:
    the gate stage builds from pipeline_spec alone (the query registry is never
    imported), and Python workers still import the package and its daemon."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["kept"] == [1]
    assert result["registry"] == []
    worker = result["worker"]
    assert worker["cwd"] == str(tmp_path)
    assert worker["pkg"] == os.path.join(REPO, "mini_flink_spark", "__init__.py")
    assert os.path.isfile(worker["pyspark"])
