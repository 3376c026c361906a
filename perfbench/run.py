"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload wordcount_running --seed 1 --seconds 20 --trace 0

Run from the repository root (the directory holding ``mini_flink_spark/``).
Progress goes to stderr; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics traced). A fuller record of the run
(details, host audit and, traced, spans and self times) is written to
``.perfbench_out/``. Scratch inputs, Spark's local dirs, checkpoints and the
event log live in ``.perfbench_run/`` and are removed at exit. Every process
the run starts (the JVM, its Python workers, the stream generator) has ended
before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(section: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants, so that a
    Python worker whose JVM exits first is still ours to find and wait for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop Spark and its JVM, then every other descendant, and wait for
    each to end. The JVM otherwise outlives this process: it exits on EOF
    of its stdin, which comes only when this process has gone."""
    from measure import descendants

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the teardown finish
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception as e:  # the JVM may already be gone
                log(f"SparkContext.stop failed: {e!r}")
        proc = getattr(SparkContext._gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                log("JVM still running after its stdin closed; killing it")
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    signalled: set[int] = set()
    while True:
        while True:  # collect exited children, adopted ones included
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        live = descendants(os.getpid())
        if not live:
            return
        late = time.monotonic() > deadline
        for pid in live:
            if pid in signalled and not late:
                continue
            sig = signal.SIGKILL if late else signal.SIGTERM
            log(f"stopping leftover process {pid} with {sig.name}")
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            signalled.add(pid)
        time.sleep(0.05)


def on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int, default=None,
                    help="stream_running_reduce only: offered events/s instead of the fixed rate "
                         "(for choosing that rate; benchmark runs leave it unset)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from measure import HostAudit, RssSampler, Tracer, parse_event_log, percentile, self_time_by_name
    from workloads import WORKLOADS, Ctx, _iteration_spark

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "mini_flink_spark")):
        log(f"no mini_flink_spark package under {ROOT}: run from a repository checkout")
        return 2

    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    audit = HostAudit()
    cores = audit.nproc
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Everything Spark and its Python workers write stays in the checkout.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer, log=log)
    wl = WORKLOADS[args.workload]()
    if args.rate is not None:
        if not hasattr(wl, "RATE"):
            log(f"--rate applies to the stream workload only, not {args.workload}")
            return 2
        wl.RATE = args.rate
    eventlog_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file for the JVM
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",  # zstd needs the zstandard module
            "spark.eventLog.rolling.enabled": "false",
        })

    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            wl.prepare(ctx)
            gen_s = time.perf_counter() - t
            log(f"inputs generated in {gen_s:.2f}s")

            # pipeline_spec's gate imports queries_ext, which only imports
            # cleanly once the query registry has been (circular import)
            import mini_flink_spark.queries  # noqa: F401
            from mini_flink_spark.session import get_spark

            def spark_factory(extra: dict | None):
                return get_spark(extra_conf={**conf, **(extra or {})})

            # One set-up per run, not the median of several: a set-up is a
            # cold JVM launch plus the first runs of the pipeline (20-40 s),
            # and even a re-setup on the running JVM restarts the Python
            # workers and reruns the warm-up (~9 s for curation), which puts
            # a 70-run benchmark pass over its 3420 s budget.
            t = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = spark_factory(None)
            get_spark_s = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.span("session.warmup"):
                wl.warmup(spark, ctx)
            warmup_s = time.perf_counter() - t
            log(f"setup: get_spark {get_spark_s:.2f}s warm-up {warmup_s:.2f}s")
            app_id = spark.sparkContext.applicationId

            m = wl.measure(spark, ctx)
            log(f"measured: attempted {m.attempted} failed {m.failed} latency_ms {[round(x) for x in m.latency_ms[:8]]}")
            live = wl.trace_live(spark, ctx, m) if args.trace else {}
            spark.stop()
            post = wl.trace_post(spark_factory, ctx, m) if args.trace else {}
        lat = m.latency_ms
        e2e = {
            "setup_s": get_spark_s + warmup_s,
            "peak_rss_mb": rss.peak_mb,
            "records_per_s": m.records_per_s,
            "latency_p50_ms": percentile(lat, 50) if lat else float("nan"),
            "latency_p90_ms": percentile(lat, 90) if lat else float("nan"),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "rate": getattr(wl, "RATE", None),
            "end_to_end": e2e,
            "attempted": m.attempted,
            "failed": m.failed,
            "input_gen_s": gen_s,
            "get_spark_s": get_spark_s,
            "warmup_s": warmup_s,
            "rss_by_process_mb": rss.by_name_mb,
            "details": m.details,
            "host": audit.finish(),
        }
        correct = m.failed == 0 and m.details.get("valid", True)
        units = metric_units("per_layer" if args.trace else "end_to_end")
        values = e2e
        if args.trace:
            jobs, stages = parse_event_log(os.path.join(eventlog_dir, app_id))
            layers = {k: 0.0 for k in units}
            layers["session.get_spark_s"] = get_spark_s
            layers["session.warmup_s"] = warmup_s
            layers.update(_iteration_spark(jobs, stages, m.windows, cores))
            layers.update({k: v for k, v in live.items() if not k.startswith("_")})
            layers.update(post)
            layers.update(wl.trace_layers(ctx, m, jobs, stages, live))
            unknown = set(layers) - set(units)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            record["layers"] = layers
            record["spans"] = [s.__dict__ for s in tracer.spans]
            record["self_time_s"] = self_time_by_name(tracer.spans)
            values = layers
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1, default=float)
        log(json.dumps({"end_to_end": e2e, "details": m.details}, default=float)[:2000])
        print(json.dumps({"correct": bool(correct), "attempted": m.attempted,
                          "failed": m.failed, "metrics": metrics}))
        return 0
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
