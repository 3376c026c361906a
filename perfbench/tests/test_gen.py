import os

import numpy as np
import pyarrow.parquet as pq

import gen


def _file_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def _dir(tmp_path, name):
    (tmp_path / name).mkdir()
    return str(tmp_path / name)


def test_wordcount_input_is_deterministic_per_seed(tmp_path):
    a = gen.wordcount_input(_dir(tmp_path, "a"), 7, 20_000)
    b = gen.wordcount_input(_dir(tmp_path, "b"), 7, 20_000)
    c = gen.wordcount_input(_dir(tmp_path, "c"), 8, 20_000)
    assert pq.read_table(a.path).equals(pq.read_table(b.path))
    assert a.counts == b.counts and a.n_kept == b.n_kept
    assert a.counts != c.counts
    # ground truth agrees with the written lines
    toks = " ".join(pq.read_table(a.path).column("line").to_pylist()).split()
    kept = [t for t in toks if t not in set(a.stop_tokens)]
    assert len(toks) == a.n_tokens and len(kept) == a.n_kept
    assert {w: kept.count(w) for w in set(kept)} == a.counts


def test_stream_plan_is_deterministic_and_prefix_is_exact():
    a = gen.stream_plan(3, rate=100, seconds=2, tick_s=0.2)
    b = gen.stream_plan(3, rate=100, seconds=2, tick_s=0.2)
    c = gen.stream_plan(4, rate=100, seconds=2, tick_s=0.2)
    assert np.array_equal(a.user_id, b.user_id) and np.array_equal(a.micros, b.micros)
    assert not np.array_equal(a.user_id, c.user_id)
    assert a.n_events == 200 and a.n_ticks == 10
    created = a.created(1_000_000)
    assert np.all(np.diff(created) > 0)
    acc, want = {}, []
    for k, v in zip(a.user_id.tolist(), a.micros.tolist()):
        acc[k] = acc.get(k, 0) + v
        want.append(acc[k])
    assert a.prefix.tolist() == want
    t = a.tick_table(3, 0)
    assert np.array_equal(np.round(t.column("value").to_numpy() * 1e6).astype(np.int64), a.micros[60:80])


def test_curation_input_is_deterministic_per_seed(tmp_path):
    a = gen.curation_input(_dir(tmp_path, "a"), 5, 400)
    b = gen.curation_input(_dir(tmp_path, "b"), 5, 400)
    shards = sorted(os.listdir(a.path))
    assert len(shards) == gen.CUR_SHARDS and shards == sorted(os.listdir(b.path))
    for f in shards:
        assert _file_bytes(os.path.join(a.path, f)) == _file_bytes(os.path.join(b.path, f))
    assert np.array_equal(a.gate_fail_ids, b.gate_fail_ids) and a.family_of == b.family_of
    assert a.n_docs == 400 and a.gate_fail_ids.size == 40
    assert sum(a.family_sizes.values()) == len(a.family_of)


def test_gate_stopwords_match_the_library():
    from mini_flink_spark.functions.text import LANG_STOPWORDS

    assert gen.GATE_STOPWORDS == LANG_STOPWORDS["en"]
