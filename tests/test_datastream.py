"""Operator-level golden tests for the DataStream API surface (SURVEY.md §2)."""

import pandas as pd
from pyspark.sql import functions as F

from mini_flink_spark import StreamExecutionEnvironment


def env(spark):
    return StreamExecutionEnvironment(spark)


def test_from_elements_scalars(spark):
    ds = env(spark).from_elements("hello world", "hello world")
    rows = ds.collect()
    assert [r.value for r in rows] == ["hello world", "hello world"]


def test_from_elements_tuples(spark):
    ds = env(spark).from_elements(("a", 1), ("b", 2), schema="word string, n bigint")
    assert sorted((r.word, r.n) for r in ds.collect()) == [("a", 1), ("b", 2)]


def test_map_columnar_and_callable(spark):
    ds = env(spark).from_elements(1, 2, 3)
    doubled = ds.map("value * 2 as doubled")
    assert sorted(r.doubled for r in doubled.collect()) == [2, 4, 6]

    tripled = ds.map(fn=lambda pdf: pdf.assign(value=pdf.value * 3), schema="value bigint")
    assert sorted(r.value for r in tripled.collect()) == [3, 6, 9]


def test_flat_map_explode_and_callable(spark):
    ds = env(spark).from_elements("a b", "c")
    toks = ds.flat_map("explode(split(value, ' ')) as tok")
    assert sorted(r.tok for r in toks.collect()) == ["a", "b", "c"]

    def dup(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat([pdf, pdf])

    doubled = ds.flat_map(fn=dup, schema="value string")
    assert len(doubled.collect()) == 4


def test_filter_fast_and_slow(spark):
    ds = env(spark).from_elements(1, 2, 3, 4)
    assert sorted(r.value for r in ds.filter("value % 2 = 0").collect()) == [2, 4]
    odd = ds.filter(fn=lambda v: v % 2 == 1)
    assert sorted(r.value for r in odd.collect()) == [1, 3]


def test_keyby_reduce_sum_converged(spark):
    data = [("a", 1), ("a", 2), ("b", 5), ("a", 4)]
    ds = env(spark).from_collection(data, "k string, v bigint")
    out = ds.key_by("k").sum("v")
    assert dict((r.k, r.sum_v) for r in out.collect()) == {"a": 7, "b": 5}


def test_keyby_reduce_callable_fold(spark):
    # Opaque binary ReduceFunction parity: left fold in arrival order per key.
    data = [(0, "a", 1), (1, "a", 2), (2, "b", 5), (3, "a", 4)]
    ds = env(spark).from_collection(data, "seq bigint, k string, v bigint")

    def sub(acc, row):  # non-commutative on purpose: order matters
        return {"v": acc["v"] - row["v"]}

    out = ds.key_by("k").reduce(fn=sub, value_cols=["v"], order_col="seq", schema="v bigint")
    got = {}
    for r in out.collect():
        got[len(got)] = r.v
    assert sorted(r.v for r in out.collect()) == sorted([1 - 2 - 4, 5])


def test_min_by_max_by_tiebreak(spark):
    # Two records tie on v; `first` must pick the earlier arrival (seq).
    data = [(0, "a", 5, "x"), (1, "a", 5, "y"), (2, "a", 9, "z"), (3, "b", 1, "w")]
    ds = env(spark).from_collection(data, "seq bigint, k string, v bigint, payload string")
    first = ds.key_by("k").min_by("v", order_col="seq", first=True)
    by_k = {r.k: r for r in first.collect()}
    assert by_k["a"].payload == "x" and by_k["b"].payload == "w"

    last = ds.key_by("k").min_by("v", order_col="seq", first=False)
    assert {r.k: r.payload for r in last.collect()}["a"] == "y"

    mx_first = ds.key_by("k").max_by("v", order_col="seq", first=True)
    assert {r.k: r.payload for r in mx_first.collect()}["a"] == "z"


def test_union_and_rebalance(spark):
    a = env(spark).from_elements(1, 2)
    b = env(spark).from_elements(3)
    u = a.union(b).rebalance(4)
    assert sorted(r.value for r in u.collect()) == [1, 2, 3]


def test_events_aggregates_match_pandas(spark, sf_dir):
    from mini_flink_spark.session import read_table
    from mini_flink_spark.operators.aggregations import keyed_aggregates

    events = read_table(spark, sf_dir, "events")
    got = {
        r.user_id: (r.sum_value, r.min_value, r.max_value, r.cnt)
        for r in keyed_aggregates(events, [F.col("user_id")], "value").collect()
    }
    exp = events.toPandas().groupby("user_id")["value"].agg(["sum", "min", "max", "count"])
    for uid, row in exp.iterrows():
        s, mn, mx, c = got[uid]
        assert abs(s - row["sum"]) < 1e-9
        assert mn == row["min"] and mx == row["max"] and c == row["count"]


def test_distinct_dropdup_join(spark):
    env = StreamExecutionEnvironment(spark)
    a = env.from_collection([(1, "x"), (1, "x"), (2, "y")], "id bigint, s string")
    assert a.distinct().to_df().count() == 2
    assert a.drop_duplicates(["id"]).to_df().count() == 2
    b = env.from_collection([(1, 10.0), (3, 30.0)], "id bigint, v double")
    j = a.join(b, "id", "inner", broadcast_other=True).to_df()
    assert {(r.id, r.s, r.v) for r in j.collect()} == {(1, "x", 10.0), (1, "x", 10.0)} or j.count() == 2
    left = a.join(b, "id", "left").to_df()
    assert left.count() == 3 and left.filter("v IS NULL").count() == 1


def test_map_partitions_open_lifecycle(spark):
    # RichFunction.open parity: open_fn runs once per task; its result is
    # threaded into every batch call
    ds = env(spark).from_elements(1, 2, 3, 4)

    def open_fn():
        return {"offset": 100}  # stands in for loading a model/dict

    def fn(pdf, ctx):
        return pdf.assign(value=pdf.value + ctx["offset"])

    out = ds.map_partitions(fn, "value bigint", open_fn=open_fn)
    assert sorted(r.value for r in out.collect()) == [101, 102, 103, 104]


def test_keyed_process_batch(spark):
    # generic process function on a batch keyed stream: emit every 2nd
    # element per key in event order (not expressible as a plain aggregate)
    rows = [("a", i) for i in range(1, 6)] + [("b", i) for i in range(1, 4)]
    ds = env(spark).from_collection(rows, "k string, seq bigint")

    def fn(pdf):
        pdf = pdf.sort_values("seq")
        return pdf.iloc[1::2][["k", "seq"]]

    out = ds.key_by("k").process(fn, "k string, seq bigint")
    got = sorted((r.k, r.seq) for r in out.collect())
    assert got == [("a", 2), ("a", 4), ("b", 2)]


def test_keyed_process_streaming_stateful(spark, tmp_path):
    # KeyedProcessFunction parity on the streaming path: per-key ValueState
    # counting records across triggers
    import pandas as pd

    from mini_flink_spark.operators.stream import DataStream
    from mini_flink_spark.sources import parquet_stream, write_stream_fixture
    from mini_flink_spark.streaming import run_stream_to_memory

    data = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("a", 4.0)], "k string, v double"
    )
    fixture = write_stream_fixture(data, str(tmp_path / "proc_stream"), n_files=2)
    stream = parquet_stream(spark, fixture, "k string, v double")

    def fn(key, pdf_iter, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf.v.sum())
        state.update((n, s))
        yield pd.DataFrame([(key[0], n, s)], columns=["k", "n", "s"])

    out = DataStream(stream).key_by("k").process(
        fn, "k string, n bigint, s double", state_schema="n long, s double",
        output_mode="update",
    )
    got = run_stream_to_memory(out.to_df(), spark, "update").toPandas()
    last = got.groupby("k").last()  # converged state per key
    assert last.loc["a", "n"] == 3 and last.loc["a", "s"] == 7.0
    assert last.loc["b", "n"] == 1 and last.loc["b", "s"] == 5.0


def test_sql_over_registered_streams(spark):
    e = env(spark)
    ds = e.from_elements(("a", 1), ("b", 2), ("a", 3), schema="k string, v bigint")
    e.register_table("kv", ds)
    out = e.sql("SELECT k, sum(v) AS s FROM kv GROUP BY k")
    assert sorted((r.k, r.s) for r in out.collect()) == [("a", 4), ("b", 2)]


def test_int_counter_accumulator(spark):
    # IntCounter parity: incremented on executors, read on the driver
    e = env(spark)
    acc = e.int_counter()
    ds = e.from_elements(1, 2, 3, 4, 5)

    def fn(pdf):
        acc.add(len(pdf))
        return pdf

    ds.map(fn=fn, schema="value bigint").collect()
    assert acc.value == 5


def test_add_sink_foreach_batch(spark, tmp_path):
    # addSink parity (StreamSink.java:54-58): user sink fn invoked per batch
    from mini_flink_spark.operators.stream import DataStream
    from mini_flink_spark.sources import parquet_stream, write_stream_fixture

    data = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    fixture = write_stream_fixture(data, str(tmp_path / "sink_stream"), n_files=2)
    stream = DataStream(parquet_stream(spark, fixture, "v bigint"))

    seen = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, sorted(r.v for r in batch_df.collect())))

    q = stream.add_sink(sink)
    q.processAllAvailable()
    q.stop()
    got = sorted(v for _, vs in seen for v in vs)
    assert got == list(range(10))


def test_partitioned_parquet_write_prunes_on_read(spark, sf_dir, tmp_path):
    # the write-side half of the scale story: hive-partitioned layout →
    # partition pruning on read (only matching directories scanned)
    from mini_flink_spark.operators.stream import DataStream
    from mini_flink_spark.session import read_table

    out = str(tmp_path / "events_by_type")
    ev = DataStream(read_table(spark, sf_dir, "events"))
    ev.write_parquet(out, partition_by=["event_type"])

    back = spark.read.parquet(out).filter("event_type = 'click'")
    n_click = back.count()
    assert n_click == read_table(spark, sf_dir, "events").filter("event_type = 'click'").count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_read_table_trusts_micros_and_falls_back_for_nanos(spark, tmp_path):
    """read_table must pass TIMESTAMP(MICROS) events through untouched (the
    driver testdata layout) AND still handle genuine TIMESTAMP(NANOS) files
    via the legacy nanos-as-long fallback with µs truncation."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_flink_spark.session import read_table

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    micros = [base + datetime.timedelta(microseconds=i * 1_000_003) for i in range(5)]

    def write_events(path, unit):
        ts = pa.array(micros, type=pa.timestamp(unit))
        t = pa.table({
            "event_id": pa.array(range(5), pa.int64()),
            "ts": ts,
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array(["{}"] * 5),
        })
        pq.write_table(t, path)

    us_dir = tmp_path / "us"
    ns_dir = tmp_path / "ns"
    us_dir.mkdir(); ns_dir.mkdir()
    write_events(str(us_dir / "events.parquet"), "us")
    write_events(str(ns_dir / "events.parquet"), "ns")

    got_us = [r["ts"] for r in read_table(spark, str(us_dir), "events")
              .orderBy("event_id").collect()]
    got_ns = [r["ts"] for r in read_table(spark, str(ns_dir), "events")
              .orderBy("event_id").collect()]
    assert got_us == micros
    assert got_ns == micros  # nanos truncate to the same µs instants
    # both paths yield a proper TIMESTAMP column (downstream unix_micros works)
    for d in (us_dir, ns_dir):
        df = read_table(spark, str(d), "events")
        assert df.selectExpr("unix_micros(ts)").count() == 5
