"""Running (cumulative) per-key reduce — the one genuinely custom semantic.

Reference: StreamGroupedReduce.java:35-56 — the first record of a key is
emitted as-is and stored in ValueState; every subsequent record emits
``reduce(state, new)`` and updates state. One output record per *input*
record, in arrival order per key.

Spark renderings (SURVEY.md §4 'honest list' item 2):

1. Batch (:func:`running_agg`): a window aggregate with frame
   ``UNBOUNDED PRECEDING .. CURRENT ROW`` partitioned by key and ordered by an
   explicit arrival column. Catalyst executes this as one shuffle + per-key
   sort — the scalable rendering (whole-stage codegen'd window exec; no Python).

2. Batch, opaque callable (:func:`running_fold`): applyInPandas fold per key
   emitting every prefix — parity with arbitrary Java ReduceFunction lambdas.

3. Streaming (:func:`running_reduce_stream`): applyInPandasWithState keeping a
   per-key accumulator in the state store and emitting one row per input
   record within each microbatch — exact per-record emission parity. State
   survives across batches (checkpointable), the analogue of the reference's
   HeapKeyedStateBackend ValueState (HeapValueState.java:34,72,83) but
   fault-tolerant.

Spark 4's transformWithStateInPandas (StatefulProcessor + named ValueState, an
even closer ValueState analogue) is not used: its Python worker imports
google.protobuf, which this package does not depend on (without it the query
crashes in StateMessage_pb2 at pre-init), and it needs real protobuf wire-format
(de)serialization against Spark's state server, so an import shim cannot stand
in. applyInPandasWithState has no such dependency and covers the same
semantics; swap in TWS where protobuf is available.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def running_agg(
    df: DataFrame,
    keys: Sequence[str | Column],
    order_col: str,
    **named_aggs: Column,
) -> DataFrame:
    """Cumulative aggregates per key in arrival order.

    ``running_agg(events, ["user_id"], "event_id", running_sum=F.sum("value"))``
    emits one row per input row carrying the cumulative value — the converged
    (last) row per key equals the plain groupBy aggregate.
    """
    w = (
        Window.partitionBy(*[F.col(k) if isinstance(k, str) else k for k in keys])
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for name, agg in named_aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out


def running_fold(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    fn: Callable[[dict, dict], dict],
    value_cols: Sequence[str],
    schema,
) -> DataFrame:
    """Arbitrary-callable running reduce: emits every prefix accumulator.

    Slow path (Python in the loop) — exists for parity with opaque
    ReduceFunction lambdas; use :func:`running_agg` when the reduce is
    expressible as an aggregate.
    """
    import pandas as pd

    key_cols = list(keys)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col, kind="mergesort")
        out_rows = []
        acc = None
        for r in pdf.to_dict("records"):
            cur = {c: r[c] for c in value_cols}
            acc = cur if acc is None else fn(acc, cur)
            out_rows.append({**{k: r[k] for k in key_cols}, order_col: r[order_col], **acc})
        return pd.DataFrame(out_rows)

    return df.groupBy(*key_cols).applyInPandas(fold, schema)


def running_reduce_stream(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
    order_col: str,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming per-record running sum with keyed state.

    One output row per input record: (key, order, running_value) — exact
    StreamGroupedReduce emission semantics. The accumulator lives in the state
    store keyed by `key_col` (checkpointable; RocksDB-capable at scale).
    """
    import pandas as pd

    # The accumulator is kept in integer micro-units: float addition is not
    # associative, and the correctness oracle (a decimal window sum) is exact —
    # integer accumulation makes the streaming path exact too, at any batch
    # split. Output running_micros = Σ round(v * 1e6) as bigint.
    out_schema = f"{key_col} bigint, {order_col} bigint, running_micros bigint"
    state_schema = "acc bigint"

    def fn(key, pdf_iter, state):
        acc = state.get[0] if state.exists else 0
        # Concatenate the key's Arrow chunks BEFORE sorting: a key's batch
        # data can span chunk boundaries (chunks are ~10k rows across all
        # keys of the task), and sorting each chunk independently would
        # accumulate in chunk-arrival order, not order_col order — observed
        # as running-sum divergence at sf0.1 where keys straddle chunks.
        chunks = [pdf for pdf in pdf_iter]
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(order_col, kind="mergesort")
        rows = []
        for r in pdf.itertuples(index=False):
            acc += int(round(float(getattr(r, value_col)) * 1_000_000))
            rows.append((key[0], getattr(r, order_col), acc))
        state.update((acc,))
        yield pd.DataFrame(rows, columns=[key_col, order_col, "running_micros"])

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, output_mode, "NoTimeout"
    )
