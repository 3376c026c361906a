"""Round-12 optimization pins (VERDICT r11 'Next round' items).

1. multimodal_phash_neardup now runs WITH the MAX_BAND_BUCKET cap and its
   oracle mirrors the banded algorithm (VERDICT r11 #5). Two properties must
   hold and stay pinned:
     - losslessness: on a corpus with no hot band, the capped banded plan
       equals the O(n²) brute force at radius 3 (the property the old
       brute-force oracle used to certify implicitly);
     - engagement: a planted adversarial family of near-identical signatures
       (> max_bucket DISTINCT values sharing band slices) is excluded from
       candidate generation by the cap's anti-join instead of exploding the
       self-join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_flink_spark.functions.dedup import simhash_pairs
from mini_flink_spark.functions.hashing import portable_hash64_py


def _pairs_set(df):
    return {(r.a, r.b, r.hamming) for r in df.collect()}


def test_phash_capped_banding_equals_brute_force(spark):
    """On a benign (md5-uniform) signature corpus the cap never engages and
    the banded plan is exactly the brute force at radius <= 3 — pigeonhole
    over 4 bands is lossless, including multi-copy signature groups."""
    vals = []
    for i in range(120):
        h = portable_hash64_py(f"doc-{i}")
        vals.append((i, h))
        # plant near-dups: 2-bit and 3-bit flips of every 10th signature,
        # plus an exact duplicate (distance-0 expansion path)
        if i % 10 == 0:
            vals.append((1000 + i, h ^ 0b11))
            vals.append((2000 + i, h ^ (1 << 50) ^ (1 << 20) ^ 1))
            vals.append((3000 + i, h))
    sim = spark.createDataFrame(vals, "id long, simhash long")
    banded = _pairs_set(simhash_pairs(sim, max_hamming=3, n_blocks=4))
    brute = _pairs_set(
        sim.alias("l")
        .join(sim.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= 3)
    )
    assert banded == brute
    assert len(banded) >= 36  # the planted near-dups actually exist


def test_phash_band_cap_engages_on_adversarial_family(spark):
    """A family of > max_bucket DISTINCT signatures that share their three
    low band slices (differing only inside the top band, pairwise hamming
    <= 3) makes bands 0-2 hot; the cap's anti-join must drop those buckets,
    excluding the family's O(n²) candidates, while untouched uniform
    signatures keep their pairs."""
    base = portable_hash64_py("adversarial-family-base") & ((1 << 42) - 1)
    family = [(10_000 + j, base | (j << 42)) for j in range(40)]  # distinct top-14-bit slices
    normal = []
    for i in range(30):
        h = portable_hash64_py(f"uniform-{i}")
        normal.append((i, h))
        if i % 3 == 0:
            normal.append((500 + i, h ^ 0b101))  # hamming-2 partner
    sim = spark.createDataFrame(family + normal, "id long, simhash long")

    uncapped = _pairs_set(simhash_pairs(sim, max_hamming=3, n_blocks=4, max_bucket=None))
    capped = _pairs_set(simhash_pairs(sim, max_hamming=3, n_blocks=4, max_bucket=10))

    family_ids = {i for i, _ in family}
    fam_pairs_uncapped = {p for p in uncapped if p[0] in family_ids}
    fam_pairs_capped = {p for p in capped if p[0] in family_ids}
    # every family pair differs only in the top band -> hamming <= 3 via two
    # bit positions in the top 14 bits is not guaranteed for all j pairs, but
    # single-bit-count-difference pairs exist; what matters: uncapped sees
    # family candidates, capped sees none (bands 0-2 hot, band-3 slices all
    # distinct so no candidate survives)
    assert fam_pairs_uncapped, "planted family produced no uncapped pairs"
    assert not fam_pairs_capped, "cap failed to drop the hot-band family"
    # the uniform signatures' pairs are untouched by the cap
    norm_uncapped = {p for p in uncapped if p[0] not in family_ids}
    norm_capped = {p for p in capped if p[0] not in family_ids}
    assert norm_capped == norm_uncapped and norm_capped


def test_normalize_text_single_regex_identical(spark):
    """r12: normalize_text collapsed to ONE regex pass ([^a-z0-9]+ -> ' ').
    Pin character-identical output vs the original two-pass rendering on
    adversarial strings and the bench corpus sample."""
    from mini_flink_spark.functions.text import normalize_text

    cases = [
        "",
        "   ",
        "\t\n\r",
        "Hello,   World!!",
        "a.b,c;d:e",
        "ünïcødé ☃ snow man",
        "already clean text",
        "trailing punctuation...",
        "...leading",
        "MiXeD CaSe 123 456",
        "a" * 5000,
        ". . . . .",
        "tabs\tand\nnewlines\r\nmixed   spaces",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    from pyspark.sql import functions as F

    old = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("s")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    rows = df.select(
        normalize_text(F.col("s")).alias("new"), old.alias("old")
    ).collect()
    for r in rows:
        assert r.new == r.old, (r.new, r.old)


def test_normalize_text_single_regex_identical_on_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from mini_flink_spark.functions.text import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    n_diff = (
        docs.select(normalize_text(F.col("text")).alias("new"), old.alias("old"))
        .filter("new != old")
        .count()
    )
    assert n_diff == 0


def test_minhash_sig_arrow_bit_identical(spark, sf_dir):
    """r12: minhash_lsh_pairs' signature stage moved to the memoizing Arrow
    path. Pin BIT-IDENTICAL signatures vs the expression path on the bench
    corpus (incl. docs with empty shingle sets, which must emit no row)."""
    from mini_flink_spark.functions.dedup import (
        minhash_sig_arrow,
        minhash_sig_from_shingled,
        shingled,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [(900001, ""), (900002, "ab"), (900003, "one two"), (900004, "x y z w")],
        "doc_id long, text string",
    ).withColumns({"lang": F.lit("en"), "source": F.lit("t"), "n_chars": F.lit(0).cast("long")})
    base = shingled(docs.unionByName(extra), "doc_id", "text", 3)
    jvm = {r.id: r.sig for r in minhash_sig_from_shingled(base, ["id"], 16).collect()}
    arrow = {r.id: r.sig for r in minhash_sig_arrow(base, 16).collect()}
    assert set(jvm) == set(arrow)
    assert 900001 not in arrow and 900002 not in arrow  # empty shingle sets
    assert 900004 in arrow  # 4 tokens -> 2 shingles
    for i, s in jvm.items():
        assert list(s) == list(arrow[i]), i


def test_minhash_sig_arrow_null_shingles_are_empty(spark):
    """A null shingle array is an empty shingle set on the Arrow path: the
    doc emits no row and the task does not fail, as with explode."""
    from mini_flink_spark.functions.dedup import minhash_sig_arrow, minhash_sig_from_shingled

    base = spark.createDataFrame(
        [(1, None), (2, []), (3, ["a b c", "b c d"]), (4, None)],
        "id long, sh array<string>",
    )
    arrow = {r.id: list(r.sig) for r in minhash_sig_arrow(base, 16).collect()}
    jvm = {r.id: list(r.sig) for r in minhash_sig_from_shingled(base, ["id"], 16).collect()}
    assert set(arrow) == {3}
    assert arrow == jvm
