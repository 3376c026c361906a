"""Text-analysis operators for a large-scale training-data pipeline.

All fast-path (pure Catalyst expressions — whole-stage codegen, no Python),
each with a DuckDB-SQL twin for the oracle. Operators: normalization,
tokenization, token counting, language ID (stopword-hit heuristic), quality
scoring, document fingerprinting.

Scale note: every function here is a per-row projection — no shuffle, no
state; at 100 TB they run map-side inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from mini_flink_spark.functions.hashing import portable_hash64, portable_hash64_sql

# Stopword lists for the language-ID heuristic (deterministic, tiny — the
# container has no langid/fasttext; this is the classic stopword-hit method).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es": ("el", "la", "los", "de", "y", "es", "un", "una", "en", "por"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2"),
}


def normalize_text(col: Column | str) -> Column:
    """lower → non-alphanumeric runs to one space → trim.

    ONE regex pass (r12): the original two-pass form (per-char
    `[^a-z0-9 ]`→' ' then `' +'`→' ') produced CHARACTER-IDENTICAL output
    but cost ~9× more CPU — per-character match sites each pay a match
    event + append, and the intermediate same-length string is built just
    to be collapsed again. `[^a-z0-9]+` replaces every maximal run of
    non-alphanumerics (spaces included) with a single space in one scan:
    any such run became spaces then one space before, and becomes one
    space now, so outputs are provably equal (pinned row-for-row on the
    bench corpus + adversarial cases by tests/test_round12_ops.py).
    normalize_text feeds tokens() and therefore every tokenizer consumer
    in the registry — this was ~85% of the minhash base-build CPU at the
    2M-doc probe (S1 15.9 s vs S1b 1.8 s at 500k docs, OPTIMIZATION_r12)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def normalize_text_sql(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>, no empties).
    split('') yields [''] in both engines, so a blank/whitespace-only doc
    would otherwise count the empty string as one token — both renderings
    filter it (ADVICE r2: token-inventory invariants break on blank docs)."""
    return F.filter(F.split(normalize_text(col), " "), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split({normalize_text_sql(expr)}, ' '), x -> x != '')"


def token_count(col: Column | str) -> Column:
    return F.array_size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish proxy: count of subword-ish units — words plus extra units for
    every 4 chars beyond the first 4 of each word (≈ GPT-style 1 token / ~4
    chars). Pure integer arithmetic so the oracle can mirror it exactly."""
    t = tokens(col)
    return F.aggregate(
        t,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + 1 + F.floor((F.length(w) - 1) / 4).cast("bigint"),
    )


def bpe_ish_token_count_sql(expr: str) -> str:
    return (
        f"list_sum(list_transform({tokens_sql(expr)}, "
        "w -> 1 + (length(w) - 1) // 4))"
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang`."""
    sw = LANG_STOPWORDS[lang]
    t = tokens(col)
    arr = F.array(*[F.lit(w) for w in sw])
    return F.size(F.filter(t, lambda w: F.array_contains(arr, w)))


def stopword_hits_sql(expr: str, lang: str) -> str:
    sw = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({tokens_sql(expr)}, w -> list_contains([{sw}], w)))"
    )


def langid_from_tokens(t: Column) -> Column:
    """`langid` over an already-materialized token array (r11): the five
    per-language hit counts otherwise each rebuild tokens(col) — integer
    counts over the same array, so bit-identical to the from-text form."""

    def hits(lang: str) -> Column:
        arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        return F.size(F.filter(t, lambda w: F.array_contains(arr, w)))

    pairs = [
        F.struct((-hits(lang)).alias("neg_hits"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_STOPWORDS)
    ]
    return F.array_min(F.array(*pairs)).getField("lang")


def langid(col: Column | str) -> Column:
    """argmax over per-language stopword hit counts; deterministic tie-break
    by language code ascending. Emits the 2-letter code."""
    return langid_from_tokens(tokens(col))


def langid_sql(expr: str) -> str:
    structs = ", ".join(
        "{'neg_hits': -(" + stopword_hits_sql(expr, lang) + "), 'lang': '" + lang + "'}"
        for lang in sorted(LANG_STOPWORDS)
    )
    return f"(list_min([{structs}])).lang"


def quality_score_from_tokens(t: Column) -> Column:
    """`quality_score` over an already-materialized token array — the same
    expression tree with `t` substituted for tokens(col), so callers that
    carry a token column (e.g. a Gopher gate projection) can score without
    re-running the tokenizer. Integer counts + identical double arithmetic
    → bit-identical to the from-text form."""
    n = F.array_size(t).cast("double")
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    en_hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w))).cast("double")
    distinct_n = F.array_size(F.array_distinct(t)).cast("double")
    score = (
        F.lit(50.0) * en_hits / n
        + F.lit(30.0) * F.least(n, F.lit(200.0)) / F.lit(200.0)
        + F.lit(20.0) * distinct_n / n
    )
    return F.round(score, 4)


def quality_score(col: Column | str) -> Column:
    """Deterministic quality heuristic in [0, 100]:

    50 * stopword_ratio  (fluency proxy)
    + 30 * min(n_tokens, 200)/200  (length credit)
    + 20 * distinct_ratio  (repetition penalty)

    Pure integer/double arithmetic on counts → bit-identical across engines.
    """
    return quality_score_from_tokens(tokens(col))


def quality_score_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    return (
        f"round(50.0 * ({stopword_hits_sql(expr, 'en')})::DOUBLE / len({toks})::DOUBLE"
        f" + 30.0 * least(len({toks})::DOUBLE, 200.0) / 200.0"
        f" + 20.0 * len(list_distinct({toks}))::DOUBLE / len({toks})::DOUBLE, 4)"
    )


# --------------------------------------------------------------------- PII
#
# Training-data pipelines scrub PII before anything else sees the text.
# Patterns are written to the common subset of Java regex (Spark) and RE2
# (DuckDB) — \b, \d, character classes — so both engines match identically;
# redaction is sequential regexp_replace (replace-all on both sides).

PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "phone": (r"\+\d[\d -]{7,}\d", "[PHONE]"),
}


def pii_count(col: Column | str, kind: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pattern, _ = PII_PATTERNS[kind]
    return F.regexp_count(c, F.lit(pattern)).cast("bigint")


def pii_count_sql(expr: str, kind: str) -> str:
    pattern, _ = PII_PATTERNS[kind]
    return f"len(regexp_extract_all({expr}, '{pattern}'))::BIGINT"


def redact_pii(col: Column | str) -> Column:
    """All PII kinds replaced by their placeholder tokens, email first (its
    pattern can span text the narrower ones would split)."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in ("email", "ipv4", "phone"):
        pattern, token = PII_PATTERNS[kind]
        c = F.regexp_replace(c, pattern, token)
    return c


def redact_pii_sql(expr: str) -> str:
    out = expr
    for kind in ("email", "ipv4", "phone"):
        pattern, token = PII_PATTERNS[kind]
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"  # C0 minus \t\n\r, + DEL


def strip_control_chars(col: Column | str) -> Column:
    """Drop non-printing control characters (C0 minus tab/newline/CR, plus
    DEL) — the crawl-artifact bytes every corpus cleanup pass removes before
    tokenization. Pure JVM regexp, zero Python."""
    return F.regexp_replace(col, CONTROL_CHARS_RE, "")


def strip_control_chars_sql(expr: str) -> str:
    # RE2 and Java regex both read \xNN hex escapes, so the class literal is
    # engine-portable as-is
    return f"regexp_replace({expr}, '{CONTROL_CHARS_RE}', '', 'g')"


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization — combining sequences (e + U+0301) fold to
    their composed forms (é) so that visually-identical strings hash, dedup,
    and tokenize identically. Spark has NO built-in Unicode normalizer, so
    this is a DECLARED Arrow-batched pandas path (unicodedata is the CPython
    Unicode database — the same tables DuckDB's nfc_normalize implements,
    which is what makes the oracle twin exact). Stateless per-row projection:
    linear, no shuffle; at corpus scale it fuses into the scan projection
    like any other narrow transform."""
    from pyspark.sql.functions import pandas_udf

    # no annotations on the inner fn: `from __future__ import annotations`
    # stringifies hints and pandas_udf can't resolve them (similarity.py's
    # pandas paths use the same untyped-scalar form)
    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: 56-bit hash of the normalized text (content-
    defined identity — robust to case/punct/whitespace variation)."""
    return portable_hash64(normalize_text(col))


def fingerprint_sql(expr: str) -> str:
    return portable_hash64_sql(normalize_text_sql(expr))


# ------------------------------------------------- URL canonicalization

_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "mc_eid=", "ref_src=")


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a URL for URL-level dedup (the first, cheapest dedup
    pass of a web-crawl pipeline — CCNet/RefinedWeb dedup by normalized URL
    before touching content):

      1. drop the fragment (#...)
      2. lowercase scheme and host; strip default ports :80/:443
      3. strip a trailing slash from the path ('' and '/' both -> '')
      4. drop tracking query params (utm_*, fbclid, gclid, ...), sort the
         survivors for order-insensitivity

    Pure string/array expressions — whole-stage codegen, zero shuffle; the
    dedup itself then groups on the canonical string (or its 8-byte
    `portable_hash64` at scale, so only fixed-width keys enter the
    exchange)."""
    c = F.col(col) if isinstance(col, str) else col
    base = F.split_part(c, F.lit("#"), F.lit(1))
    pre = F.split_part(base, F.lit("?"), F.lit(1))
    query = F.when(
        base.contains("?"), F.split_part(base, F.lit("?"), F.lit(2))
    ).otherwise(F.lit(""))
    scheme = F.lower(F.split_part(pre, F.lit("://"), F.lit(1)))
    rest = F.split_part(pre, F.lit("://"), F.lit(2))
    hostport = F.split_part(rest, F.lit("/"), F.lit(1))
    path = F.substring(rest, F.length(hostport) + 1, F.lit(2147483647))
    host = F.regexp_replace(F.lower(hostport), ":(443|80)$", "")
    path_c = F.regexp_replace(path, "/$", "")

    def _keep(x: Column) -> Column:
        cond = x != ""
        for p in _TRACKING_PREFIXES:
            cond = cond & ~x.startswith(p)
        return cond

    kept = F.array_join(F.array_sort(F.filter(F.split(query, "&"), _keep)), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path_c,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of `canonical_url` — identical four normalization steps.
    str_split_regex/list_filter/list_sort mirror the Spark array pipeline."""
    base = f"split_part({expr}, '#', 1)"
    pre = f"split_part({base}, '?', 1)"
    query = (
        f"CASE WHEN contains({base}, '?') THEN split_part({base}, '?', 2) "
        f"ELSE '' END"
    )
    scheme = f"lower(split_part({pre}, '://', 1))"
    rest = f"split_part({pre}, '://', 2)"
    hostport = f"split_part({rest}, '/', 1)"
    path = f"substr({rest}, length({hostport}) + 1)"
    host = f"regexp_replace(lower({hostport}), ':(443|80)$', '')"
    path_c = f"regexp_replace({path}, '/$', '')"
    drop = " OR ".join(f"starts_with(x, '{p}')" for p in _TRACKING_PREFIXES)
    kept = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"x -> x != '' AND NOT ({drop}))), '&')"
    )
    return (
        f"({scheme} || '://' || {host} || {path_c} || "
        f"CASE WHEN {kept} != '' THEN '?' || {kept} ELSE '' END)"
    )


# ------------------------------------- hashed-linear classifier inference

CLS_DIMS = 64  # feature-hash space of the linear quality classifier


def classifier_weights(dims: int = CLS_DIMS) -> tuple[int, ...]:
    """The model: integer milli-unit weights in [-1000, 1000], precomputed
    driver-side from the portable hash of the feature index (a deterministic
    stand-in for trained weights — a real model drops its `w` in here and
    everything downstream is unchanged)."""
    from mini_flink_spark.functions.hashing import portable_hash64_py

    return tuple(portable_hash64_py(f"w#{j}") % 2001 - 1000 for j in range(dims))


def hashed_linear_score(bound_tokens: Column, weights: tuple[int, ...]) -> Column:
    """Σ w[H(tok) % dims] as ONE exact integer fold over an already-BOUND
    token array column (bind it behind a Generate barrier — see
    queries_pipeline.quality_classifier_linear for why). The weight array is
    all-literal, so Catalyst constant-folds it to a single Literal."""
    w_arr = F.array(*[F.lit(int(w)) for w in weights])

    def w_of(t):
        bucket = F.pmod(portable_hash64(t), F.lit(len(weights)))
        return F.element_at(w_arr, (bucket + 1).cast("int")).cast("bigint")

    return F.aggregate(
        bound_tokens, F.lit(0).cast("bigint"), lambda acc, t: acc + w_of(t)
    )


def hashed_linear_score_sql(tokens_expr: str, weights: tuple[int, ...]) -> str:
    """DuckDB twin: list_sum over the same literal weight list (1-indexed)."""
    wl = "[" + ", ".join(str(w) for w in weights) + "]"
    w_of = f"{wl}[({portable_hash64_sql('t')} % {len(weights)}) + 1]"
    return (
        f"coalesce(list_sum(list_transform({tokens_expr}, t -> {w_of})), 0)::BIGINT"
    )


# ----------------------------------------------- registered-domain filter


def registered_domain(host: Column) -> Column:
    """Last two labels of a hostname — the blocklist-matching key (a
    public-suffix-list-aware normalizer slots into this same seam)."""
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def registered_domain_sql(host_expr: str) -> str:
    return f"regexp_extract({host_expr}, '([^.]+\\.[^.]+)$', 1)"


# Gopher rule thresholds (Rae et al. 2021 §A1.1, adapted to this corpus) —
# the single source of truth for the flags query, the curation-pipeline gate,
# and every oracle rendering. Integer cross-multiplication form throughout so
# no flag ever compares floats at a rule boundary.
GOPHER_TOKENS_LO, GOPHER_TOKENS_HI = 10, 100000
GOPHER_MWL_LO, GOPHER_MWL_HI = 3, 10  # mean word length bounds
GOPHER_MIN_STOPWORDS = 2
GOPHER_DISTINCT_NUM, GOPHER_DISTINCT_DEN = 10, 3  # 10*distinct > 3*tokens

_SW_EN_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

# metric SQL over a token-list column named t
GOPHER_METRICS_SQL = {
    "n_tokens": "len(t)::BIGINT",
    "n_chars": "list_sum(list_transform(t, w -> length(w)))::BIGINT",
    "sw_hits": f"len(list_filter(t, w -> list_contains([{_SW_EN_SQL}], w)))::BIGINT",
    "n_distinct": "len(list_distinct(t))::BIGINT",
}


def gopher_flag_sqls(
    nt: str = "n_tokens",
    nc: str = "n_chars",
    sw: str = "sw_hits",
    nd: str = "n_distinct",
) -> dict[str, str]:
    return {
        "flag_word_count": f"({nt} BETWEEN {GOPHER_TOKENS_LO} AND {GOPHER_TOKENS_HI})",
        "flag_mean_word_len": f"({nc} BETWEEN {GOPHER_MWL_LO} * {nt} AND {GOPHER_MWL_HI} * {nt})",
        "flag_stopwords": f"({sw} >= {GOPHER_MIN_STOPWORDS})",
        "flag_distinct": f"({GOPHER_DISTINCT_NUM} * {nd} > {GOPHER_DISTINCT_DEN} * {nt})",
    }


def gopher_pass_sql(**kw: str) -> str:
    return " AND ".join(gopher_flag_sqls(**kw).values())


def gopher_metrics(t) -> dict:
    """Token-array Column -> the four rule-metric Columns."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    return {
        "n_tokens": F.array_size(t).cast("bigint"),
        "n_chars": F.aggregate(
            t, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        ),
        "sw_hits": F.size(F.filter(t, lambda w: F.array_contains(sw, w))).cast(
            "bigint"
        ),
        "n_distinct": F.array_size(F.array_distinct(t)).cast("bigint"),
    }


def gopher_flags(nt, nc, sw, nd) -> tuple:
    """Metric Columns -> the four rule flags (same order as gopher_flag_sqls)."""
    return (
        nt.between(GOPHER_TOKENS_LO, GOPHER_TOKENS_HI),
        nc.between(GOPHER_MWL_LO * nt, GOPHER_MWL_HI * nt),
        sw >= GOPHER_MIN_STOPWORDS,
        GOPHER_DISTINCT_NUM * nd > GOPHER_DISTINCT_DEN * nt,
    )
