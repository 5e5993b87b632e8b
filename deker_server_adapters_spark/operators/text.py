"""Text-analysis operators over the ``documents`` table.

All pure Catalyst expressions (regexp/split/higher-order array
functions) — no Python UDFs, so the whole pipeline stays inside
whole-stage codegen and scales linearly with input bytes.
Each op has a DuckDB oracle twin built from the same primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deker_server_adapters_spark.functions.histogram import (
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.operators import Op
from deker_server_adapters_spark.plans.lineage import release
from deker_server_adapters_spark.sources.tables import load_table

# Normalized text / token helpers (Spark SQL + DuckDB twins).
_NORM = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
_NORM_DUCK = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS = f"split({_NORM}, ' ')"
_TOKENS_DUCK = f"string_split({_NORM_DUCK}, ' ')"

# BPE-ish token regex: words | digit runs | single non-alnum glyph.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_STOPWORDS = ("the", "a", "of", "and", "to")

_LANG_MARKERS = {
    "en": ("the", "a", "and"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "et"),
    "zh": ("de", "le", "shi"),
}


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size({_TOKENS})").cast("long").alias("n_ws_tokens"),
        F.expr(f"size(regexp_extract_all({_NORM}, '{_BPE_RE}', 0))")
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all({_NORM_DUCK}, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: stopword ratio, mean token length, punctuation
    density → weighted score. (C4/Gopher-style filters, simplified.)"""
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_tokens = f"size({_TOKENS})"
    stop_ratio = f"size(filter({_TOKENS}, t -> t IN ({sw}))) / CAST({n_tokens} AS DOUBLE)"
    mean_tok_len = f"length(regexp_replace({_NORM}, ' ', '')) / CAST({n_tokens} AS DOUBLE)"
    punct_ratio = "length(regexp_replace(text, '[^.!?,;:]', '')) / CAST(length(text) AS DOUBLE)"
    return docs.select(
        "doc_id",
        F.expr(f"CAST({n_tokens} AS BIGINT)").alias("n_tokens"),
        F.expr(round_ties_safe_sql(stop_ratio, 4)).alias("stopword_ratio"),
        F.expr(round_ties_safe_sql(mean_tok_len, 4)).alias("mean_token_len"),
        F.expr(round_ties_safe_sql(punct_ratio, 4)).alias("punct_ratio"),
        F.expr(
            round_ties_safe_sql(
                f"0.5 * ({stop_ratio}) + 0.1 * ({mean_tok_len}) - 0.4 * ({punct_ratio})", 4
            )
        ).alias("quality_score"),
    )


def _quality_sql() -> str:
    sw = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_tokens = f"len({_TOKENS_DUCK})"
    stop_ratio = f"len(list_filter({_TOKENS_DUCK}, t -> t IN ({sw}))) / CAST({n_tokens} AS DOUBLE)"
    mean_tok_len = f"length(regexp_replace({_NORM_DUCK}, ' ', '', 'g')) / CAST({n_tokens} AS DOUBLE)"
    punct_ratio = (
        "length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(length(text) AS DOUBLE)"
    )
    return f"""
SELECT doc_id,
       CAST({n_tokens} AS BIGINT) AS n_tokens,
       {round_ties_safe_sql(stop_ratio, 4)} AS stopword_ratio,
       {round_ties_safe_sql(mean_tok_len, 4)} AS mean_token_len,
       {round_ties_safe_sql(punct_ratio, 4)} AS punct_ratio,
       {round_ties_safe_sql(f"0.5 * ({stop_ratio}) + 0.1 * ({mean_tok_len}) - 0.4 * ({punct_ratio})", 4)} AS quality_score
FROM documents
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language scores + argmax prediction (n-gram
    heuristic LID; real corpora would use char-trigram profiles)."""
    docs = load_table(spark, sf_dir, "documents")
    score_exprs = {}
    for lang, markers in _LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        score_exprs[lang] = f"size(filter({_TOKENS}, t -> t IN ({mk})))"
    langs = list(_LANG_MARKERS)
    pred = "CASE "
    for lang in langs:
        others = [f"{score_exprs[lang]} >= {score_exprs[o]}" for o in langs if o != lang]
        pred += f"WHEN {' AND '.join(others)} THEN '{lang}' "
    pred += "END"
    cols = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    cols += [
        F.expr(f"CAST({e} AS BIGINT)").alias(f"score_{lang}") for lang, e in score_exprs.items()
    ]
    cols.append(F.expr(pred).alias("predicted_lang"))
    return docs.select(*cols)


def _lang_id_sql() -> str:
    score_exprs = {}
    for lang, markers in _LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        score_exprs[lang] = f"len(list_filter({_TOKENS_DUCK}, t -> t IN ({mk})))"
    langs = list(_LANG_MARKERS)
    pred = "CASE "
    for lang in langs:
        others = [f"{score_exprs[lang]} >= {score_exprs[o]}" for o in langs if o != lang]
        pred += f"WHEN {' AND '.join(others)} THEN '{lang}' "
    pred += "END"
    scores = ",\n       ".join(
        f"CAST({e} AS BIGINT) AS score_{lang}" for lang, e in score_exprs.items()
    )
    return f"""
SELECT doc_id, lang AS labeled_lang,
       {scores},
       {pred} AS predicted_lang
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min 32-bit hash over char-8 shingles
    (the minimum of a rolling-hash window set). Identical md5-prefix
    hash on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    shingle_hashes = (
        f"transform(sequence(1, greatest(length({_NORM}) - 7, 1)), "
        f"i -> CAST(conv(substr(md5(substr({_NORM}, i, 8)), 1, 8), 16, 10) AS BIGINT))"
    )
    return docs.select(
        "doc_id",
        F.expr(f"array_min({shingle_hashes})").alias("fingerprint"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
       CAST(list_min(list_transform(range(1, greatest(length({_NORM_DUCK}) - 7, 1) + 1),
            i -> CAST('0x' || substr(md5(substr({_NORM_DUCK}, i, 8)), 1, 8) AS UBIGINT))) AS BIGINT)
         AS fingerprint
FROM documents
"""


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (explode -> count -> top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.expr(_TOKENS).alias("t"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 1, 1)), "
                "i -> array_join(slice(t, i, 2), ' '))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


TOP_BIGRAMS_SQL = f"""
WITH toks AS (SELECT {_TOKENS_DUCK} AS t FROM documents),
bi AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                i -> array_to_string(t[i:i+1], ' '))) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM bi
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling with deterministic hash gates —
    the reproducible (re-runnable, engine-independent) way to downsample
    a 100 TB corpus: no RNG state, membership is a pure function of
    doc_id. Quotas: en 20%, others 50%."""
    docs = load_table(spark, sf_dir, "documents")
    gate = "CAST(conv(substr(md5(concat('sample:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
    quota = "CASE WHEN lang = 'en' THEN 20 ELSE 50 END"
    return docs.filter(F.expr(f"({gate}) < ({quota})")).select(
        "doc_id", "lang", "source", "n_chars"
    )


STRATIFIED_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST(CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 100
      < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
"""


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted Bernoulli sample: inclusion
    probability min(1, n_chars/2000) per doc, membership a pure
    integer function of doc_id (md5 gate in basis points) — no RNG
    state, identical members on any engine, partitioning, or re-run;
    the sampled-probability column rides along so downstream
    estimators can Horvitz-Thompson reweight."""
    docs = load_table(spark, sf_dir, "documents")
    gate = (
        "CAST(conv(substr(md5(concat('wsample:', CAST(doc_id AS STRING))), 1, 8), 16, 10)"
        " AS BIGINT) % 10000"
    )
    p_bps = "least(10000, n_chars * 5)"  # n_chars/2000 in basis points
    return docs.filter(F.expr(f"({gate}) < ({p_bps})")).select(
        "doc_id",
        "n_chars",
        F.expr(f"CAST({p_bps} AS BIGINT)").alias("p_bps"),
    )


WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars,
       CAST(least(10000, n_chars * 5) AS BIGINT) AS p_bps
FROM documents
WHERE CAST(CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 10000
      < least(10000, n_chars * 5)
"""


def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by hash range — stable across
    engines, re-runs, and data re-partitioning (the property RNG-based
    splits lack)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = "CAST(conv(substr(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10"
    split = f"CASE WHEN ({bucket}) < 8 THEN 'train' WHEN ({bucket}) = 8 THEN 'val' ELSE 'test' END"
    return (
        docs.select("doc_id", F.expr(split).alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 10 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs, min(doc_id) AS first_doc
FROM b
GROUP BY split
"""


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with frequencies and doc frequencies (the
    tokenizer-training input)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


VOCAB_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents)
SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks
GROUP BY tok
"""


_ZIPF_V = 200  # fit over the top-V terms (bounded lattice; the tail is noise)


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-``_ZIPF_V`` vocabulary (r12): OLS of
    ln(tf) on ln(rank) — natural-language corpora fit slope ≈ −1 with
    high R²; a drifting slope or collapsing R² flags templated/
    machine-generated/boilerplate-heavy corpora (a standard corpus-
    health diagnostic). One row: n_terms, slope, intercept, r2.

    Engine-exact by the ``docs_char_entropy`` device: every
    transcendental (ln) is applied to INTEGER-derived values (ranks
    and term frequencies), so both engines produce bit-identical
    doubles; the five OLS sums accumulate those doubles in
    DECIMAL(30,12) (order-independent), and the closed-form
    slope/intercept/R² are a fixed sequence of IEEE ops on identical
    inputs, tie-safe rounded for display.

    Reading on THIS testdata: the synthetic corpus draws from a ~31
    word pool near-uniformly, so the fit honestly reports the
    non-Zipfian profile (slope ≈ −0.18, R² ≈ 0.06) — the diagnostic
    working as designed; the planted-Zipfian pytest pins slope ≈ −1 /
    R² ≈ 1 on a corpus that IS Zipfian. Scale shape: one
    map-side-combined term count, a TakeOrdered top-V (never a global
    sort), then V-row math — the rank window's single partition is
    the bounded ``_ZIPF_V``-row artifact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_TOKENS)).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "tok")
        .limit(_ZIPF_V)
    )
    xy = top.select(
        F.expr("ln(CAST(row_number() OVER (ORDER BY tf DESC, tok) AS DOUBLE))").alias("x"),
        F.expr("ln(CAST(tf AS DOUBLE))").alias("y"),
    )
    dec = "decimal(30,12)"
    sums = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate-corpus zero guard (r12 advice): a single distinct term
    # (denx = 0) or all-equal top-V frequencies (deny = 0) would make
    # slope/r2 a 0/0 double — Spark yields NaN while DuckDB's result
    # depends on its ieee_floating_point_ops setting, so both engines
    # declare NULL explicitly instead of dividing
    slope = F.when(denx != 0, num / denx)
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        round_ties_safe(slope, 6).alias("zipf_slope"),
        round_ties_safe((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
        round_ties_safe(
            F.when((denx != 0) & (deny != 0), num * num / (denx * deny)), 6
        ).alias("r2"),
    )


ZIPF_SQL = f"""
WITH toks AS (SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents),
top AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
  ORDER BY tf DESC, tok LIMIT {_ZIPF_V}
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, tok) AS DOUBLE)) AS x,
         ln(CAST(tf AS DOUBLE)) AS y
  FROM top
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(30,12))) AS DOUBLE) AS syy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       {round_ties_safe_sql("CASE WHEN n * sxx - sx * sx <> 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END", 6)} AS zipf_slope,
       {round_ties_safe_sql("(sy - (CASE WHEN n * sxx - sx * sx <> 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx) / n", 6)} AS zipf_intercept,
       {round_ties_safe_sql("CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN (n * sxy - sx * sy) * (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END", 6)} AS r2
FROM s
"""


def repetition_score_df(docs: DataFrame) -> DataFrame:
    """Within-document repetition (Gopher-style quality filter): the
    fraction of word trigrams that are duplicates of an earlier trigram
    in the same doc. Tokens/trigrams are materialized as their own
    projections — inlining them into every consumer re-evaluates the
    regexp per use (the measured 150x trap, docs/PERF.md)."""
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    tg = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, greatest(size(t) - 2, 1)), "
            "i -> array_join(slice(t, i, 3), ' '))"
        ).alias("tg"),
    )
    return tg.select(
        "doc_id",
        F.expr("CAST(size(tg) AS BIGINT)").alias("n_trigrams"),
        F.expr("CAST(size(array_distinct(tg)) AS BIGINT)").alias("n_distinct_trigrams"),
        F.expr(
            round_ties_safe_sql("1.0 - size(array_distinct(tg)) / CAST(size(tg) AS DOUBLE)", 4)
        ).alias("dup_trigram_frac"),
    )


def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_score_df(load_table(spark, sf_dir, "documents"))


REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents),
tg AS (
  SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 1) + 1),
         i -> array_to_string(t[i:i+2], ' ')) AS tg
  FROM toks
)
SELECT doc_id,
       CAST(len(tg) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct_trigrams,
       {round_ties_safe_sql("1.0 - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE)", 4)} AS dup_trigram_frac
FROM tg
"""


# PII patterns. Spark SQL single-quoted literals process backslash
# escapes ('\\.' -> \.), DuckDB literals do not — hence two spellings.
_EMAIL_SPARK = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}"
_EMAIL_DUCK = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scan_df(docs: DataFrame) -> DataFrame:
    """PII detection + redaction (emails, phone numbers): counts per
    doc plus an md5 of the redacted text (cheap equality witness — the
    full redacted corpus would be the real sink at scale). Pure regexp,
    stays in codegen."""
    redacted = (
        f"regexp_replace(regexp_replace(text, '{_EMAIL_SPARK}', '<EMAIL>'), "
        f"'{_PHONE}', '<PHONE>')"
    )
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size(regexp_extract_all(text, '{_EMAIL_SPARK}', 0)) AS BIGINT)").alias(
            "n_emails"
        ),
        F.expr(f"CAST(size(regexp_extract_all(text, '{_PHONE}', 0)) AS BIGINT)").alias(
            "n_phones"
        ),
        F.expr(f"md5({redacted})").alias("redacted_md5"),
    )


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan_df(load_table(spark, sf_dir, "documents"))


PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_DUCK}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_DUCK}', '<EMAIL>', 'g'),
           '{_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM documents
"""


def docs_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag corpus docs sharing any
    word-5-gram with a (small) benchmark set — the pre-training hygiene
    scan. The benchmark side is deterministically doc_id % 97 == 0
    here; in production it is the eval suites. Scale shape: benchmark
    shingles BROADCAST to the corpus-shingle stream (the corpus side —
    the 100 TB side — is never shuffled), per-doc distinct shingles
    bound the join fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(size(t) - 4, 1)), "
                "i -> array_join(slice(t, i, 5), ' ')))"
            )
        ).alias("shingle"),
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )


CONTAMINATION_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, count(*) AS n_contaminated
FROM sh s JOIN bench b USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


_SEQ_LEN = 512
_PACK_BUCKETS = 32


def pack_sequences_df(docs: DataFrame, seq_len: int = _SEQ_LEN,
                      buckets: int = _PACK_BUCKETS) -> DataFrame:
    """Training-sequence packing: every doc's GLOBAL token offset in
    doc_id order, and the fixed-length sequence ids its tokens land in
    (concatenate-then-chunk pretraining layout).

    A naive global cumsum is a window over ONE partition — the whole
    corpus through a single task. This is the distributed prefix-sum
    instead:

    1. per-doc token counts (codegen);
    2. docs hashed into ``buckets`` doc_id-range buckets; per-bucket
       totals (tiny: one row per bucket) come to the driver;
    3. exclusive prefix over bucket totals broadcasts back as the
       bucket's base offset;
    4. the cumsum window runs PER BUCKET (partitionBy bucket), so the
       widest window partition is corpus/buckets — pick buckets ~
       cluster parallelism at scale.

    The DuckDB oracle computes the same offsets with one global window,
    which is exactly the luxury a single-node engine has and Spark
    must not emulate.

    Cross-engine gotcha (the r5 driver-red root cause): DuckDB's
    ``sum`` over BIGINT yields HUGEINT (int128), and the pandas/Arrow
    fetch path materializes HUGEINT as float64 — so an un-cast oracle
    hands a type-sensitive value hasher ``32.0`` where Spark says
    ``32``. Row counts and lenient schema checks still pass, which is
    exactly the r5 symptom (rows ✓ schema ✓ hash ✗, local
    ``fetchall``-style compare green). PACK_SQL therefore CASTs every
    sum-derived column back to BIGINT; ``tests/test_oracle_parity.py::
    test_oracle_dtype_kinds_match`` guards the whole registry against
    this class."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n_tokens")
    )
    max_id = toks.agg(F.max("doc_id")).first()[0] or 0
    span = (int(max_id) + buckets) // buckets  # ceil((max_id+1)/buckets)
    # integer DIV, not double divide-then-cast: exact for doc_ids past
    # 2^53 where float64 spacing would misassign boundary docs
    toks = toks.withColumn("bucket", F.expr(f"doc_id DIV {span}"))
    totals = dict(
        toks.groupBy("bucket").agg(F.sum("n_tokens").alias("t")).collect()
    )  # <= `buckets` rows: bounded driver traffic by construction
    bases, acc = {}, 0
    for b in range(buckets + 1):
        bases[b] = acc
        # a bucket of all-NULL-text docs sums to NULL, not 0: the key
        # exists, so .get(b, 0) would still hand int() a None
        acc += int(totals.get(b) or 0)
    base_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in bases.items() for x in kv]),
        F.col("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn(
            "token_offset", base_expr + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "n_tokens",
            "token_offset",
            F.expr(f"token_offset DIV {seq_len}").alias("first_seq"),
            F.expr(
                f"(token_offset + greatest(n_tokens, 1) - 1) DIV {seq_len}"
            ).alias("last_seq"),
        )
    )


_CHUNK_W = 128  # tokens per chunk window
_CHUNK_S = 96  # stride (32-token overlap between consecutive chunks)


def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking — the RAG-indexing /
    long-context-training sibling of ``docs_pack_sequences``: each
    document's token sequence is cut into ``_CHUNK_W``-token windows
    at ``_CHUNK_S``-token stride (trailing windows run short), with
    provenance (doc_id, chunk_idx, start_tok) and a portable content
    hash of the chunk text so the oracle value-checks the actual chunk
    CONTENT, not just offsets. Pure Catalyst: sequence + explode +
    slice — per-doc fan-out is ceil(n/stride), no shuffle at all
    (embarrassingly parallel over docs; chunk_idx = start/stride needs
    no window function)."""
    from deker_server_adapters_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    exploded = toks.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(0, n - 1, {_CHUNK_S})")).alias("start"),
    )
    chunk = F.expr(f"slice(toks, start + 1, {_CHUNK_W})")
    return exploded.select(
        "doc_id",
        (F.col("start") / _CHUNK_S).cast("int").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        h64(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def _chunk_overlap_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h64_sql

    chunk = f"array_to_string(list_slice(toks, start + 1, least(start + {_CHUNK_W}, n)), ' ')"
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks, len({_TOKENS_DUCK}) AS n FROM documents
), s AS (
  SELECT doc_id, toks, n, CAST(u.start AS BIGINT) AS start
  FROM t, UNNEST(range(0, n, {_CHUNK_S})) u(start)
  WHERE n > 0
)
SELECT doc_id,
       CAST(start // {_CHUNK_S} AS INT) AS chunk_idx,
       start AS start_tok,
       CAST(len(list_slice(toks, start + 1, least(start + {_CHUNK_W}, n))) AS BIGINT) AS n_tokens,
       {h64_sql(chunk)} AS chunk_hash
FROM s
"""


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences_df(load_table(spark, sf_dir, "documents"))


PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         -- sum(BIGINT) is HUGEINT in DuckDB; un-cast it reaches pandas
         -- as float64 and breaks type-sensitive value hashes (r5 red)
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS token_offset
  FROM t
)
SELECT doc_id, n_tokens, token_offset,
       CAST(token_offset // {_SEQ_LEN} AS BIGINT) AS first_seq,
       CAST((token_offset + greatest(n_tokens, 1) - 1) // {_SEQ_LEN} AS BIGINT)
           AS last_seq
FROM o
"""


def docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Scale shape: tf is one
    shuffle on (doc_id, tok) with map-side combine; document
    frequencies are a vocabulary-sized table BROADCAST back onto the
    tf stream (the corpus-sized side never reshuffles for the join);
    ranking windows on doc_id. Ranking orders by the ROUNDED score
    with the token as tiebreak so both engines rank identically.
    Cross-engine caveat: ln() is a single per-row transcendental (not
    an accumulation, so the dsum rule doesn't apply) — JVM and libm
    may differ by 1 ulp, which only matters if tf*ln(N/df) lands
    within half an ulp of a 1e-4 rounding boundary (~1e-12/row)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # 1-row corpus total as a broadcast cross join (the oracle's CROSS
    # JOIN n shape) — not an eager .count(): no synchronous driver
    # action in the builder, the whole op stays lazy (the decay-op
    # device, events.py:877).
    nd = docs.agg(F.count("*").cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            round_ties_safe(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", F.col("rn").cast("long").alias("rank"))
    )


TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.tok, {round_ties_safe_sql("tf.tf * ln(n.n / dfreq.df)", 4)} AS tfidf
  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
)
SELECT doc_id, tok, tfidf, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn FROM s)
WHERE rn <= 3
"""


def quality_rules_spark() -> tuple[str, str, str, str]:
    """The four rule sub-expressions over columns ``t`` (token array)
    and ``text`` — shared by ``docs_quality_filter`` and the composed
    ``docs_dedup_pipeline`` so the two can never drift."""
    sw = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_tokens = "size(t)"
    mean_len = f"length(array_join(t, '')) / CAST({n_tokens} AS DOUBLE)"
    punct = "length(regexp_replace(text, '[^.!?,;:#]', '')) / CAST(length(text) AS DOUBLE)"
    has_stop = f"size(filter(t, x -> x IN ({sw}))) > 0"
    return n_tokens, mean_len, punct, has_stop


def quality_keep_spark() -> str:
    n_tokens, mean_len, punct, has_stop = quality_rules_spark()
    return (
        f"({n_tokens} BETWEEN 12 AND 90) AND ({mean_len} BETWEEN 4.0 AND 5.0)"
        f" AND ({punct} <= 0.2) AND ({has_stop})"
    )


def quality_rules_duck() -> tuple[str, str, str, str]:
    sw = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_tokens = "len(t)"
    mean_len = f"length(array_to_string(t, '')) / CAST({n_tokens} AS DOUBLE)"
    punct = (
        "length(regexp_replace(text, '[^.!?,;:#]', '', 'g')) / CAST(length(text) AS DOUBLE)"
    )
    has_stop = f"len(list_filter(t, x -> x IN ({sw}))) > 0"
    return n_tokens, mean_len, punct, has_stop


def quality_keep_duck() -> str:
    n_tokens, mean_len, punct, has_stop = quality_rules_duck()
    return (
        f"({n_tokens} BETWEEN 12 AND 90) AND ({mean_len} BETWEEN 4.0 AND 5.0)"
        f" AND ({punct} <= 0.2) AND ({has_stop})"
    )


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-chain document filter: each rule is an
    independent boolean column plus the combined keep decision, so a
    pipeline can audit WHY a doc was dropped (per-rule pass rates are
    one groupBy away). All rules are codegen'd Catalyst expressions
    over one scan — rule count adds CPU, not passes over the data.

    Rules (thresholds follow the published Gopher heuristics, adapted
    to the synthetic corpus): token-count bounds, mean-token-length
    bounds, punctuation-density cap, must-contain-a-stopword."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"), "text")
    n_tokens, mean_len, punct, has_stop = quality_rules_spark()
    return toks.select(
        "doc_id",
        F.expr(f"{n_tokens} BETWEEN 12 AND 90").alias("rule_word_count"),
        F.expr(f"{mean_len} BETWEEN 4.0 AND 5.0").alias("rule_mean_word_len"),
        F.expr(f"{punct} <= 0.2").alias("rule_punct_ratio"),
        F.expr(has_stop).alias("rule_has_stopword"),
        F.expr(
            f"({n_tokens} BETWEEN 12 AND 90) AND ({mean_len} BETWEEN 4.0 AND 5.0)"
            f" AND ({punct} <= 0.2) AND ({has_stop})"
        ).alias("keep"),
    )


def _quality_filter_sql() -> str:
    n_tokens, mean_len, punct, has_stop = quality_rules_duck()
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS t, text FROM documents)
SELECT doc_id,
       {n_tokens} BETWEEN 12 AND 90 AS rule_word_count,
       {mean_len} BETWEEN 4.0 AND 5.0 AS rule_mean_word_len,
       {punct} <= 0.2 AS rule_punct_ratio,
       {has_stop} AS rule_has_stopword,
       ({n_tokens} BETWEEN 12 AND 90) AND ({mean_len} BETWEEN 4.0 AND 5.0)
           AND ({punct} <= 0.2) AND ({has_stop}) AS keep
FROM toks
"""


_LM_MAX_BIGRAMS = 200_000


def docs_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model scoring (perplexity-style quality
    signal): MLE word-bigram model fit on the corpus itself, then each
    document scored as mean log P(w_i | w_{i-1}).

    Scale shape: per-doc bigram counts are one (doc_id, w1, w2)
    shuffle with map-side combine; the model is a vocabulary-bigram
    table derived from the SAME exploded stream (one extra agg, no
    second scan), capped at the top-``_LM_MAX_BIGRAMS`` types so the
    BROADCAST is bounded by construction (a no-op below the cap), and
    joined back broadcast — the corpus-sized side never reshuffles. Mean logprob
    is a double accumulation rounded to 1e-4 (same cross-engine
    boundary-risk class as docs_tfidf_topk, ~1e-12/doc)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t")).filter(
        F.expr("size(t) >= 2")
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("n"))
    model = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    # Bound the broadcast BY CONSTRUCTION, not by hope: keep the top-M
    # bigram types (deterministic order: count desc, then lexicographic).
    # At test SFs the corpus has < M types so results are unchanged; at
    # 100 TB this is the cap that keeps the model broadcastable, and
    # out-of-model bigrams simply drop out of a doc's scored mass.
    model = (
        model.orderBy(F.desc("c_ab"), "w1", "w2").limit(_LM_MAX_BIGRAMS)
    )
    uni = model.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    probs = model.join(uni, "w1").select(
        "w1", "w2", (F.col("c_ab") / F.col("c_a")).alias("p")
    )
    return (
        doc_bg.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            round_ties_safe(F.sum(F.col("n") * F.log("p")) / F.sum("n"), 4).alias(
                "avg_logprob"
            ),
        )
    )


NGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(len(t) - 1),
                i -> {{'w1': t[i + 1], 'w2': t[i + 2]}})) AS s
  FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg
), doc_bg AS (
  SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY doc_id, w1, w2
), model AS (
  SELECT w1, w2, count(*) AS c_ab FROM pairs GROUP BY w1, w2
  ORDER BY c_ab DESC, w1, w2 LIMIT {_LM_MAX_BIGRAMS}
), uni AS (
  SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM model GROUP BY w1
), probs AS (
  SELECT m.w1, m.w2, m.c_ab / CAST(u.c_a AS DOUBLE) AS p
  FROM model m JOIN uni u ON m.w1 = u.w1
)
SELECT d.doc_id,
       CAST(sum(d.n) AS BIGINT) AS n_bigrams,
       {round_ties_safe_sql("sum(d.n * ln(p.p)) / sum(d.n)", 4)} AS avg_logprob
FROM doc_bg d JOIN probs p ON d.w1 = p.w1 AND d.w2 = p.w2
GROUP BY d.doc_id
"""


_SOURCE_CAP = 40


def docs_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap: keep at most
    ``_SOURCE_CAP`` docs per source, chosen by md5 rank — the
    domination guard every mixing recipe applies so one giant crawl
    source can't swamp the corpus, reproducible across runs/engines
    (no RNG state, the same device as the sampling family).

    Scale shape: one row_number window per SOURCE partition (bounded
    parallel units, never a global sort); the hash ranks are
    uniform so the kept set is an unbiased size-capped sample."""
    from pyspark.sql import Window

    from deker_server_adapters_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(h64(F.col("doc_id")), "doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("keep_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("keep_rank") <= _SOURCE_CAP)
    )


def _per_source_cap_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h64_sql

    return f"""
SELECT doc_id, source, keep_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY {h64_sql("doc_id")}, doc_id) AS BIGINT)
             AS keep_rank
  FROM documents
) t WHERE keep_rank <= {_SOURCE_CAP}
"""


def docs_bpe_encode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to ENCODE every document and
    report per-doc token counts before/after — the apply half of the
    tokenizer-training story (``text_bpe_merges`` learns the table;
    this measures the compression it buys on the corpus).

    Scale shape: the merge table is k driver rows compiled into k
    chained O(1) merge expressions (the same boundary-aware forms the
    trainer uses), so encoding is one map-only pass — no shuffle, no
    Python. Rows-only (the merge table comes from the iterative
    trainer, not SQL); encode parity vs the canonical reference is
    pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merge_table(docs)
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("w")).filter(
        "w != ''"
    )
    # one projection STAGE per merge, each over the plain `s` column —
    # nesting all k merges into a single expression multiplies
    # sub-expression copies 3x per layer (the merge form references its
    # input three times) and blows up analysis; per-stage, `s` is a
    # cheap attribute that CollapseProject keeps un-inlined, so the
    # whole chain stays one map-only codegen pipeline of k steps
    enc = toks.select(
        "doc_id",
        F.length("w").cast("long").alias("n_chars"),
        F.expr("filter(split(w, ''), c -> c != '')").alias("s"),
    )
    for _, a, b, _n in merges:
        enc = enc.select(
            "doc_id", "n_chars", _bpe_apply_merge(F.col("s"), a, b).alias("s")
        )
    return (
        enc.select("doc_id", "n_chars", F.size("s").cast("long").alias("n_bpe"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
    )


def docs_lm_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiers: per-source head/middle/tail thirds by
    corpus-LM score — the standard pretraining-curation split (CCNet
    buckets each shard by LM perplexity; the shard here is ``source``).

    Scale shape: ``ntile(3)`` runs per SOURCE partition — bounded
    parallel units, never a global SinglePartition sort — ordered by
    (avg_logprob desc, doc_id) so ties are deterministic and both
    engines assign identical tiers (ntile's extra-row rule is the same
    front-loaded one in Spark and DuckDB). Docs with no in-model
    bigrams carry no score and drop out in both engines. Output is the
    per-(source, tier) summary a curation run actually consumes."""
    from pyspark.sql import Window

    scored = docs_ngram_lm_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = scored.join(docs, "doc_id")
    w = Window.partitionBy("source").orderBy(F.desc("avg_logprob"), "doc_id")
    return (
        j.withColumn("tier", F.ntile(3).over(w).cast("long"))
        .groupBy("source", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("avg_logprob").alias("best_logprob"),
            F.min("avg_logprob").alias("worst_logprob"),
        )
    )


LM_TIERS_SQL = f"""
WITH scored AS ({NGRAM_LM_SQL}),
j AS (
  SELECT s.doc_id, s.avg_logprob, d.source
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
), t AS (
  SELECT source, avg_logprob,
         CAST(ntile(3) OVER (PARTITION BY source
                             ORDER BY avg_logprob DESC, doc_id) AS BIGINT) AS tier
  FROM j
)
SELECT source, tier, count(*) AS n_docs,
       max(avg_logprob) AS best_logprob,
       min(avg_logprob) AS worst_logprob
FROM t GROUP BY source, tier
"""


def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix over the LID
    heuristic — the evaluation companion to ``text_lang_id`` (at most
    |langs|^2 rows out of one agg; the per-doc scores never leave the
    executors)."""
    return (
        text_lang_id(spark, sf_dir)
        .groupBy(
            F.col("labeled_lang"),
            F.coalesce("predicted_lang", F.lit("unknown")).alias("predicted_lang"),
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _lang_confusion_sql() -> str:
    return f"""
WITH lid AS ({_lang_id_sql()})
SELECT labeled_lang, COALESCE(predicted_lang, 'unknown') AS predicted_lang,
       count(*) AS n_docs
FROM lid
GROUP BY labeled_lang, COALESCE(predicted_lang, 'unknown')
"""


_BPE_MERGES = 8


def _bpe_apply_merge(s, a: str, b: str):
    """One canonical BPE merge pass over a symbol ARRAY: left-to-right,
    greedy, non-overlapping, and boundary-aware — a pair only matches
    two WHOLE adjacent symbols. (The previous string-``replace`` form
    matched across symbol boundaries: with symbols ``['d','es']`` the
    space-joined text ``'d es'`` contains ``'d e'``, so merge (d,e)
    wrongly fired on the never-learned pair (d,es) and corrupted pair
    counts from round 2 on.) Expression size is O(1) per round, so
    merge count is bounded by compute, not codegen limits.

    Two formulations, same semantics:

    - ``a != b`` (the overwhelming case): matches CANNOT overlap (an
      element ending one match and starting the next would need
      ``a == b``), so the greedy pass equals the SIMULTANEOUS rewrite —
      one O(n) indexed ``transform`` (merge starts become the pair,
      absorbed right elements become NULL) + ``filter``. Subscripts are
      bounds-guarded for ANSI mode.
    - ``a == b``: overlaps are real (``aaa`` merges only the first
      two), so a sequential O(n^2-in-word-length) fold keeps the exact
      greedy semantics; merge pairs with equal sides are rare and words
      are short, so this path stays cheap."""
    if a != b:
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
        # F.get is the null-safe subscript: out-of-bounds (incl. i-1 at
        # the first element) yields NULL, the comparison stays not-true,
        # and the element passes through unchanged — ANSI-safe.
        marked = F.transform(
            s,
            lambda x, i: F.when((x == la) & (F.get(s, i + 1) == lb), lab)
            .when((x == lb) & (F.get(s, i - 1) == la), F.lit(None))
            .otherwise(x),
        )
        return F.filter(marked, lambda x: x.isNotNull())
    return F.aggregate(
        s,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_top_pair(enc: DataFrame):
    """One BPE round's action: the corpus-wide most frequent adjacent
    symbol pair (count desc, pair asc tiebreak) as a Row(a, b, n), or
    None when no pair occurs at least twice. Reads every partition of
    ``enc``, so it materializes a lazy cut of it."""
    rows = (
        # guard: a fully-merged (or 1-char) word has no adjacent pair;
        # sequence(0, -1) would generate a DESCENDING range and
        # fabricate null-symbol pairs
        enc.filter(F.expr("size(s) >= 2"))
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2),"
                    " i -> struct(s[i] AS a, s[i+1] AS b))"
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(1)
        .collect()
    )
    return rows[0] if rows and rows[0].n >= 2 else None


def bpe_merge_table(docs: DataFrame, k: int = _BPE_MERGES) -> list[tuple[int, str, str, int]]:
    """Learn the first ``k`` BPE merges over the corpus, distributed.

    Classic BPE tokenizer training: start from characters (within
    words), repeatedly count adjacent symbol pairs corpus-wide and
    merge the most frequent pair (count desc, pair asc tiebreak). The
    working state is the encoded symbol-array column, one
    ``localCheckpoint`` generation per round: each round applies
    exactly ONE new merge to the previous generation (an O(1)-size
    fold expression, see ``_bpe_apply_merge``) and runs one pair-count
    aggregate; only the single top pair comes back to the driver per
    round, so driver traffic is k rows total. At 100 TB each round is
    one pass over the cut encodings — exactly how production BPE
    trainers distribute (the count table is the shuffle; symbols
    never leave the executors).

    Round state follows ``plans.lineage``: each generation is a lazy
    cut that the round's top-pair ``collect`` materializes, after
    which the previous generation is released, and the last one is
    released before returning (the result is a Python list). Every
    round's plan is one projection over a leaf, so k in the hundreds
    is a parameter choice, not a caveat (k=256 pinned by test).
    Local checkpoints trade executor-loss recoverability for lineage
    truncation — the right trade for a trainer whose full restart is
    cheap."""
    # r17 (guide §2.3, aggregate before you shuffle): train on the WORD
    # FREQUENCY table, not the raw occurrence stream — a pair's corpus
    # count is Σ_words freq(word)·occurrences-in-word, so every round's
    # pass shrinks from corpus-size to vocabulary-size (Heaps-bounded at
    # 100 TB) while counts, tiebreaks and the learned table stay
    # byte-identical (pytest-pinned vs the pure-Python reference).
    # Merges are applied WITHOUT re-grouping: two distinct words can
    # collapse to the same symbol array after a merge, but weighted
    # counts are unchanged by duplicate rows and the table never grows.
    # The localCheckpoint cuts the aggregate OUT of the per-round
    # lineage: with the aggregate left inline, each round's plan chains
    # the 3-reference merge expression over it and the optimizer's
    # project-collapse inlines it multiplicatively (3^rounds plan-string
    # blowup, OOMs the driver around k≈64 — measured); over a leaf, the
    # round chain stays the same O(1)-per-round shape the un-weighted
    # form had.
    enc = (
        docs.select(F.explode(F.expr(_TOKENS)).alias("w"))
        .filter("w != ''")
        .select(F.expr("filter(split(w, ''), c -> c != '')").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    top = _bpe_top_pair(enc) if k > 0 else None
    while top is not None:
        merges.append((len(merges), top.a, top.b, int(top.n)))
        if len(merges) == k:
            break
        nxt = enc.select(
            _bpe_apply_merge(F.col("s"), top.a, top.b).alias("s"), "freq"
        ).localCheckpoint(eager=False)
        top = _bpe_top_pair(nxt)
        release(enc)
        enc = nxt
    release(enc)
    return merges


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table as a DataFrame (rank, left, right,
    pair_count) — rows-only (iterative; no SQL-expressible oracle),
    byte-identical to a pure-Python reference trainer by pytest."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merge_table(docs)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


_PMI_VOCAB = 100
_PMI_MIN_DOCS = 5


def text_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of term co-occurrence (within-doc),
    restricted to the top-``_PMI_VOCAB`` corpus terms.

    Scale shape: the vocabulary cap is what makes this tractable — the
    top-V term list is a bounded BROADCAST, per-doc distinct terms are
    then at most V, and the within-doc pair self-join fans out at most
    V^2/2 per doc (a constant). Doc frequencies broadcast back onto
    the pair stream. PMI ranks collocations for phrase mining /
    tokenizer merges."""
    docs = load_table(spark, sf_dir, "documents")
    # 1-row corpus total, broadcast-cross-joined into the pair stream
    # (the oracle's CROSS JOIN n shape) — no eager .count() in the
    # builder; the whole op stays lazy (the decay-op device).
    nd = docs.agg(F.count("*").cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "tok")
        .limit(_PMI_VOCAB)
        .select("tok")
    )
    dt = toks.join(F.broadcast(vocab), "tok").select("doc_id", "tok").distinct()
    dfreq = dt.groupBy("tok").agg(F.count("*").alias("df"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_DOCS)
    )
    return (
        pairs.join(
            F.broadcast(dfreq.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            round_ties_safe(
                F.log(
                    (F.col("n_ab") * F.col("n_docs"))
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                4,
            ).alias("pmi"),
        )
    )


PMI_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents),
vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
  ORDER BY tf DESC, tok LIMIT {_PMI_VOCAB}
),
dt AS (SELECT DISTINCT t.doc_id, t.tok FROM toks t SEMI JOIN vocab v ON t.tok = v.tok),
dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY tok_a, tok_b
  HAVING count(*) >= {_PMI_MIN_DOCS}
)
SELECT p.tok_a, p.tok_b, p.n_ab,
       {round_ties_safe_sql("ln((p.n_ab * n.n_docs) / CAST(da.df * db.df AS DOUBLE))", 4)} AS pmi
FROM pairs p
JOIN dfreq da ON p.tok_a = da.tok
JOIN dfreq db ON p.tok_b = db.tok
CROSS JOIN n
"""


def docs_source_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mix: doc count, exact token count, and token
    SHARE — the data-mixing dashboard behind training-set weighting
    (what fraction of the token budget each source contributes). Exact
    integer counts in one groupBy; the share divides against a 1-row
    total broadcast-cross-joined in (lazy, no driver action — the
    decay-op device). At 100 TB this is one map-side-combined agg over
    the scan: |sources| rows ever shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr(f"size({_TOKENS})").cast("long")).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        round_ties_safe(F.col("n_tokens") / F.col("tot").cast("double"), 6).alias("token_share"),
    )


SOURCE_MIX_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CAST(len({_TOKENS_DUCK}) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
SELECT source, n_docs, n_tokens,
       {round_ties_safe_sql("n_tokens / CAST(tot AS DOUBLE)", 6)} AS token_share
FROM per CROSS JOIN tot
"""


# --- temperature-scaled source sampling weights (r14) -----------------

_MIX_ALPHA = 0.7  # the multilingual-sampling exponent (mBERT/XLM-R, public)


def docs_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the standard
    mixture-rebalancing step of multilingual / multi-source training
    pipelines (sample source s with probability proportional to
    ``n_tokens(s)^alpha``, alpha < 1 upweights small sources; the
    mBERT / XLM-R exponential-smoothing recipe, alpha = 0.7). Emits,
    per source: exact token counts, the temperature weight, and the
    EXPECTED EPOCHS over that source if one full token budget is
    drawn at these weights (weight x total_tokens / n_tokens) — the
    number a data engineer reads to see how hard a small source gets
    oversampled (epochs >> 1 flags memorization risk).

    Determinism across engines: ``pow`` runs on exact integer token
    counts cast to double (bit-identical inputs, same libm class as
    the entropy ops' ln — the house transcendental convention), its
    result is tie-safe-rounded to 1e-6 and accumulated in DECIMAL so
    the normalizing sum is order-independent; weights and epochs are
    derived from the ROUNDED values only. Scale shape: identical to
    ``docs_source_token_mix`` — one map-side-combined aggregate over
    the scan, |sources| rows ever shuffle, the totals ride a 1-row
    broadcast.

    Degenerate-source contract (ADVICE r14): a source whose docs all
    have empty token arrays (n_tokens = 0) is EXCLUDED — it cannot be
    sampled, and keeping it would make expected_epochs 0/0 -> NULL (and
    an all-empty corpus would zero totpw, nulling every weight). Both
    engines filter n_tokens > 0 BEFORE the normalizing sum, so the
    remaining weights still sum to 1; semantics pinned by
    tests/test_operators_semantics.py (zero-token-source case)."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.expr(f"size({_TOKENS})").cast("long")).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    pw = round_ties_safe(
        F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)), 6
    )
    per = per.withColumn("pw", pw.cast("decimal(38,6)"))
    tot = per.agg(
        F.sum("pw").alias("totpw"), F.sum("n_tokens").alias("tottok")
    )
    weight = round_ties_safe(
        F.col("pw").cast("double") / F.col("totpw").cast("double"), 6
    )
    joined = per.crossJoin(F.broadcast(tot)).withColumn("sample_weight", weight)
    return joined.select(
        "source",
        "n_docs",
        "n_tokens",
        "sample_weight",
        round_ties_safe(
            F.col("sample_weight")
            * F.col("tottok").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("expected_epochs"),
    )


SOURCE_TEMPERATURE_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CAST(len({_TOKENS_DUCK}) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), pw AS (
  SELECT source, n_docs, n_tokens,
         CAST({round_ties_safe_sql("pow(CAST(n_tokens AS DOUBLE), 0.7)", 6)} AS DECIMAL(38,6)) AS pw
  FROM per WHERE n_tokens > 0
), tot AS (
  SELECT sum(pw) AS totpw, CAST(sum(n_tokens) AS BIGINT) AS tottok FROM pw
), w AS (
  SELECT source, n_docs, n_tokens, tottok,
         {round_ties_safe_sql("CAST(pw AS DOUBLE) / CAST(totpw AS DOUBLE)", 6)} AS sample_weight
  FROM pw CROSS JOIN tot
)
SELECT source, n_docs, n_tokens, sample_weight,
       {round_ties_safe_sql("sample_weight * CAST(tottok AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS expected_epochs
FROM w
"""


# deterministic per-doc inclusion gate in basis points — a pure
# integer function of doc_id, shared by the batch op and the streaming
# twin (same device as docs_weighted_sample, distinct salt)
_TSAMPLE_GATE = (
    "CAST(conv(substr(md5(concat('tsample:', CAST(doc_id AS STRING))), 1, 8), 16, 10)"
    " AS BIGINT) % 10000"
)


def temperature_weight_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The |sources|-row temperature weight table with integer-bps
    inclusion probabilities — computed BATCH-side (the production
    cadence: weights derive from yesterday's corpus mix and apply to
    today's traffic), broadcastable into any doc scan or stream."""
    return docs_source_temperature_mix(spark, sf_dir).select(
        "source",
        F.least(
            F.lit(10000).cast("long"),
            round_ties_safe(F.col("expected_epochs") * 10000, 0).cast("long"),
        ).alias("p_bps"),
        "expected_epochs",
    )


def apply_temperature_gate(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Row-local sampling gate against a broadcast weight table —
    STATELESS, so it applies identically to a batch scan and a
    readStream (the streaming twin is this same function; pinned
    batch == stream in tests/test_streaming.py)."""
    return (
        docs.join(F.broadcast(weights), "source")
        .filter(F.expr(_TSAMPLE_GATE) < F.col("p_bps"))
        .select("doc_id", "source", "p_bps", "expected_epochs")
    )


def docs_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mix as an actual training corpus
    (r14 verdict item 6): each doc is kept with probability
    min(1, expected_epochs(source)) — the α=0.7 weights of
    ``docs_source_temperature_mix`` applied as deterministic per-doc
    hash gates (the ``docs_weighted_sample`` md5 device, keyed by the
    broadcast per-source weight table). Downweighted (large) sources
    are Bernoulli-thinned to their temperature share; oversampled
    (small) sources cap at p = 1 — a SAMPLE can only repeat docs at
    training time, so their >1 epochs ride along in ``p_bps`` /
    ``expected_epochs`` for the dataloader to apply, and every row
    carries its inclusion probability for Horvitz-Thompson
    reweighting.

    Determinism across engines: the gate is a pure integer function
    of doc_id (md5 hex -> int, basis points), and p_bps derives from
    the tie-safe-rounded expected_epochs by one more tie-safe round
    at 0 decimals — integers end to end once past the shared
    temperature arithmetic. Scale shape: the |sources|-row weight
    table (one map-side-combined agg) broadcasts onto the documents
    scan; the gate is row-local — the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    weights = temperature_weight_table(spark, sf_dir)
    return apply_temperature_gate(docs, weights)


TEMPERATURE_SAMPLE_SQL = f"""
WITH mix AS ({SOURCE_TEMPERATURE_SQL}),
w AS (
  SELECT source,
         least(CAST(10000 AS BIGINT),
               CAST({round_ties_safe_sql("expected_epochs * 10000", 0)} AS BIGINT)) AS p_bps,
         expected_epochs
  FROM mix
)
SELECT doc_id, d.source AS source, p_bps, expected_epochs
FROM documents d JOIN w ON d.source = w.source
WHERE CAST(CAST('0x' || substr(md5('tsample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 10000
      < p_bps
"""


# --- JSONL ingest parity (r15): the crawl-interchange source format ---


def _staged_jsonl_documents(spark: SparkSession, sf_dir: str) -> str:
    """Documents staged once per process as JSON Lines — the
    interchange format crawl/annotation pipelines actually deliver —
    so repeated executions time the READ path, not the staging write
    (the ``deker_datasource_read`` staging discipline)."""
    import os

    from deker_server_adapters_spark.sources.scratch import staged_dir

    root, staged = staged_dir("deker_spark_jsonl_", sf_dir)
    path = os.path.join(root, "documents.jsonl")
    if not staged:
        load_table(spark, sf_dir, "documents").write.mode("overwrite").json(path)
    return path


def docs_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source-format parity: documents round-trip through JSON
    Lines (write once per process, then ``spark.read.schema(...).json``
    — schema PINNED, never inferSchema, which at 100 TB is a second
    full pass over the data), then aggregate per source: doc count,
    exact total text length, and an order-free md5 text checksum.
    The ORACLE computes the same aggregate from the original PARQUET
    table — so any drift in the JSON path (escaping of quotes /
    newlines / unicode, column mix-ups, lossy types) is a value-hash
    mismatch, not a silent corruption. Scale shape: one JSONL scan,
    one map-side-combined aggregate; |sources| rows shuffle."""
    jsonl = _staged_jsonl_documents(spark, sf_dir)
    docs = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(jsonl)
    text_h = (
        "CAST(conv(substr(md5(text), 1, 8), 16, 10) AS BIGINT)"
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.expr(f"bit_xor({text_h})").alias("text_checksum"),
    )


JSONL_INGEST_SQL = """
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       bit_xor(CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) AS BIGINT)) AS text_checksum
FROM documents
GROUP BY source
"""


# --- character-level Shannon entropy (r9) -----------------------------

_LN2 = 0.6931471805599453


def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char), rolled
    up per (source, lang) — the classic cheap junk detector for
    training-data pipelines: binary-ish or base64 blobs score high,
    template/repetitive boilerplate scores low, natural text sits in a
    narrow band.

    Determinism across engines: per-doc entropy computes from INTEGER
    character counts only — H = (ln L − Σ c·ln c / L) / ln 2 — so the
    transcendental inputs are small integers (both engines call the
    same libm on the same args); each c·ln(c) term rounds to 1e-9 and
    accumulates in DECIMAL (order-independent), the per-doc H rounds
    to 1e-6, and the rollup mean decimal-accumulates the rounded H
    (the ``user_value_decay`` convention). Scale shape: one explode
    (linear in corpus chars), two map-side-combined groupBys — no
    windows, no driver materialization.

    Corpus assumption (ADVICE r9): "character" here is what
    ``split(text, '')`` yields — UTF-16 code units in Spark/Java vs
    grapheme clusters in DuckDB. On BMP text without combining marks
    or ZWJ emoji sequences (this corpus: ASCII-ish synthetic docs,
    pinned by the parity gate) the two agree; a corpus with such
    sequences would need a codepoint-explicit transform spelled
    identically in both engines before this oracle pairing holds."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("doc_id", "source", "lang", "ch").agg(
        F.count("*").alias("c")
    )
    per_doc = (
        cc.groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("c").cast("long").alias("L"),
            F.sum(
                round_ties_safe(F.col("c") * F.log(F.col("c")), 9).cast("decimal(38,9)")
            ).alias("S"),
        )
        .select(
            "source",
            "lang",
            round_ties_safe(
                (F.log(F.col("L")) - F.col("S").cast("double") / F.col("L"))
                / F.lit(_LN2),
                6,
            ).alias("h"),
        )
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        round_ties_safe(
            F.sum(F.col("h").cast("decimal(38,6)")).cast("double") / F.count("*"),
            4,
        ).alias("avg_entropy_bits"),
        F.min("h").alias("min_entropy_bits"),
        F.max("h").alias("max_entropy_bits"),
    )


CHAR_ENTROPY_SQL = f"""
WITH chars AS (
  SELECT doc_id, source, lang, unnest(string_split(text, '')) AS ch
  FROM documents
), cc AS (
  SELECT doc_id, source, lang, ch, count(*) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, source, lang, ch
), per_doc AS (
  SELECT doc_id, source, lang,
         CAST(sum(c) AS BIGINT) AS L,
         sum(CAST({round_ties_safe_sql("c * ln(c)", 9)} AS DECIMAL(38,9))) AS S
  FROM cc GROUP BY doc_id, source, lang
), h AS (
  SELECT source, lang,
         {round_ties_safe_sql(f"(ln(L) - CAST(S AS DOUBLE) / L) / {_LN2}", 6)} AS h
  FROM per_doc
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       {round_ties_safe_sql("CAST(sum(CAST(h AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 4)} AS avg_entropy_bits,
       min(h) AS min_entropy_bits, max(h) AS max_entropy_bits
FROM h GROUP BY source, lang
"""


OPS = {
    "text_token_count": Op("text_token_count", text_token_count, TOKEN_COUNT_SQL),
    "docs_char_entropy": Op(
        "docs_char_entropy",
        docs_char_entropy,
        CHAR_ENTROPY_SQL,
        description=(
            "per-doc char-level Shannon entropy (bits/char) from integer "
            "counts only, rolled up per (source, lang); junk/boilerplate "
            "detector"
        ),
    ),
    "docs_source_token_mix": Op(
        "docs_source_token_mix", docs_source_token_mix, SOURCE_MIX_SQL
    ),
    "docs_source_temperature_mix": Op(
        "docs_source_temperature_mix",
        docs_source_temperature_mix,
        SOURCE_TEMPERATURE_SQL,
        description=(
            "temperature-scaled (alpha=0.7) source sampling weights + "
            "expected epochs per source — the multilingual mixture "
            "rebalancing recipe; pow on exact integer counts, rounded "
            "then decimal-normalized"
        ),
    ),
    "docs_temperature_sample": Op(
        "docs_temperature_sample",
        docs_temperature_sample,
        TEMPERATURE_SAMPLE_SQL,
        description=(
            "the temperature mix materialized as a corpus: per-source "
            "p = min(1, expected_epochs) applied as a deterministic "
            "per-doc md5 gate, Horvitz-Thompson p_bps riding along"
        ),
    ),
    "docs_jsonl_ingest": Op(
        "docs_jsonl_ingest",
        docs_jsonl_ingest,
        JSONL_INGEST_SQL,
        description=(
            "JSONL source-format roundtrip: documents staged as JSON "
            "Lines, read back with a pinned schema, per-source "
            "count/length/md5-checksum aggregate replayed by the "
            "oracle from parquet — escaping or type drift hash-fails"
        ),
    ),
    "docs_lm_quality_tiers": Op(
        "docs_lm_quality_tiers", docs_lm_quality_tiers, LM_TIERS_SQL
    ),
    "docs_per_source_cap": Op(
        "docs_per_source_cap", docs_per_source_cap, _per_source_cap_sql()
    ),
    "docs_bpe_encode_lengths": Op(
        "docs_bpe_encode_lengths",
        docs_bpe_encode_lengths,
        None,
        description=(
            "BPE encode pass with the learned merge table (k map-only "
            "merge expressions); rows-only — trainer is iterative; "
            "encode parity pytest-pinned"
        ),
    ),
    "text_top_bigrams": Op("text_top_bigrams", text_top_bigrams, TOP_BIGRAMS_SQL),
    "text_vocabulary": Op("text_vocabulary", text_vocabulary, VOCAB_SQL),
    "text_zipf_fit": Op(
        "text_zipf_fit",
        text_zipf_fit,
        ZIPF_SQL,
        description=(
            f"Zipf's-law OLS over the top-{_ZIPF_V} vocabulary "
            "(ln tf ~ ln rank): slope/intercept/R2 corpus-health "
            "diagnostic; integer-derived transcendentals + decimal "
            "accumulation (the char-entropy device)"
        ),
    ),
    "docs_stratified_sample": Op(
        "docs_stratified_sample", docs_stratified_sample, STRATIFIED_SQL
    ),
    "docs_weighted_sample": Op(
        "docs_weighted_sample",
        docs_weighted_sample,
        WEIGHTED_SAMPLE_SQL,
        description=(
            "length-weighted Bernoulli sample via integer hash gate; "
            "p_bps column enables Horvitz-Thompson reweighting"
        ),
    ),
    "docs_train_val_test_split": Op(
        "docs_train_val_test_split", docs_train_val_test_split, SPLIT_SQL
    ),
    "text_quality_score": Op("text_quality_score", text_quality_score, _quality_sql()),
    "text_lang_id": Op("text_lang_id", text_lang_id, _lang_id_sql()),
    "text_fingerprint": Op("text_fingerprint", text_fingerprint, FINGERPRINT_SQL),
    "text_repetition_score": Op(
        "text_repetition_score", text_repetition_score, REPETITION_SQL
    ),
    "text_pii_scan": Op("text_pii_scan", text_pii_scan, PII_SQL),
    "docs_benchmark_contamination": Op(
        "docs_benchmark_contamination",
        docs_benchmark_contamination,
        CONTAMINATION_SQL,
        description=(
            "benchmark set here = doc_id % 97 == 0 (deterministic stand-in "
            "for eval suites); word-5-gram exact overlap, benchmark side "
            "broadcast"
        ),
    ),
    "docs_chunk_overlap": Op(
        "docs_chunk_overlap",
        docs_chunk_overlap,
        _chunk_overlap_sql(),
        description=(
            "RAG/long-context chunking: 128-token windows at 96-token "
            "stride with provenance + portable content hash; shuffle-"
            "free sequence/explode/slice"
        ),
    ),
    "docs_pack_sequences": Op(
        "docs_pack_sequences",
        docs_pack_sequences,
        PACK_SQL,
        description=(
            "seq_len=512, 32 doc_id-range buckets; pick buckets ~ cluster "
            "parallelism at scale (widest cumsum window = corpus/buckets)"
        ),
    ),
    "docs_quality_filter": Op(
        "docs_quality_filter",
        docs_quality_filter,
        _quality_filter_sql(),
        description=(
            "Gopher-style rule chain; per-rule booleans + combined keep so "
            "drop reasons are auditable with one groupBy"
        ),
    ),
    "docs_ngram_lm_score": Op(
        "docs_ngram_lm_score",
        docs_ngram_lm_score,
        NGRAM_LM_SQL,
        description=(
            "MLE word-bigram LM fit on the corpus, mean log-prob per doc; "
            "model capped at top-200k bigram types so the broadcast is "
            "bounded by construction"
        ),
    ),
    "docs_lang_confusion": Op(
        "docs_lang_confusion", docs_lang_confusion, _lang_confusion_sql()
    ),
    "text_bpe_merges": Op(
        "text_bpe_merges",
        text_bpe_merges,
        None,
        description=(
            f"first {_BPE_MERGES} BPE merges learned corpus-wide; one "
            "map-only re-encode + one pair-count agg per round, k rows "
            "of driver traffic total; Python-reference parity pytest"
        ),
    ),
    "text_term_pmi": Op(
        "text_term_pmi",
        text_term_pmi,
        PMI_SQL,
        description=(
            f"within-doc co-occurrence PMI over the top-{_PMI_VOCAB} "
            "vocabulary (broadcast cap bounds the pair fan-out at V^2/2 "
            f"per doc); pairs in >= {_PMI_MIN_DOCS} docs"
        ),
    ),
    "docs_tfidf_topk": Op(
        "docs_tfidf_topk",
        docs_tfidf_topk,
        TFIDF_SQL,
        description=(
            "ranks by tie-safe round(tfidf,4) with token tiebreak; cross-engine ln() "
            "1-ulp boundary risk ~1e-12/row (per-row transcendental, not an "
            "accumulation)"
        ),
    ),
}
