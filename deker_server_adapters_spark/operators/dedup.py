"""Deduplication operators over ``documents`` / ``embeddings``.

Five families, each the standard large-corpus technique:

- exact:          hash-groupBy on normalized text (one shuffle).
- n-gram Jaccard: shingle inverted index self-join; a document-frequency
                  ceiling on shingles bounds the pair blowup (the same
                  role LSH banding plays) so the join never goes
                  quadratic in corpus size.
- MinHash + LSH:  K seeded min-hashes → bands → bucket join → verify on
                  signature agreement. Only bucket-mates are paired.
- SimHash:        64-bit sign-of-majority sketch (Manku et al. WWW'07);
                  near-dups = Hamming <= 3, candidates from pigeonhole
                  segment blocking (never an all-pairs join).
- embedding:      cosine >= threshold pairs among hyperplane-LSH bucket
                  candidates (deterministic planes, oracle-mirrored);
                  brute force survives only as the budget-gated test
                  twin ``dedup_embedding_exact``.

All hashing is the portable md5-prefix (``functions/hashing.py``) so
DuckDB verifies bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deker_server_adapters_spark.functions.histogram import (
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.operators import Op
from deker_server_adapters_spark.plans.lineage import release
from deker_server_adapters_spark.sources.tables import load_table

_NORM = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
_NORM_DUCK = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS = f"split({_NORM}, ' ')"
_TOKENS_DUCK = f"string_split({_NORM_DUCK}, ' ')"

# word 5-gram shingles
_SHINGLE_N = 5
_SHINGLES = (
    f"transform(sequence(1, greatest(size({_TOKENS}) - {_SHINGLE_N - 1}, 1)), "
    f"i -> array_join(slice({_TOKENS}, i, {_SHINGLE_N}), ' '))"
)
_SHINGLES_DUCK = (
    f"list_transform(range(1, greatest(len({_TOKENS_DUCK}) - {_SHINGLE_N - 1}, 1) + 1), "
    f"i -> array_to_string({_TOKENS_DUCK}[i:i+{_SHINGLE_N - 1}], ' '))"
)

_DF_CEILING = 200  # drop shingles present in more docs than this (stopword shingles)
_MINHASH_K = 12
_BAND_SIZE = 2

# MinHash permutations: one md5 per shingle, then K affine maps
# (a_k*h + b_k) mod P (Carter-Wegman). 12x less hashing than seeded
# md5 per permutation, and small enough to stay in one codegen unit.
# a_k*h < 2^21 * 2^32 < 2^53 — no BIGINT overflow in either engine.
_MH_P = 2147483647
_MH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869]
_MH_B = [7, 131, 523, 2053, 8209, 32771, 131101, 524309, 2097169, 8388617, 33554467, 134217757]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(f"md5({_NORM})").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc_id"))
    )


EXACT_SQL = f"""
SELECT md5({_NORM_DUCK}) AS text_hash,
       count(*) AS n_dups, min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY text_hash
"""


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens materialized first — inlining the split chain inside the
    # shingle lambda re-splits the text per element (O(n^2), see
    # minhash_signatures)
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(t) - {_SHINGLE_N - 1}, 1)), "
                    f"i -> array_join(slice(t, i, {_SHINGLE_N}), ' '))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs with word-5-gram Jaccard >= 0.5."""
    sh = _shingle_table(spark, sf_dir)
    # document-frequency ceiling: ubiquitous shingles carry no signal and
    # explode the join — same pruning a production pipeline applies.
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _DF_CEILING)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            round_ties_safe(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {_DF_CEILING}
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shr GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, n_common,
       {round_ties_safe_sql("n_common / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE)", 4)} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {round_ties_safe_sql("n_common / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE)", 4)} >= 0.5
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table: (doc_id, sig: array<long> of length K).

    One map-only pass, zero shuffles, fully whole-stage-codegen:
    hash every shingle under all K seeds in ONE ``transform`` (so the
    expensive split/regexp shingle chain is evaluated once per row —
    inlining it per seed measured 150x slower), then take the K
    column-mins. (min over the shingle *array* equals min over the
    distinct shingle *set*.) At 100 TB this is the difference between
    a map-only stage and an exploded 12x shuffle.
    """
    return minhash_signatures_df(load_table(spark, sf_dir, "documents"))


def minhash_signatures_df(
    docs: DataFrame, carry: "tuple[str, ...]" = ()
) -> DataFrame:
    """DF-level core of ``minhash_signatures`` — reusable over any
    (doc_id, text) relation (e.g. the quality-filtered corpus in
    ``docs_dedup_pipeline``). ``carry`` columns ride through the
    projection chain unchanged (the pipeline carries its per-doc
    decision bits so one pass produces both); a NULL ``text`` yields
    an all-NULL ``sig`` at ~zero cost (every transform short-circuits
    on the NULL array), which lets a caller mask non-participating
    rows instead of joining signatures back."""
    # Materialize tokens, then shingles, then base hashes as separate
    # projections: inlining the split/regexp chain inside the shingle
    # lambda makes Catalyst re-split the text per element (O(n^2)).
    ride = list(carry)
    toks = docs.select("doc_id", *ride, F.expr(_TOKENS).alias("t"))
    sh = toks.select(
        "doc_id",
        *ride,
        F.expr(
            f"transform(sequence(1, greatest(size(t) - {_SHINGLE_N - 1}, 1)), "
            f"i -> array_join(slice(t, i, {_SHINGLE_N}), ' '))"
        ).alias("shingles"),
    )
    hv = sh.select(
        "doc_id",
        *ride,
        F.expr(
            "transform(shingles, s -> CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT))"
        ).alias("hv"),
    )
    mins = ", ".join(
        f"array_min(transform(hv, h -> ({_MH_A[k]} * h + {_MH_B[k]}) % {_MH_P}))"
        for k in range(_MINHASH_K)
    )
    return hv.select("doc_id", *ride, F.expr(f"array({mins})").alias("sig"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(K=12)/LSH(band=2) near-dup pairs with signature-agreement
    estimate >= 0.5.

    Candidate pairs come only from shared LSH buckets, and the full
    signature array rides through the band self-join: both join sides
    are the SAME banded-signature subplan shuffled on (band, band_key),
    so Spark's exchange reuse materializes the signature build once and
    the verify step is a per-row ``zip_with`` — no join back to the
    signature table and no persisted intermediate whose lifecycle a
    caller would have to manage (the r3 cache-handle handoff is gone;
    ``tests/test_plans.py`` pins the ReusedExchange). The SHUFFLE_HASH
    hint matters: a broadcast self-join would *re-execute* the
    signature build to construct the broadcast side (no exchange to
    reuse) — measured 1.9x slower at sf0.1 despite the smaller table.
    """
    return minhash_pairs_df(load_table(spark, sf_dir, "documents"))


def minhash_pairs_df(docs: DataFrame) -> DataFrame:
    """DF-level core of ``dedup_minhash_lsh`` — near-dup pairs over any
    (doc_id, text) relation."""
    return minhash_pairs_from_sigs(minhash_signatures_df(docs))


def minhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Band/self-join/verify half of ``minhash_pairs_df`` over a
    precomputed (doc_id, sig) relation — split out (r18) so
    ``docs_dedup_pipeline`` can drive it from its checkpointed per-doc
    signature table instead of re-evaluating the corpus scan."""
    n_bands = _MINHASH_K // _BAND_SIZE
    # Band keys stay as raw long columns (k0..k{B-1}), not a concat_ws
    # string: the shuffle hashes/compares two longs instead of building
    # and hashing a string per banded row.
    key_cols = ", ".join(f"sig[{{b}}*{_BAND_SIZE} + {i}]" for i in range(_BAND_SIZE))
    stack_args = ", ".join(
        f"{b}, " + key_cols.format(b=b) for b in range(n_bands)
    )
    key_names = ", ".join(f"k{i}" for i in range(_BAND_SIZE))
    bands = sigs.select(
        "doc_id",
        "sig",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, {key_names})"),
    ).hint("SHUFFLE_HASH")
    a = bands.alias("a")
    b = bands.alias("b")
    # unrolled integer sum (K is a compile-time constant): the earlier
    # zip_with+aggregate fold ran interpreted per candidate row —
    # Catalyst does not codegen HOF lambdas (r17); integer addition is
    # order-exact so the unrolled chain is value-identical
    agree = F.expr(
        " + ".join(
            f"(CASE WHEN a.sig[{k}] = b.sig[{k}] THEN 1 ELSE 0 END)"
            for k in range(_MINHASH_K)
        )
    )
    est = round_ties_safe(agree / F.lit(float(_MINHASH_K)), 4).cast("double")
    # A pair sharing several bands would emit several rows; instead of
    # a trailing .distinct() (a whole extra shuffle over the pair
    # table), keep the row only at the FIRST band the signatures agree
    # on — computable per-row since both full sigs ride the join. A
    # codegen'd CASE chain, not filter(sequence...): Catalyst evaluates
    # HOF lambdas interpreted (r17, same lesson as dedup_simhash).
    band_whens = " ".join(
        "WHEN "
        + " AND ".join(
            f"a.sig[{bb * _BAND_SIZE + i}] = b.sig[{bb * _BAND_SIZE + i}]"
            for i in range(_BAND_SIZE)
        )
        + f" THEN {bb}"
        for bb in range(n_bands)
    )
    first_band = F.expr(f"CASE {band_whens} END")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for i in range(_BAND_SIZE):
        cond = cond & (F.col(f"a.k{i}") == F.col(f"b.k{i}"))
    return (
        a.join(b, cond)
        .filter(F.col("a.band") == first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )


_MH_SEEDS_VALUES = ", ".join(
    f"({k}, {_MH_A[k]}, {_MH_B[k]})" for k in range(_MINHASH_K)
)

MINHASH_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), hv AS (
  SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT) AS BIGINT) AS h
  FROM sh
), seeds(seed, a, b) AS (
  VALUES {_MH_SEEDS_VALUES}
), sigs AS (
  SELECT doc_id, CAST(seed AS INT) AS seed, min((a * h + b) % {_MH_P}) AS minh
  FROM hv, seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // {_BAND_SIZE} AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
GROUP BY doc_a, doc_b
HAVING {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} >= 0.5
"""


def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-batch) dedup: verdict each NEW document
    (deterministic split: doc_id % 5 == 4, ~20%) against the EXISTING
    corpus only — the production shape where yesterday's corpus is
    already deduped and today's delta must not rescan it pairwise.
    Two tiers, same devices as the batch family: an exact tier
    (normalized-text md5 equi-join against the old side's hash->min-id
    table) and a near tier (minhash band keys, NEW bands join OLD
    bands only — no old-vs-old and no new-vs-new pair work), verified
    at signature agreement >= 0.5. One row per new doc: the matched
    old doc per tier (min old id, NULL = no match) and the verdict.

    Scale shape: the delta is small relative to the corpus, so the
    band join's new side broadcasts in production (here Catalyst
    picks); the old side's hash and band tables are exactly what a
    curation pipeline would keep bucketed on disk between runs, making
    the daily job map-side — the docstring contract this op encodes.
    Signature agreement rides the band join (both sigs travel), so
    there is no join back to a signature table."""
    docs = load_table(spark, sf_dir, "documents")
    new_pred = (F.col("doc_id") % 5) == 4
    hashed = docs.select("doc_id", F.expr(f"md5({_NORM})").alias("text_hash"))
    old_hash = (
        hashed.filter(~new_pred)
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )
    exact = (
        hashed.filter(new_pred)
        .join(old_hash, "text_hash", "left")
        .select("doc_id", "exact_dup_of")
    )
    sigs = minhash_signatures_df(docs)
    n_bands = _MINHASH_K // _BAND_SIZE
    key_cols = ", ".join(f"sig[{{b}}*{_BAND_SIZE} + {i}]" for i in range(_BAND_SIZE))
    stack_args = ", ".join(f"{b}, " + key_cols.format(b=b) for b in range(n_bands))
    key_names = ", ".join(f"k{i}" for i in range(_BAND_SIZE))
    bands = sigs.select(
        "doc_id",
        "sig",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, {key_names})"),
    )
    bn = bands.filter(new_pred).alias("n")
    bo = bands.filter(~new_pred).alias("o")
    cond = F.col("n.band") == F.col("o.band")
    for i in range(_BAND_SIZE):
        cond = cond & (F.col(f"n.k{i}") == F.col(f"o.k{i}"))
    agree = F.aggregate(
        F.zip_with(
            F.col("n.sig"),
            F.col("o.sig"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = round_ties_safe(agree / F.lit(float(_MINHASH_K)), 4).cast("double")
    # pair-dedup via the FIRST matching band (both sigs ride the join),
    # not a trailing dropDuplicates — that would be a whole extra
    # shuffle over the pair table (the minhash_pairs_df device; keep
    # the two sites in sync if the banding scheme changes)
    band_match = " AND ".join(
        f"n.sig[bb*{_BAND_SIZE} + {i}] = o.sig[bb*{_BAND_SIZE} + {i}]"
        for i in range(_BAND_SIZE)
    )
    first_band = F.expr(f"filter(sequence(0, {n_bands - 1}), bb -> {band_match})[0]")
    near = (
        bn.join(bo, cond)
        .filter(F.col("n.band") == first_band)
        .select(
            F.col("n.doc_id").alias("nid"),
            F.col("o.doc_id").alias("oid"),
            est.alias("est"),
        )
        .filter(F.col("est") >= 0.5)
        .groupBy("nid")
        .agg(F.min("oid").alias("near_dup_of"))
    )
    return (
        exact.join(near, exact.doc_id == near.nid, "left")
        .drop("nid")
        .select(
            "doc_id",
            "exact_dup_of",
            "near_dup_of",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), hv AS (
  SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT) AS BIGINT) AS h
  FROM sh
), seeds(seed, a, b) AS (
  VALUES {_MH_SEEDS_VALUES}
), sigs AS (
  SELECT doc_id, CAST(seed AS INT) AS seed, min((a * h + b) % {_MH_P}) AS minh
  FROM hv, seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // {_BAND_SIZE} AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
  FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
  WHERE n.doc_id % 5 = 4 AND o.doc_id % 5 <> 4
), near_pairs AS (
  SELECT nid, oid FROM cand
  JOIN sigs sa ON sa.doc_id = nid
  JOIN sigs sb ON sb.doc_id = oid AND sb.seed = sa.seed
  GROUP BY nid, oid
  HAVING {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} >= 0.5
), near AS (
  SELECT nid, min(oid) AS near_dup_of FROM near_pairs GROUP BY nid
), ex_old AS (
  SELECT md5({_NORM_DUCK}) AS th, min(doc_id) AS exact_dup_of
  FROM documents WHERE doc_id % 5 <> 4 GROUP BY th
), newd AS (
  SELECT doc_id, md5({_NORM_DUCK}) AS th FROM documents WHERE doc_id % 5 = 4
)
SELECT newd.doc_id AS doc_id,
       e.exact_dup_of AS exact_dup_of,
       near.near_dup_of AS near_dup_of,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
            WHEN near.near_dup_of IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict
FROM newd
LEFT JOIN ex_old e ON e.th = newd.th
LEFT JOIN near ON near.nid = newd.doc_id
"""


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the duplication mass comes from: minhash near-dup pairs
    joined to their documents' sources and counted per UNORDERED source
    pair — the observability view that separates intra-source crawl
    dupes from cross-source syndication (what a curation run reads
    before deciding per-source dedup policy).

    Scale shape: the pair table is tiny relative to the corpus by LSH
    construction, so it BROADCASTS into the (doc_id, source) dim scans
    — the corpus-sized side never shuffles; the final agg is at most
    |sources|^2/2 rows. The mean estimate follows the decimal-sum
    discipline (order-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs_df(docs)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    j = a.join(F.broadcast(pairs), "doc_a")
    j = b.join(F.broadcast(j), "doc_b")
    return (
        j.groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            round_ties_safe(
                F.sum(F.col("est_jaccard").cast("decimal(20,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_est_jaccard"),
        )
    )


CROSS_SOURCE_SQL = f"""
WITH pairs AS ({MINHASH_SQL})
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       count(*) AS n_pairs,
       {round_ties_safe_sql("CAST(sum(CAST(est_jaccard AS DECIMAL(20,4))) AS DOUBLE) / count(*)", 4)}
           AS avg_est_jaccard
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY source_lo, source_hi
"""


_SIMHASH_BITS = 64
_SIMHASH_SEGS = 4  # pigeonhole blocks: Hamming<=3 pairs agree on >=1 of 4
_SEG_BITS = _SIMHASH_BITS // _SIMHASH_SEGS
_HAMMING_MAX = 3


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (Charikar sketch, the Manku/Jain/
    Sarma WWW'07 near-dup configuration: 64 bits, Hamming <= 3).

    Grouped formulation: explode the distinct tokens, hash each to 64
    bits (two md5 uint32 words), take the per-bit +/-1 majority as 64
    codegen'd ``sum`` aggregates over one groupBy(doc_id), then pack the
    sign bits into one BIGINT. The earlier in-array fold (nested
    ``aggregate``/``transform`` higher-order functions) was map-only but
    *interpreted* — Catalyst does not codegen HOF lambdas — costing
    ~3 ms/doc and getting re-inlined into every consumer; the hash-agg
    shape is whole-stage-codegen, partially aggregated map-side (the
    shuffle carries 64 ints per doc), and measured ~20x faster. This is
    also bit-for-bit the DuckDB oracle's own formulation, including
    NULL-text behavior: explode of a NULL token array emits nothing, so
    NULL docs drop out exactly like unnest(NULL) (empty text still
    sketches the [''] token in both engines).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # tokens materialized as their own projection first (Catalyst
    # re-evaluates inlined split chains per lambda element otherwise)
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    tok = toks.select("doc_id", F.explode(F.array_distinct("t")).alias("s"))
    hv = tok.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)").alias("lo"),
        F.expr("CAST(conv(substr(md5(s), 9, 8), 16, 10) AS BIGINT)").alias("hi"),
    )
    majorities = [
        F.sum(
            F.expr(
                f"CASE WHEN shiftright({'lo' if b < 32 else 'hi'}, {b if b < 32 else b - 32}) % 2 = 1 "
                "THEN 1 ELSE -1 END"
            )
        ).alias(f"s{b}")
        for b in range(64)
    ]
    agg = hv.groupBy("doc_id").agg(*majorities)
    pack = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)" for b in range(64)
    )
    return agg.select("doc_id", F.expr(pack).alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs (Hamming distance <= 3), pair
    generation bounded by pigeonhole segment blocking.

    Any pair within Hamming distance 3 differs in at most 3 bits, so it
    agrees *exactly* on at least one of the 4 contiguous 16-bit
    segments (pigeonhole). Candidates therefore come from an equi-join
    on (segment_id, segment_value) — never an all-pairs nested loop —
    then the true Hamming distance verifies each candidate. This is the
    Manku et al. block-table design as one shuffle join; at 100 TB the
    64k-value segment keys keep buckets small and the join stays a
    plain shuffled-hash/SMJ on the key.

    Two plan devices shared with ``minhash_pairs_df`` (r17): the
    SHUFFLE_HASH hint keeps the self-join shuffled-by-key instead of
    broadcast — at corpus scale the 4n-row segment table blows the
    broadcast relation cap (8 GB / 512M rows) and every executor would
    hold it whole, while the shuffled form stays partition-bounded (the
    sketch build itself is materialized once either way via AQE
    exchange reuse); and a pair that agrees on several segments is kept
    only at the FIRST agreeing segment — a codegen'd CASE over the
    sketch XOR, NOT a higher-order ``filter(sequence...)`` lambda,
    which Catalyst evaluates interpreted and which measured 2x slower
    over the candidate stream — instead of a trailing ``.distinct()``,
    which was a whole extra shuffle+aggregate over the pair stream.
    """
    sh = simhash_table(spark, sf_dir)
    seg_args = ", ".join(
        f"{s}, CAST((shiftright(simhash, {s * _SEG_BITS}) & {(1 << _SEG_BITS) - 1}) AS INT)"
        for s in range(_SIMHASH_SEGS)
    )
    segs = sh.select(
        "doc_id", "simhash", F.expr(f"stack({_SIMHASH_SEGS}, {seg_args}) AS (seg, seg_val)")
    ).hint("SHUFFLE_HASH")
    a = segs.alias("a")
    b = segs.alias("b")
    seg_whens = " ".join(
        f"WHEN (shiftright(a.simhash ^ b.simhash, {s * _SEG_BITS}) & {(1 << _SEG_BITS) - 1}) = 0 THEN {s}"
        for s in range(_SIMHASH_SEGS)
    )
    first_seg = F.expr(f"CASE {seg_whens} END")
    return (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.seg") == first_seg)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


# DuckDB cannot evaluate 1::BIGINT << 63 (overflow check); the sign bit
# gets its two's-complement literal instead. Integer +/-1 majorities are
# order-independent, so both engines now share the same grouped
# (explode -> per-bit sum -> pack) formulation, bit for bit.
_DUCK_POW = f"CASE WHEN bit = 63 THEN -9223372036854775808 ELSE 1::BIGINT << CAST(bit AS INT) END"

SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKENS_DUCK}) AS tok FROM documents
), hv AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS BIGINT) AS lo,
         CAST(CAST('0x' || substr(md5(tok), 9, 8) AS UBIGINT) AS BIGINT) AS hi
  FROM toks
), contrib AS (
  SELECT doc_id, CAST(r.bit AS INT) AS bit,
         CASE WHEN (CASE WHEN r.bit < 32 THEN lo >> CAST(r.bit AS INT)
                         ELSE hi >> CAST(r.bit - 32 AS INT) END) % 2 = 1
              THEN 1 ELSE -1 END AS c
  FROM hv, range({_SIMHASH_BITS}) r(bit)
), sums AS (
  SELECT doc_id, bit, sum(c) AS s FROM contrib GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN {_DUCK_POW} ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
), segs AS (
  SELECT doc_id, simhash, CAST(sg.seg AS INT) AS seg,
         CAST((simhash >> CAST(sg.seg * {_SEG_BITS} AS INT)) & {(1 << _SEG_BITS) - 1} AS INT) AS seg_val
  FROM sh, range({_SIMHASH_SEGS}) sg(seg)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM segs a JOIN segs b
  ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
"""


# Embedding near-dup: candidates from multi-table hyperplane-LSH
# buckets (4 tables x 8 sign bits; at the 0.95-cosine angle ~18 deg the
# per-pair recall is 1-(1-0.9^8)^4 ~ 0.89), exact cosine re-rank inside
# buckets. The operator is *defined* as candidates-intersect-threshold:
# the hyperplanes are deterministic md5-seeded +/-1 vectors, so the
# DuckDB oracle reproduces the buckets bit for bit and the result is
# engine-independent. No all-pairs join anywhere in the plan.
_EMB_TABLES = 4
_EMB_BITS = 8
_EMB_THRESHOLD = 0.95


def _emb_lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket) — one row per LSH table; bucket = integer
    of the 8 hyperplane sign bits. Shares ``similarity._hyperplanes``
    (same 32 planes, regrouped 4x8 for dedup's higher precision).

    r17: evaluated through the Arrow kernel
    (``functions/veccompute.signature_rows``) — the expression form's
    32 per-plane ``aggregate`` folds ran interpreted per row; rows out
    are pinned bit-identical to the reference form
    ``_emb_lsh_buckets_expr`` in ``tests/reference_forms.py``."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows
    from deker_server_adapters_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_TABLES * _EMB_BITS)
    src = emb.select(
        "vec_id",
        "embedding",
        F.lit(_EMB_BITS).alias("nbits"),
        F.lit(_EMB_TABLES).alias("ntables"),
        F.lit(0).alias("nprobes"),
    )
    return signature_rows(
        src, planes, _EMB_TABLES, _EMB_BITS, 0, ["vec_id"], False
    ).select("vec_id", "tbl", F.col("bucket").cast("int").alias("bucket"))


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.95 among LSH-bucket
    candidates — the 100 TB shape (bucket equi-join bounds pair
    generation; ``dedup_embedding_exact`` is the budget-guarded
    brute-force twin used to verify recall in tests).

    r17: the per-candidate cosine evaluates through the Arrow kernel
    (``cos_scored`` — same IEEE op order as the dot/l2_norm fold
    expressions it replaced, which ran interpreted per pair); the
    embedding arrays are consumed inside the kernel batch and never
    serialize back."""
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = _emb_lsh_buckets(emb)
    ba = buckets.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    bb = buckets.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    cand = (
        ba.join(bb, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cos_scored(cand.join(ea, "vec_a").join(eb, "vec_b"), 4, out="cosine")
        .filter(F.col("cosine") >= _EMB_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


def dedup_embedding_exact(
    spark: SparkSession,
    sf_dir: str,
    max_rows: int | None = 10_000_000,
    max_bytes: int | None = 64 << 30,
) -> DataFrame:
    """Brute-force all-pairs twin of ``dedup_embedding`` — O(n^2) by
    construction, so it is budget-gated (``enforce_budget`` refuses the
    plan when the optimizer's pair estimate exceeds the row/bytes
    budget; ``sizeInBytes`` is always defined and grows with the pair
    product) and deliberately NOT registered in ``queries()``; tests
    use it to check the LSH path's recall on planted near-dups."""
    from deker_server_adapters_spark.functions.vectors import dot, l2_norm
    from deker_server_adapters_spark.plans.limits import enforce_budget

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    if max_rows is not None or max_bytes is not None:
        pairs = enforce_budget(pairs, max_rows=max_rows, max_bytes=max_bytes)
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", round_ties_safe(cos, 4))
        .filter(F.col("cosine") >= _EMB_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


def _duck_emb_buckets() -> str:
    """The LSH bucket table as DuckDB SQL mirroring ``_emb_lsh_buckets``
    exactly: same planes, same left-to-right double accumulation (SQL
    ``+`` is left-associative, Spark's ``aggregate`` folds in index
    order, products by +/-1.0 are exact), same sign rule."""
    from deker_server_adapters_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_TABLES * _EMB_BITS)
    selects = []
    for t in range(_EMB_TABLES):
        bits = []
        for i in range(_EMB_BITS):
            p = planes[t * _EMB_BITS + i]
            dot_sql = " + ".join(
                f"embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(f"(CASE WHEN ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)")
        selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({' + '.join(bits)} AS INT) AS bucket FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


EMBED_DEDUP_SQL = f"""
WITH b AS (
{_duck_emb_buckets()}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT vec_a, vec_b,
       {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 4)} AS cosine
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 4)} >= {_EMB_THRESHOLD}
"""


_KNN_K = 5  # neighbors voting in the label check
_KNN_TABLES = 4
_KNN_MAX_BITS = 16
# Bits ladder: smallest b in [8, 16] with n <= 64 * 2^b (expected bucket
# occupancy <= 64), so candidate fan-out per vector stays ~tables*64 at
# any corpus size instead of growing linearly with n at fixed bits —
# the threshold-join ladder device applied to the label check's own
# bucket table (dedup_embedding's pinned 4x8 table is left untouched).
_KNN_BITS_LADDER = [(64 << b, b) for b in range(8, _KNN_MAX_BITS)]


def _knn_bits(n: int) -> int:
    for bound, b in _KNN_BITS_LADDER:
        if n <= bound:
            return b
    return _KNN_MAX_BITS


def _knn_bits_sql() -> str:
    cases = " ".join(
        f"WHEN count(*) <= {bound} THEN {b}" for bound, b in _KNN_BITS_LADDER
    )
    return f"(SELECT CASE {cases} ELSE {_KNN_MAX_BITS} END FROM embeddings)"


def _knn_lsh_buckets(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, tbl, bucket) at ladder resolution: each of the
    ``_KNN_TABLES`` tables owns ``_KNN_MAX_BITS`` reserved hyperplanes
    (plane index = tbl*16 + i) and uses the first ``bits`` of them, so
    stepping the ladder REFINES buckets (a b+1 bucket is a subset of
    its b bucket) and the oracle can replay any step by masking the
    full 16-bit signature.

    r17: evaluated through the Arrow kernel (``signature_rows``) — the
    plane set passed to the kernel is the first ``bits`` planes of
    each table repacked at stride ``bits``, so kernel index t·bits+i
    addresses exactly the expression's plane t·16+i (and no dot is
    computed for the unused tail planes). Rows pinned bit-identical
    against ``_knn_lsh_buckets_expr`` in ``tests/reference_forms.py``."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows
    from deker_server_adapters_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_KNN_TABLES * _KNN_MAX_BITS)
    sub = [
        planes[t * _KNN_MAX_BITS + i]
        for t in range(_KNN_TABLES)
        for i in range(bits)
    ]
    src = emb.select(
        "vec_id",
        "embedding",
        F.lit(bits).alias("nbits"),
        F.lit(_KNN_TABLES).alias("ntables"),
        F.lit(0).alias("nprobes"),
    )
    return signature_rows(src, sub, _KNN_TABLES, bits, 0, ["vec_id"], False).select(
        "vec_id", "tbl", F.col("bucket").cast("int").alias("bucket")
    )


def _duck_knn_buckets() -> str:
    """The ladder bucket table in DuckDB: full 16-bit signature per
    table, masked to the ladder-chosen bit count (sum of the first b
    bits == full signature & (2^b - 1), bit i carrying weight 2^i)."""
    from deker_server_adapters_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_KNN_TABLES * _KNN_MAX_BITS)
    mask = f"((1 << {_knn_bits_sql()}) - 1)"
    selects = []
    for t in range(_KNN_TABLES):
        bits = []
        for i in range(_KNN_MAX_BITS):
            p = planes[t * _KNN_MAX_BITS + i]
            dot_sql = " + ".join(
                f"embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(f"(CASE WHEN ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)")
        selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST(({' + '.join(bits)}) & {mask} AS INT) AS bucket FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


def embeddings_knn_label_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-error detection (the Confident-Learning-family data-
    quality pass, public practice): a vector whose ``_KNN_K`` nearest
    LSH-candidate neighbors majority-vote a DIFFERENT label is a
    suspected labeling error — the rows a training pipeline routes to
    re-annotation. One verdict row per vector: its label, the
    neighbor-majority label (NULL when the vector shares no LSH bucket
    with anyone), how many neighbors voted, and the suspect flag.

    Determinism: neighbors rank by (cosine tie-safe-6 DESC, vec_id),
    the majority breaks ties to the SMALLEST label — both replayed in
    the oracle. Scale shape: candidates come from a hyperplane-LSH
    bucket equi-join (never an n^2 scan) whose RESOLUTION follows the
    ``_KNN_BITS_LADDER`` (smallest b in [8,16] with expected occupancy
    n/2^b <= 64 — the threshold-join ladder device), so candidate
    fan-out per vector stays ~tables*64 at any corpus size instead of
    growing linearly with n at fixed bits; the oracle replays the
    chosen step by masking a full 16-bit signature with a CASE over
    count(*), and the builder's ladder read is one bounded eager
    count(). The top-k window and the vote partition on vec_id over
    the bounded fan-out; the final LEFT joins move one row per
    vector. r17: the per-candidate cosine evaluates through the Arrow
    kernel (``cos_scored``, same IEEE op order as the dot/l2_norm
    folds it replaced — interpreted per candidate row before)."""
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = _knn_lsh_buckets(emb, _knn_bits(emb.count()))
    ba = buckets.select(F.col("vec_id").alias("vid"), "tbl", "bucket")
    bb = buckets.select(F.col("vec_id").alias("nb"), "tbl", "bucket")
    cand = (
        ba.join(bb, ["tbl", "bucket"])
        .filter(F.col("vid") != F.col("nb"))
        .select("vid", "nb")
        .distinct()
    )
    ev = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("ea"))
    en = emb.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("eb"),
    )
    scored = cos_scored(cand.join(ev, "vid").join(en, "nb"), 6, out="cosine")
    w = Window.partitionBy("vid").orderBy(F.desc("cosine"), "nb")
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KNN_K)
    votes = top.groupBy("vid", "nb_label").agg(F.count("*").alias("v"))
    w2 = Window.partitionBy("vid").orderBy(F.desc("v"), "nb_label")
    maj = (
        votes.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("vid", F.col("nb_label").alias("knn_label"))
    )
    cnt = top.groupBy("vid").agg(F.count("*").alias("n"))
    return (
        emb.select("vec_id", "label")
        .join(maj, emb.vec_id == maj.vid, "left")
        .drop("vid")
        .join(cnt, emb.vec_id == cnt.vid, "left")
        .drop("vid")
        .select(
            "vec_id",
            "label",
            "knn_label",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_neighbors"),
            F.when(
                F.col("knn_label").isNotNull() & (F.col("knn_label") != F.col("label")),
                F.lit(True),
            )
            .otherwise(F.lit(False))
            .alias("is_suspect"),
        )
    )


def _knn_label_check_sql() -> str:
    cos = round_ties_safe_sql(
        "list_cosine_similarity(ev.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6
    )
    return f"""
WITH b AS (
{_duck_knn_buckets()}
), cand AS (
  SELECT DISTINCT a.vec_id AS vid, c.vec_id AS nb
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id <> c.vec_id
), scored AS (
  SELECT cand.vid AS vid, cand.nb AS nb, en.label AS nb_label, {cos} AS cosine
  FROM cand
  JOIN embeddings ev ON ev.vec_id = cand.vid
  JOIN embeddings en ON en.vec_id = cand.nb
), top AS (
  SELECT vid, nb_label FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, nb) AS rn
    FROM scored
  ) t WHERE rn <= {_KNN_K}
), votes AS (
  SELECT vid, nb_label, count(*) AS v FROM top GROUP BY vid, nb_label
), maj AS (
  SELECT vid, nb_label AS knn_label FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY v DESC, nb_label) AS rn
    FROM votes
  ) t WHERE rn = 1
), cnt AS (
  SELECT vid, CAST(count(*) AS BIGINT) AS n FROM top GROUP BY vid
)
SELECT e.vec_id AS vec_id, e.label AS label, m.knn_label AS knn_label,
       COALESCE(c.n, 0) AS n_neighbors,
       COALESCE(m.knn_label IS NOT NULL AND m.knn_label <> e.label, FALSE) AS is_suspect
FROM embeddings e
LEFT JOIN maj m ON m.vid = e.vec_id
LEFT JOIN cnt c ON c.vid = e.vec_id
"""


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup on normalized-text prefixes, with pair
    generation bounded by blocking keys (source + length bucket) —
    the classic blocking+distance pattern; unblocked pairwise
    levenshtein is quadratic and never acceptable at scale."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.col("source").alias("src"),
        F.expr("CAST(n_chars DIV 100 AS INT)").alias("len_bucket"),
        F.expr(f"substr({_NORM}, 1, 24)").alias("prefix"),
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("lev"),
        )
        .filter(F.col("lev") <= 8)
    )


LEVENSHTEIN_SQL = f"""
WITH base AS (
  SELECT doc_id, source AS src, CAST(n_chars // 100 AS INT) AS len_bucket,
         substr({_NORM_DUCK}, 1, 24) AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS lev
FROM base a JOIN base b
  ON a.src = b.src AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 8
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering: connected components over the
    minhash near-dup pairs, canonical id = component minimum.

    Iterative min-label propagation (driver loops over *stages*, data
    never leaves the cluster): each round every node takes the min of
    its own label and its neighbors' labels; converges in O(component
    diameter) rounds. The oracle computes the same fixpoint as a
    recursive-CTE transitive closure.
    """
    nd_pairs = dedup_minhash_lsh(spark, sf_dir)
    return components_from_pairs(nd_pairs)


def components_from_pairs(nd_pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation over an explicit (doc_a, doc_b) pair table
    — the iterative core of ``dedup_components``, reusable over any
    edge source (and unit-testable on a known-diameter graph).

    Converges in O(component diameter) rounds; ``max_rounds`` bounds
    the work on pathological long-chain graphs — on exhaustion the op
    WARNS and returns the partially-propagated labels (still a valid
    clustering refinement, just possibly non-canonical) instead of
    failing the whole pipeline.

    Round state follows ``plans.lineage``: every label generation is a
    lazy ``localCheckpoint`` that the round's convergence ``count``
    materializes, after which the previous generation is released.
    The cached edge table is dropped before returning, so the result
    rests on one cut."""
    pairs = nd_pairs.select("doc_a", "doc_b")
    rev = pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    # cache the edges ALREADY HASHED on the per-round join key: the
    # cached relation keeps the repartition's outputPartitioning, so the
    # (big) edge table is shuffled once here instead of once per
    # propagation round — at scale the edge shuffle dominates the loop.
    # A localCheckpoint would not do: under AQE it reports
    # UnknownPartitioning, and every round would re-shuffle the edges.
    edges = pairs.unionByName(rev).repartition(F.col("doc_b")).persist()
    # Fold the label init and the FIRST propagation round into one
    # aggregate (r17): label_1(v) = min(v, min over v's neighbors) —
    # the node set is exactly distinct(doc_a) (edges carry both
    # directions), so the old init (a full distinct shuffle over the
    # edge table) plus round 1's join+aggregate+join machinery collapse
    # to a single groupBy over the edges. nmin is never NULL: every
    # doc_a has at least one neighbor by construction.
    gen = (
        edges.groupBy("doc_a")
        .agg(F.min("doc_b").alias("nmin"))
        .select(
            F.col("doc_a").alias("doc_id"),
            F.least(F.col("doc_a"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    labels = gen
    changed = -1
    # rounds 2..max_rounds: round 1 already happened inside the init
    # aggregate above, so the budget still bounds total propagation
    # rounds at max_rounds
    for _ in range(2, max_rounds + 1):  # diameter bound; tiny components converge fast
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        # carry the did-it-change bit through the SAME join that builds
        # the new labels (nmin < label; null nmin -> no neighbors -> no
        # change) — the convergence check is then a filter-count over
        # the new generation, not a second labels join per round
        new_gen = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
                (F.col("nmin") < F.col("label")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        # the count reads every partition of the new generation, so it
        # materializes the lazy cut; an eager cut would add a pass
        changed = new_gen.filter("chg").count()
        release(gen)
        gen = new_gen
        labels = gen.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            "dedup_components: label propagation did not converge within the "
            "iteration budget; labels may be non-canonical for components "
            f"with diameter > {max_rounds}",
            RuntimeWarning,
        )
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("canonical_id"))


COMPONENTS_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), hv AS (
  SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT) AS BIGINT) AS h
  FROM sh
), seeds(seed, a, b) AS (
  VALUES {_MH_SEEDS_VALUES}
), sigs AS (
  SELECT doc_id, CAST(seed AS INT) AS seed, min((a * h + b) % {_MH_P}) AS minh
  FROM hv, seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // {_BAND_SIZE} AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
  GROUP BY doc_a, doc_b
  HAVING {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} >= 0.5
), edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT doc_a AS src, doc_a AS dst FROM edges
  UNION
  SELECT r.src, e.doc_b AS dst
  FROM reach r JOIN edges e ON r.dst = e.doc_a
)
SELECT src AS doc_id, min(dst) AS canonical_id
FROM reach
GROUP BY src
"""


def docs_near_dup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality evaluation: every minhash candidate pair with
    its TRUE shingle-set Jaccard and the absolute estimation error —
    the measure-don't-guess primitive for tuning K/band parameters.

    Scale shape: the exact Jaccard (quadratic in general) is computed
    ONLY for the candidate docs — the shingle table is semi-joined
    down to pair members (broadcast: the pair table is tiny relative
    to the corpus by construction) before the inverted-index join, so
    the exact pass costs O(candidate docs), not O(corpus)."""
    # r18 (guide §2.4/§5): the candidate-pair subtree (full corpus
    # minhash) and the pair-member shingle subtree each feed several
    # plan branches (pairs: the member semi-join AND the final left
    # join; shp: the size aggregate twice AND both sides of the
    # common-shingle self-join) — the static plan repeated the
    # documents scan 22x and the md5 shingle hash 18x, because
    # exchange reuse does not dedup these subtrees (the r17 graph
    # lesson). Both tables are narrow and candidate-bounded, so cut
    # them with LAZY localCheckpoints: each subtree evaluates exactly
    # once. Under AQE a lazy cut still runs its input's shuffle stages
    # at the call (docs/PERF.md); only the final stage waits for the
    # first action.
    pairs = minhash_pairs_df(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    sh = _shingle_table(spark, sf_dir)
    pair_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shp = sh.join(F.broadcast(pair_docs), "doc_id").localCheckpoint(eager=False)
    sizes = shp.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = shp.alias("a"), shp.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        common.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            round_ties_safe(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                4,
            ).alias("exact_jaccard"),
        )
    )
    return (
        pairs.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
            round_ties_safe(
                F.abs(F.col("est_jaccard") - F.coalesce("exact_jaccard", F.lit(0.0))), 4
            ).alias("abs_err"),
        )
    )


NEAR_DUP_EVAL_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), hv AS (
  SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT) AS BIGINT) AS h
  FROM sh
), seeds(seed, a, b) AS (
  VALUES {_MH_SEEDS_VALUES}
), sigs AS (
  SELECT doc_id, CAST(seed AS INT) AS seed, min((a * h + b) % {_MH_P}) AS minh
  FROM hv, seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // {_BAND_SIZE} AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b,
         {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} AS est_jaccard
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
  GROUP BY doc_a, doc_b
  HAVING {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} >= 0.5
), pair_docs AS (
  SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs
), shp AS (
  SELECT sh.doc_id, sh.shingle FROM sh SEMI JOIN pair_docs p ON sh.doc_id = p.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shp GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
), exact AS (
  SELECT c.doc_a, c.doc_b,
         {round_ties_safe_sql("c.n_common / CAST(sa.n_shingles + sb.n_shingles - c.n_common AS DOUBLE)", 4)} AS exact_jaccard
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT p.doc_a, p.doc_b, p.est_jaccard,
       COALESCE(e.exact_jaccard, 0.0) AS exact_jaccard,
       {round_ties_safe_sql("abs(p.est_jaccard - COALESCE(e.exact_jaccard, 0.0))", 4)} AS abs_err
FROM pairs p
LEFT JOIN exact e ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
"""


def docs_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation flagship: quality filter → exact
    dedup → near-dup clustering, one status per document with an
    auditable drop reason (``dropped_quality`` / ``dropped_exact_dup``
    / ``dropped_near_dup`` / ``kept``).

    Each stage only processes the previous stage's survivors — the
    order matters at scale (the cheap codegen quality rules run on the
    full corpus; the minhash/CC machinery only sees the quality-kept,
    exact-deduped remainder). Stage primitives are the registry's own
    (``quality_keep_spark``, ``minhash_pairs_df``,
    ``components_from_pairs``), so this op can't drift from its parts.
    The oracle replays the identical cascade with a recursive-CTE
    transitive closure for the clustering stage.

    Plan shape (r18 restructure; the r7 shared-window rationale and the
    r17 measured-and-rejected narrow-window variants are in
    OPTIMIZATION_r17.md): quality rules + content hash are computed in
    ONE projection; the exact-dup canonical is a ``min() OVER
    (PARTITION BY h)`` window (one Exchange), with quality-dropped rows
    riding the same window under a per-doc salted key. The window's
    output — per-doc decision bits PLUS the survivors' minhash
    signatures, computed in the same pass (non-survivor text is masked
    NULL, so their sig short-circuits to NULLs) — is cut with ONE eager
    ``localCheckpoint`` of narrow rows (ids, two bits, 12 longs; text
    never enters the checkpoint). Every downstream consumer — the
    band/verify pair build, the CC loop's edge materialization, and the
    final status projection — reads that checkpoint, so the corpus
    scan + tokenize + md5 + window subtree executes exactly ONCE per
    run instead of once per action (the CC loop and the final action
    are separate actions; exchange reuse never spans them — measured
    r17, re-measured r18). At 100 TB: one corpus pass total, and the
    re-evaluation that used to re-tokenize the corpus at the final
    action becomes a narrow checkpoint read."""
    from deker_server_adapters_spark.operators.text import quality_keep_spark

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "text", F.expr(_TOKENS).alias("t"))
    base = toks.select(
        "doc_id",
        "text",
        F.expr(quality_keep_spark()).alias("q_keep"),
        F.expr(f"md5({_NORM})").alias("h0"),
    ).select(
        "doc_id",
        "text",
        "q_keep",
        # quality-dropped docs get a unique salted key so the window
        # below is a no-op for them (canon = self) and one partitioning
        # serves the whole corpus
        F.when(F.col("q_keep"), F.col("h0"))
        .otherwise(F.concat(F.lit("!"), F.col("doc_id").cast("string")))
        .alias("h"),
    )
    ex = base.withColumn(
        "exact_canon", F.min("doc_id").over(Window.partitionBy("h"))
    )
    surv = F.col("q_keep") & (F.col("doc_id") == F.col("exact_canon"))
    masked = ex.select(
        "doc_id",
        "q_keep",
        "exact_canon",
        F.when(surv, F.col("text")).alias("text"),
    )
    decisions = minhash_signatures_df(
        masked, carry=("q_keep", "exact_canon")
    ).localCheckpoint(eager=True)
    sigs = decisions.filter(
        F.col("q_keep") & (F.col("doc_id") == F.col("exact_canon"))
    ).select("doc_id", "sig")
    labels = components_from_pairs(minhash_pairs_from_sigs(sigs))
    return decisions.join(labels, "doc_id", "left").select(
        "doc_id",
        F.when(~F.col("q_keep"), "dropped_quality")
        .when(F.col("doc_id") != F.col("exact_canon"), "dropped_exact_dup")
        .when(F.col("canonical_id") < F.col("doc_id"), "dropped_near_dup")
        .otherwise("kept")
        .alias("status"),
    )


def _pipeline_sql() -> str:
    from deker_server_adapters_spark.operators.text import quality_keep_duck

    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, text, {_TOKENS_DUCK} AS t FROM documents
), q AS (
  SELECT doc_id, text, {quality_keep_duck()} AS q_keep FROM base
), kq AS (
  SELECT doc_id, text FROM q WHERE q_keep
), ex AS (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5({_NORM_DUCK})) AS exact_canon
  FROM kq
), surv AS (
  SELECT doc_id, text FROM ex WHERE doc_id = exact_canon
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM surv
), hv AS (
  SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT) AS BIGINT) AS h
  FROM sh
), seeds(seed, a, b) AS (
  VALUES {_MH_SEEDS_VALUES}
), sigs AS (
  SELECT doc_id, CAST(seed AS INT) AS seed, min((a * h + b) % {_MH_P}) AS minh
  FROM hv, seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, CAST(seed // {_BAND_SIZE} AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
  GROUP BY doc_a, doc_b
  HAVING {round_ties_safe_sql(f"sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {float(_MINHASH_K)}", 4)} >= 0.5
), edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT doc_a AS src, doc_a AS dst FROM edges
  UNION
  SELECT r.src, e.doc_b AS dst
  FROM reach r JOIN edges e ON r.dst = e.doc_a
), labels AS (
  SELECT src AS doc_id, min(dst) AS canonical_id FROM reach GROUP BY src
)
SELECT d.doc_id,
       CASE WHEN NOT q.q_keep THEN 'dropped_quality'
            WHEN e.doc_id IS NOT NULL AND e.doc_id != e.exact_canon THEN 'dropped_exact_dup'
            WHEN l.canonical_id < d.doc_id THEN 'dropped_near_dup'
            ELSE 'kept' END AS status
FROM documents d
JOIN q ON d.doc_id = q.doc_id
LEFT JOIN ex e ON d.doc_id = e.doc_id
LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


# --- exact-substring duplication (fixed-width n-gram flavor) ----------

_DUPGRAM_N = 8  # tokens per window — the Lee et al. exact-substring
# dedup idea bounded to a fixed width so it stays one equi-keyed
# aggregate instead of a suffix array


def docs_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact-substring duplication profile: the fraction of a
    doc's token-``_DUPGRAM_N``-gram WINDOWS whose exact text occurs
    more than once in the corpus (any doc, including self-repeats).
    High dup_frac docs are boilerplate/templated/copied — the
    train-data signal exact-substring dedup cuts on.

    Scale shape: windows are POSITIONAL (every occurrence counts, no
    per-doc distinct), keyed by the portable 60-bit hash so the one
    shuffle moves 8-byte keys, not 50-byte strings; the occurrence
    count is a ``count(*) OVER (PARTITION BY gh)`` window, so the
    expensive tokenize/md5 scan materializes ONCE and both the count
    and the per-occurrence dup flag read the same Exchange(gh) — a
    groupBy+self-join form would run the scan twice with no reuse
    (measured: no ReusedExchange). Viral phrases make hot gh keys;
    the window's whole-partition count frame is one counter per
    partition, so the hot key costs a fat partition scan, not memory.
    Collision risk at h64: ~n²/2⁶¹ false dup pairs — negligible below
    ~10¹² windows (and the oracle hashes identically, so parity is
    unaffected either way)."""
    from pyspark.sql.window import Window

    from deker_server_adapters_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t")).filter(
        F.expr(f"size(t) >= {_DUPGRAM_N}")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_DUPGRAM_N - 1}), "
                f"i -> array_join(slice(t, i, {_DUPGRAM_N}), ' '))"
            )
        ).alias("g"),
    ).select("doc_id", h64(F.col("g")).alias("gh"))
    return (
        grams.withColumn("n_occ", F.count("*").over(Window.partitionBy("gh")))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0)).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            round_ties_safe(F.col("n_dup_windows") / F.col("n_windows"), 4).alias("dup_frac"),
        )
    )


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram NOVELTY against crawl order (r12): the fraction
    of a doc's token-``_DUPGRAM_N``-gram windows whose exact text
    FIRST appears in this doc (corpus-min doc_id == this doc_id, with
    doc_id as the ingestion order) — the marginal-new-text curve a
    crawl pipeline watches to decide when another batch of a source
    stops adding information. The complement of
    ``docs_duplicate_ngrams``'s dup_frac, but DIRECTIONAL: a later
    copy scores 0 novelty while its earlier original keeps scoring 1.

    Scale shape: same device as ``docs_duplicate_ngrams`` — positional
    windows keyed by the portable 60-bit hash (8-byte keys shuffle,
    never gram strings), min(doc_id) as one map-side-combined
    aggregate per gram, joined back on the same key. Self-repeats
    inside the first doc all count novel (the window text is new to
    the corpus at every one of that doc's positions)."""
    from deker_server_adapters_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t")).filter(
        F.expr(f"size(t) >= {_DUPGRAM_N}")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_DUPGRAM_N - 1}), "
                f"i -> array_join(slice(t, i, {_DUPGRAM_N}), ' '))"
            )
        ).alias("g"),
    ).select("doc_id", h64(F.col("g")).alias("gh"))
    firsts = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_windows",
            F.col("n_novel").cast("long").alias("n_novel"),
            round_ties_safe(F.col("n_novel") / F.col("n_windows"), 4).alias(
                "novelty_frac"
            ),
        )
    )


def _ngram_novelty_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h64_sql

    gram = f"array_to_string(list_slice(t, i.i, i.i + {_DUPGRAM_N - 1}), ' ')"
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents
  WHERE len({_TOKENS_DUCK}) >= {_DUPGRAM_N}
),
grams AS (
  SELECT doc_id, {h64_sql(gram)} AS gh
  FROM toks, UNNEST(range(1, len(t) - {_DUPGRAM_N - 1} + 1)) i(i)
),
firsts AS (SELECT gh, min(doc_id) AS first_doc FROM grams GROUP BY gh)
SELECT g.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {round_ties_safe_sql("sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS novelty_frac
FROM grams g JOIN firsts f ON g.gh = f.gh
GROUP BY g.doc_id
"""


_DUPWIDTHS = (8, 16, 32)


def docs_dup_width_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile at DOUBLING window widths (8/16/32
    tokens) — the cheap stand-in for longest-duplicate-substring: how
    much duplication survives as the required exact-match run doubles.
    A corpus whose dup mass collapses from width 8 to 16 duplicates
    short phrases; mass surviving at 32 is templated/copied text worth
    cutting. One row per width: window counts, duplicated-window
    fraction, and how many docs carry at least one duplicated window.

    Scale shape: per width, the same one-Exchange(gh) window-count
    device as ``docs_duplicate_ngrams``; widths are independent
    (3 bounded passes, unioned). n_dup-style sums are map-side
    combinable; nothing driver-side."""
    from pyspark.sql.window import Window

    from deker_server_adapters_spark.functions.hashing import h64

    docs = load_table(spark, sf_dir, "documents")
    parts = []
    for n in _DUPWIDTHS:
        toks = docs.select("doc_id", F.expr(_TOKENS).alias("t")).filter(
            F.expr(f"size(t) >= {n}")
        )
        grams = toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {n - 1}), "
                    f"i -> array_join(slice(t, i, {n}), ' '))"
                )
            ).alias("g"),
        ).select("doc_id", h64(F.col("g"), seed=n).alias("gh"))
        flagged = grams.withColumn(
            "dup", (F.count("*").over(Window.partitionBy("gh")) >= 2).cast("int")
        )
        per_doc = flagged.groupBy("doc_id").agg(
            F.count("*").alias("nw"), F.sum("dup").alias("nd")
        )
        parts.append(
            per_doc.agg(
                F.sum("nw").alias("n_windows"),
                F.sum("nd").alias("n_dup_windows"),
                round_ties_safe(F.sum("nd") / F.sum("nw"), 4).alias("dup_frac"),
                F.sum((F.col("nd") > 0).cast("int")).alias("n_docs_with_dup"),
            ).select(
                F.lit(n).cast("int").alias("width"),
                "n_windows",
                "n_dup_windows",
                "dup_frac",
                "n_docs_with_dup",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _dup_width_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h64_sql

    selects = []
    for n in _DUPWIDTHS:
        gram = f"array_to_string(list_slice(t, i.i, i.i + {n - 1}), ' ')"
        selects.append(f"""
SELECT CAST({n} AS INT) AS width,
       CAST(sum(nw) AS BIGINT) AS n_windows,
       CAST(sum(nd) AS BIGINT) AS n_dup_windows,
       {round_ties_safe_sql("sum(nd) / CAST(sum(nw) AS DOUBLE)", 4)} AS dup_frac,
       CAST(sum(CASE WHEN nd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup
FROM (
  SELECT doc_id, count(*) AS nw, sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS nd
  FROM (
    SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS n_occ
    FROM (
      SELECT doc_id, {h64_sql(gram, seed=n)} AS gh
      FROM (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents
            WHERE len({_TOKENS_DUCK}) >= {n}) toks,
           UNNEST(range(1, len(t) - {n - 1} + 1)) i(i)
    ) g
  ) fl
  GROUP BY doc_id
) pd""")
    return "\nUNION ALL\n".join(selects)


def _dupgram_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h64_sql

    gram = f"array_to_string(list_slice(t, i.i, i.i + {_DUPGRAM_N - 1}), ' ')"
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents
  WHERE len({_TOKENS_DUCK}) >= {_DUPGRAM_N}
),
grams AS (
  SELECT doc_id, {h64_sql(gram)} AS gh
  FROM toks, UNNEST(range(1, len(t) - {_DUPGRAM_N - 1} + 1)) i(i)
),
counts AS (SELECT gh, count(*) AS n_occ FROM grams GROUP BY gh)
SELECT g.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       {round_ties_safe_sql("sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS dup_frac
FROM grams g JOIN counts c ON g.gh = c.gh
GROUP BY g.doc_id
"""


# --- asymmetric containment near-dup (r9) -----------------------------

_CONTAIN_TAU = 0.8


def docs_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup: pairs where
    C(A,B) = |S_A ∩ S_B| / min(|S_A|, |S_B|) ≥ ``_CONTAIN_TAU`` over
    word-5-gram shingle sets — the quote/excerpt/short-in-long
    detector symmetric Jaccard structurally misses (a 50-shingle doc
    fully embedded in a 500-shingle doc scores J ≈ 0.1 but C = 1.0).
    Output keeps both scores so consumers see exactly which pairs the
    Jaccard op would have dropped.

    Scale shape: identical to the Jaccard op's (the device is shared):
    DF-ceiling pruning kills ubiquitous shingles, the shingle
    equi-join bounds candidates, sizes broadcast back per side — no
    all-pairs stage anywhere.
    Score semantics (ADVICE r9): BOTH |S_A ∩ S_B| and the
    min(|S_A|, |S_B|) denominator are computed AFTER the shared
    DF-ceiling shingle pruning — ubiquitous shingles participate in
    neither. So scores are containment over the DISCRIMINATIVE
    shingle sets: a short doc made mostly of ubiquitous shingles gets
    a denominator of only its rare shingles (scores can read higher
    than unpruned C(A,B)), and a doc consisting ENTIRELY of pruned
    shingles is undetectable by construction. That is the same
    trade the Jaccard op makes, deterministic cross-engine, and the
    planted-pair pytest covers the intended short-in-long shape.
    """
    sh = _shingle_table(spark, sf_dir)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _DF_CEILING)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            round_ties_safe(
                F.col("n_common") / F.least("size_a", "size_b").cast("double"), 4
            ),
        )
        .filter(F.col("containment") >= _CONTAIN_TAU)
        .withColumn(
            "jaccard",
            round_ties_safe(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast(
                    "double"
                ),
                4,
            ),
        )
        .select("doc_a", "doc_b", "n_common", "containment", "jaccard")
    )


CONTAINMENT_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
), rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {_DF_CEILING}
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shr GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, n_common,
       {round_ties_safe_sql("n_common / CAST(least(sa.n_shingles, sb.n_shingles) AS DOUBLE)", 4)} AS containment,
       {round_ties_safe_sql("n_common / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE)", 4)} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {round_ties_safe_sql("n_common / CAST(least(sa.n_shingles, sb.n_shingles) AS DOUBLE)", 4)} >= {_CONTAIN_TAU}
"""


OPS = {
    "docs_containment_dedup": Op(
        "docs_containment_dedup",
        docs_containment_dedup,
        CONTAINMENT_SQL,
        description=(
            "asymmetric shingle containment >= 0.8 (short-doc-inside-"
            "long-doc detector Jaccard misses); shares the DF-ceiling "
            "bounded shingle join"
        ),
    ),
    "docs_dup_width_profile": Op(
        "docs_dup_width_profile",
        docs_dup_width_profile,
        _dup_width_sql(),
        description=(
            f"corpus duplication mass at doubling window widths "
            f"{_DUPWIDTHS} — the longest-duplicate-substring proxy: "
            "dup mass surviving wider windows is templated/copied text"
        ),
    ),
    "docs_duplicate_ngrams": Op(
        "docs_duplicate_ngrams",
        docs_duplicate_ngrams,
        _dupgram_sql(),
        description=(
            f"per-doc fraction of token-{_DUPGRAM_N}-gram windows whose "
            "exact text repeats in the corpus (positional, self-repeats "
            "included) — fixed-width exact-substring dedup signal; one "
            "hash-keyed shuffle"
        ),
    ),
    "docs_ngram_novelty": Op(
        "docs_ngram_novelty",
        docs_ngram_novelty,
        _ngram_novelty_sql(),
        description=(
            f"per-doc fraction of token-{_DUPGRAM_N}-gram windows first "
            "seen in THIS doc (doc_id = ingestion order) — the "
            "marginal-new-text curve; directional complement of "
            "docs_duplicate_ngrams, same 8-byte-hash shuffle device"
        ),
    ),
    "dedup_exact": Op("dedup_exact", dedup_exact, EXACT_SQL),
    "dedup_components": Op("dedup_components", dedup_components, COMPONENTS_SQL, headline=True),
    "docs_near_dup_eval": Op(
        "docs_near_dup_eval",
        docs_near_dup_eval,
        NEAR_DUP_EVAL_SQL,
        description=(
            "minhash estimate vs true shingle Jaccard per candidate pair; "
            "the exact pass is semi-joined down to candidate docs only"
        ),
    ),
    "docs_dedup_pipeline": Op(
        "docs_dedup_pipeline",
        docs_dedup_pipeline,
        _pipeline_sql(),
        headline=True,
        description=(
            "composed curation cascade (quality -> exact -> near-dup CC) "
            "with auditable per-doc drop reasons; built from the "
            "registry's own stage primitives"
        ),
    ),
    "dedup_levenshtein": Op("dedup_levenshtein", dedup_levenshtein, LEVENSHTEIN_SQL),
    "dedup_ngram_jaccard": Op("dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": Op("dedup_minhash_lsh", dedup_minhash_lsh, MINHASH_SQL, headline=True),
    "docs_incremental_dedup": Op(
        "docs_incremental_dedup",
        docs_incremental_dedup,
        INCREMENTAL_DEDUP_SQL,
        description=(
            "daily-batch dedup: new docs (doc_id%5==4) verdict against "
            "the existing corpus only — exact md5 tier + minhash band "
            "tier, no old-vs-old or new-vs-new pair work"
        ),
    ),
    "dedup_cross_source_matrix": Op(
        "dedup_cross_source_matrix", dedup_cross_source_matrix, CROSS_SOURCE_SQL
    ),
    "dedup_simhash": Op("dedup_simhash", dedup_simhash, SIMHASH_SQL, headline=True),
    "embeddings_knn_label_check": Op(
        "embeddings_knn_label_check",
        embeddings_knn_label_check,
        _knn_label_check_sql(),
        description=(
            f"kNN label-error detection: {_KNN_K} nearest LSH-candidate "
            "neighbors majority-vote each vector's label; mismatches are "
            "suspected annotation errors; bucket resolution follows the "
            "occupancy<=64 bits ladder (8..16), never n^2"
        ),
    ),
    "dedup_embedding": Op(
        "dedup_embedding",
        dedup_embedding,
        EMBED_DEDUP_SQL,
        description=(
            "APPROXIMATE: cosine>=0.95 pairs restricted to hyperplane-LSH "
            "bucket candidates (4 tables x 8 bits). Expected per-pair "
            "candidate recall at the threshold angle ~0.89; near-identical "
            "pairs ~1.0. The oracle mirrors the buckets bit-for-bit, so the "
            "driver gate checks the approximate semantics exactly; "
            "dedup_embedding_exact is the budget-gated exhaustive twin."
        ),
    ),
}
