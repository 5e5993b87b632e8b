"""Similarity search over the ``embeddings`` table (``array<float>``).

- ``ann_cosine_topk``: brute-force cosine top-k — the exact baseline.
  Query set is broadcast; candidate scan is embarrassingly parallel,
  so on a cluster this is one pass over the big side (fine for small
  Q, the usual "score a probe set" shape).
- ``ann_lsh_cosine``: random-hyperplane LSH — signature buckets bound
  the candidate set, then exact re-rank inside buckets. This is the
  100 TB path: the bucket join replaces the full cross product.
  Hyperplanes are md5-seeded ±1 vectors (deterministic, no RNG state).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deker_server_adapters_spark.functions.histogram import (
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.functions.vectors import (
    centroid_argmax_cell,
    cosine_similarity,
    dot,
)
from deker_server_adapters_spark.operators import Op
from deker_server_adapters_spark.sources.tables import load_table

_N_QUERIES = 10
_TOP_K = 5
_DIM = 64
# multi-table LSH: L tables of b hyperplane bits. Collision prob per
# table is p^b (p = 1 - angle/pi); recall = 1 - (1 - p^b)^L. On this
# corpus true neighbors sit at ~70 deg (p~0.61), so 8x4 bits gives
# ~0.7 recall while scanning ~L/2^b of the corpus per query.
_N_TABLES = 8
_BITS_PER_TABLE = 4
_N_PLANES = _N_TABLES * _BITS_PER_TABLE


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deker_server_adapters_spark.functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # norms once per row (not per query x candidate pair); identical
    # values, |Q|x less norm work
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    scored = (
        cand.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            round_ties_safe(dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


ANN_TOPK_SQL = f"""
SELECT query_id, neighbor_id, cosine, rnk
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} AS cosine,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {round_ties_safe_sql("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} DESC,
                      c.vec_id) AS INT) AS rnk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
) t
WHERE rnk <= {_TOP_K}
"""


_HN_K = 3  # hard negatives / positives kept per query


def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training (public
    practice: in-batch/hard-negative mining, e.g. SimCLR/DPR lineage):
    per query vector, the ``_HN_K`` HARD NEGATIVES (highest-cosine
    vectors with a DIFFERENT label — the confusable imposters) and
    ``_HN_K`` HARD POSITIVES (lowest-cosine vectors with the SAME
    label — the stretched in-class examples). One corpus scan scores
    both kinds; a single window ranks them via a sign-flipped sort key
    (-cosine for negatives, +cosine for positives — exact IEEE
    negation of the already-rounded score, so both engines rank
    identical keys).

    Scale shape: identical to ``ann_cosine_topk`` — the query set
    broadcasts, the corpus is scanned once, embarrassingly parallel,
    and the window partitions on (query, kind) over an already-
    filtered stream. At production corpus sizes the candidate scan
    swaps for the IVF/LSH bucket paths exactly as the ANN family
    does; the brute-force form is the exact baseline by definition."""
    from deker_server_adapters_spark.functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    scored = (
        cand.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            round_ties_safe(dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6),
        )
        .withColumn(
            "kind",
            F.when(F.col("query_label") != F.col("neighbor_label"), "hard_neg").otherwise(
                "hard_pos"
            ),
        )
        .withColumn(
            "skey",
            F.when(F.col("kind") == "hard_neg", -F.col("cosine")).otherwise(F.col("cosine")),
        )
    )
    w = Window.partitionBy("query_id", "kind").orderBy("skey", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _HN_K)
        .select(
            "query_id", "query_label", "kind", "neighbor_id", "neighbor_label", "cosine", "rnk"
        )
    )


def _hard_negatives_sql() -> str:
    cos = round_ties_safe_sql(
        "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6
    )
    kind = "CASE WHEN q.label <> c.label THEN 'hard_neg' ELSE 'hard_pos' END"
    return f"""
SELECT query_id, query_label, kind, neighbor_id, neighbor_label, cosine, rnk
FROM (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         {kind} AS kind,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {cos} AS cosine,
         CAST(row_number() OVER (
             PARTITION BY q.vec_id, {kind}
             ORDER BY CASE WHEN q.label <> c.label THEN -{cos} ELSE {cos} END,
                      c.vec_id) AS INT) AS rnk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
) t
WHERE rnk <= {_HN_K}
"""


def _hyperplanes(n_planes: int = _N_PLANES, dim: int = _DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — reproducible across runs
    and engines, no RNG state to ship."""
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{j}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:8], 16) % 2 == 1 else -1.0)
        planes.append(row)
    return planes


def lsh_signatures(emb: DataFrame) -> DataFrame:
    """One (table, bucket) row per input row per LSH table: the
    multi-table signature index. A vector's bucket in table t is the
    integer of its sign bits under that table's hyperplanes.

    r17: evaluated through the Arrow kernel (``signature_rows``) — the
    expression form's 32 per-plane ``aggregate`` folds ran interpreted
    per row; rows out are pinned bit-identical to the reference form
    ``_lsh_signatures_expr`` in ``tests/reference_forms.py``."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows

    planes = _hyperplanes(_N_PLANES)
    src = emb.select(
        "*",
        F.lit(_BITS_PER_TABLE).alias("nbits"),
        F.lit(_N_TABLES).alias("ntables"),
        F.lit(0).alias("nprobes"),
    )
    return signature_rows(
        src, planes, _N_TABLES, _BITS_PER_TABLE, 0, list(emb.columns), False
    )


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates = union of the query's buckets
    across all LSH tables, exact cosine re-rank on the candidate set.
    Fully oracled (r14): the DuckDB twin replays the md5 hyperplane
    buckets and the tie-safe rank; recall vs brute force additionally
    asserted in tests and by ``ann_lsh_recall``.

    The bucket join replaces the full cross product: per query it
    touches ~L/2^b of the corpus instead of all of it, and the
    candidate-set dedup keys on (query, neighbor). r17: signatures and
    the candidate re-rank cosine evaluate through the Arrow kernels
    (``signature_rows`` / ``cos_scored``), same IEEE op order as the
    interpreted HOF folds they replaced."""
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    emb = lsh_signatures(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "tbl", "bucket"
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"), "tbl", "bucket"
    )
    pairs = (
        cand.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qe", "ne")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cos_scored(pairs, 6, a="qe", b="ne", out="cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + dispersion — the IVF coarse-quantizer step
    (centroids here are the 'inverted file' cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(round_ties_safe(F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v"), 6).alias("centroid_v"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_dims"),
            F.round(F.sum(F.abs(F.col("centroid_v")).cast("decimal(30,12)")), 4).cast("double").alias("centroid_l1"),
        )
    )


CENTROID_SQL = f"""
WITH exploded AS (
  SELECT label, CAST(u.i - 1 AS INT) AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
), cents AS (
  SELECT label, dim, {round_ties_safe_sql("CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / count(v)", 6)} AS centroid_v
  FROM exploded GROUP BY label, dim
)
SELECT label, count(*) AS n_dims, CAST(round(sum(CAST(abs(centroid_v) AS DECIMAL(30,12))), 4) AS DOUBLE) AS centroid_l1
FROM cents GROUP BY label
"""


_IVF_CELLS = 8
_IVF_PROBES = 3


def _ivf_centroids(emb: DataFrame, k: int = _IVF_CELLS) -> DataFrame:
    """Coarse quantizer: k-means-lite with deterministic seeds (the
    md5-smallest vec_ids) and one Lloyd refinement, all as DataFrame
    aggregations — no mllib dependency, fully distributed.

    Determinism discipline (so the recall oracle can replay it in
    DuckDB): assignment sims round to 1e-9 before ranking (ties break
    to the lowest cell), and the refined per-dim means accumulate in
    DECIMAL then round to 1e-9 — order-independent and engine-exact,
    the same device ``label_centroids`` / ``kmeans_assignments`` use.

    r17: the assignment evaluates through the Arrow kernel
    (``functions/veccompute.cells_ranked``) instead of a
    crossJoin(broadcast) + per-vector window — one map-only stage in
    place of an n·k-row window shuffle, identical rows (the kernel
    replays the rounded-cosine fold and the desc-sim/lowest-cell rank
    order). The k seed rows collect to the driver exactly as
    ``pq_codebooks``'s seeds already do."""
    from deker_server_adapters_spark.functions.hashing import h32
    from deker_server_adapters_spark.functions.veccompute import cells_ranked

    seed_rows = (
        emb.withColumn("hk", h32(F.col("vec_id")))
        .orderBy("hk")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    if not seed_rows:  # empty corpus: typed empty centroid table
        return emb.sparkSession.createDataFrame([], "cell int, ce array<double>")
    seeds = [
        (cell, [float(v) for v in r.embedding])
        for cell, r in enumerate(sorted(seed_rows, key=lambda r: r.vec_id))
    ]

    # one Lloyd iteration: reassign -> recompute mean centroids (only
    # the embedding column crosses the Arrow boundary — guide §4.2)
    assigned = cells_ranked(emb.select("embedding"), seeds, 1, ["embedding"])
    new_cents = (
        assigned.select("cell", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"))
        .groupBy("cell", "d")
        .agg(
            round_ties_safe(
                F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v"), 9
            ).alias("cv")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cv"))).alias("pairs"))
        .select("cell", F.expr("transform(pairs, p -> p.cv)").alias("ce"))
    )
    return new_cents


def _local_centroids(emb: DataFrame, k: int = _IVF_CELLS) -> DataFrame:
    """``_ivf_centroids`` materialized to a K-row LocalRelation.

    The consumers reference the centroid table from several plan
    branches (inverted file + query probes); a ``persist()`` here used
    to leak past the builder (the one r7 deviation from the repo's
    persist-hygiene rule). Collecting K=8 tiny rows once instead runs
    the trainer exactly once, leaves nothing persisted, and gives the
    branches a LocalRelation that broadcasts without a recompute — the
    shape that survives 100 TB, where re-running the quantizer per
    branch would double the corpus scans."""
    cents = _ivf_centroids(emb, k)
    return emb.sparkSession.createDataFrame(cents.collect(), schema=cents.schema)


def _centroid_rows(emb: DataFrame, k: int = _IVF_CELLS) -> "list[tuple[int, list[float]]]":
    """The trained IVF centroid table as a sorted driver-side list of
    (cell, centroid) — the form ``cells_ranked`` takes (r17). Same
    single-collect discipline as ``_local_centroids``."""
    return sorted(
        (int(r.cell), [float(v) for v in r.ce]) for r in _ivf_centroids(emb, k).collect()
    )


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into cells, probe the
    query's top-``_IVF_PROBES`` cells, exact re-rank inside. The scale
    path for 100 TB: the centroid table is a broadcast of K rows and
    the corpus is scanned once to build the inverted file; queries
    touch ~probes/K of the data. Fully oracled (r14): the DuckDB twin
    replays the trainer, inverted file and probes; recall additionally
    measured by ``ann_ivf_recall``."""
    from deker_server_adapters_spark.functions.veccompute import cells_ranked

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroid_rows(emb)
    # inverted file: cell assignment for every vector (sims rounded to
    # 1e-9 before ranking — same determinism discipline as the
    # quantizer, so the recall oracle can replay the assignment).
    # r17: assignment + probe ranking evaluate through the Arrow
    # kernel — map-only stages in place of the crossJoin + per-vector
    # window shuffles; identical rows (see cells_ranked).
    inv = cells_ranked(
        emb.select("vec_id", "embedding"), cents, 1, ["vec_id", "embedding"]
    ).select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"), "cell")
    # queries probe their top cells
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    qcells = cells_ranked(
        queries.select("vec_id", "embedding"), cents, _IVF_PROBES, ["vec_id", "embedding"]
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell")
    # r18 (guide §2.4, §4.2): the old dropDuplicates([query_id,
    # neighbor_id]) here was a no-op dedup — the inverted file emits
    # exactly ONE row per vector (top=1 row_number) and a query's probe
    # cells are DISTINCT (one row per rank), so a (query, neighbor)
    # pair can match on at most one cell — yet it planned as a
    # Sort+SortAggregate pair around an Exchange that shuffled BOTH
    # 64-dim embeddings per candidate row (first()-aggregated). Dropped
    # (pinned by test_ivf_candidates_have_no_duplicates + oracle). The
    # refine cosine then evaluates through the Arrow kernel instead of
    # the interpreted zip_with/aggregate fold — identical rows
    # (cos_scored's contract), map-only on the scan's partitioning.
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    pairs = (
        inv.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qe", "ne")
    )
    scored = cos_scored(pairs, 6, a="qe", b="ne", out="cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def quantize_int8(emb_col):
    """Per-vector symmetric int8 scalar quantization: q_i =
    round(127 * v_i / max|v|). The per-vector scale is a positive
    factor that CANCELS in cosine, so quantized cosine approximates
    the original with only rounding noise (~1/254 per component)."""
    mx = F.greatest(
        F.array_max(F.transform(emb_col, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),  # zero vector -> all-zero quantized, not NaN
    )
    scale = F.lit(127.0) / mx
    # native-round-ok: single-arg round-to-integer is tie-safe — a
    # shortest rendering of "X.5" implies the double IS exactly X.5
    # (dyadic), where both engines round half away from zero alike
    return F.transform(emb_col, lambda x: F.round(x.cast("double") * scale).cast("int"))


def ann_int8_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — the
    bytes-reduction scale path: a 64-dim float32 row shrinks 4x, so
    the broadcast query set, the shuffle, and the scan all move 4x
    fewer bytes (with 100 TB of embeddings, that IS the cost). Exact
    same join/rank shape as ann_cosine_topk; fully oracled (r14) —
    the DuckDB twin replays the symmetric quantization — with recall
    vs the exact baseline additionally measured by
    ``ann_int8_recall``."""
    from deker_server_adapters_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "qv", quantize_int8(F.col("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qe"),
        l2_norm(F.col("qv")).alias("qn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("ne"),
        l2_norm(F.col("qv")).alias("nn"),
    )
    scored = cand.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).withColumn(
        "cosine",
        round_ties_safe(dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@k per query: fraction of the EXACT top-k the approximate
    method recovered. Grouped from the exact side so every query
    appears even at zero hits; n_hits is a count (BIGINT in both
    engines — never a DuckDB HUGEINT sum)."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            round_ties_safe(F.count("hit") / F.lit(float(_TOP_K)), 4).alias("recall"),
        )
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality eval for ``ann_lsh_cosine``: per-query
    recall@k vs the brute-force baseline — the measure-don't-guess row
    for tuning L x b (mirrors what ``docs_near_dup_eval`` does for
    minhash). Fully deterministic (md5 hyperplanes, 6-dp cosine, id
    tiebreaks), so the DuckDB oracle replays buckets bit for bit and
    this converts the family's pytest-only recall guarantee into a
    driver-gate hash row."""
    return _recall_vs_exact(
        ann_cosine_topk(spark, sf_dir), ann_lsh_cosine(spark, sf_dir)
    )


def ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the int8 scalar-quantized brute force vs the float
    baseline — measures quantization loss, not candidate pruning."""
    return _recall_vs_exact(
        ann_cosine_topk(spark, sf_dir), ann_int8_cosine(spark, sf_dir)
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF probe path vs the brute-force baseline —
    measures what the ``_IVF_PROBES``/``_IVF_CELLS`` trade-off costs."""
    return _recall_vs_exact(
        ann_cosine_topk(spark, sf_dir), ann_ivf_cosine(spark, sf_dir)
    )


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of PQ ADC + exact re-rank vs the brute-force baseline —
    measures what reconstruction noise costs once the shortlist/refine
    trade is in place. The DuckDB oracle replays the whole trainer
    (unrolled Lloyd CTEs, ``_pq_train_cte``), converting the family's
    last pytest-only recall guarantee into a driver-gate hash row."""
    return _recall_vs_exact(
        ann_cosine_topk(spark, sf_dir), ann_pq_cosine(spark, sf_dir)
    )


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the composed IVF x PQ x refine path vs brute force —
    the production configuration's end-to-end quality row."""
    return _recall_vs_exact(
        ann_cosine_topk(spark, sf_dir), ann_ivfpq_cosine(spark, sf_dir)
    )


def _duck_lsh_buckets() -> str:
    """(vec_id, tbl, bucket) in DuckDB mirroring ``lsh_signatures``
    exactly: same md5 planes (8 tables x 4 bits), same left-to-right
    double accumulation, same sign rule — the device proven bit-exact
    by ``dedup_embedding``'s oracle."""
    planes = _hyperplanes(_N_PLANES)
    selects = []
    for t in range(_N_TABLES):
        bits = []
        for i in range(_BITS_PER_TABLE):
            p = planes[t * _BITS_PER_TABLE + i]
            dot_sql = " + ".join(
                f"embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(f"(CASE WHEN ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)")
        selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({' + '.join(bits)} AS BIGINT) AS bucket FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


_RECALL_TAIL_SQL = f"""
SELECT e.query_id, count(a.neighbor_id) AS n_hits,
       {round_ties_safe_sql(f"count(a.neighbor_id) / {float(_TOP_K)}", 4)} AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def _lsh_recall_sql() -> str:
    return f"""
WITH exact AS ({ANN_TOPK_SQL}),
b AS (
{_duck_lsh_buckets()}
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM b qb JOIN b nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket
  WHERE qb.vec_id < {_N_QUERIES} AND qb.vec_id <> nb.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings en ON en.vec_id = c.neighbor_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
  ) t WHERE rnk <= {_TOP_K}
)
{_RECALL_TAIL_SQL}
"""


def _int8_recall_sql() -> str:
    return f"""
WITH exact AS ({ANN_TOPK_SQL}),
qt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS qv
  FROM (
    SELECT vec_id, embedding,
           127.0 / greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30) AS scale
    FROM embeddings
  )
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(q.qv::DOUBLE[], c.qv::DOUBLE[])", 6)} AS cosine
  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
  ) t WHERE rnk <= {_TOP_K}
)
{_RECALL_TAIL_SQL}
"""


def _ivf_inv_cte(limit_sql: str = str(_IVF_CELLS)) -> str:
    """WITH-fragment replaying the IVF coarse quantizer + inverted
    file (``_ivf_centroids`` + full-corpus assignment) in DuckDB; ends
    with ``inv(neighbor_id, cell)``. Shared by ``_ivf_cand_cte`` (the
    IVF/IVFPQ recall oracles) and the semantic-dedup oracle — split
    out verbatim so the default rendering (and thus every existing op
    fingerprint) is byte-identical to the pre-split form.
    ``limit_sql``: the seed-count k as SQL text — a literal, or a
    scalar subquery for data-adaptive k (the semantic-dedup ladder)."""
    from deker_server_adapters_spark.functions.hashing import h32_sql

    return f"""
seeds AS (
  SELECT vec_id, embedding,
         CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY {h32_sql("vec_id")} LIMIT {limit_sql})
), a0 AS (
  SELECT e.vec_id, e.embedding, s.cell,
         {round_ties_safe_sql("list_cosine_similarity(e.embedding::DOUBLE[], s.embedding::DOUBLE[])", 9)} AS sim
  FROM embeddings e CROSS JOIN seeds s
), asg0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a0
  ) t WHERE rn = 1
), cent AS (
  SELECT cell, CAST(u.i - 1 AS INT) AS d,
         -- FLOAT must go through DOUBLE before DECIMAL: DuckDB's direct
         -- FLOAT->DECIMAL cast converts in float32 arithmetic and is
         -- wrong past ~7 significant digits (r11 find; Spark casts the
         -- array to double first, so the engines diverged ~1e-9/dim)
         {round_ties_safe_sql("CAST(sum(CAST(CAST(embedding[u.i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / count(*)", 9)} AS cv
  FROM asg0, UNNEST(range(1, len(embedding) + 1)) u(i)
  GROUP BY cell, d
), cents AS (
  SELECT cell, list(cv ORDER BY d) AS ce FROM cent GROUP BY cell
), a1 AS (
  SELECT e.vec_id, c.cell,
         {round_ties_safe_sql("list_cosine_similarity(e.embedding::DOUBLE[], c.ce)", 9)} AS sim
  FROM embeddings e CROSS JOIN cents c
), inv AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a1
  ) t WHERE rn = 1
)"""


def _ivf_cand_cte() -> str:
    """WITH-fragment replaying the IVF candidate generation
    (``_ivf_centroids`` + inverted file + query probes) in DuckDB;
    ends with ``cand(query_id, neighbor_id)``. Shared by the IVF and
    IVFPQ recall oracles."""
    return f"""{_ivf_inv_cte()}, qcells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
    FROM a1 WHERE vec_id < {_N_QUERIES}
  ) t WHERE rn <= {_IVF_PROBES}
), cand AS (
  SELECT DISTINCT q.query_id, i.neighbor_id
  FROM qcells q JOIN inv i ON q.cell = i.cell
  WHERE q.query_id <> i.neighbor_id
)"""


def _ivf_recall_sql() -> str:
    return f"""
WITH exact AS ({ANN_TOPK_SQL}),
{_ivf_cand_cte()}, scored AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings en ON en.vec_id = c.neighbor_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
  ) t WHERE rnk <= {_TOP_K}
)
{_RECALL_TAIL_SQL}
"""


# Rank tail shared by the ANN query-path oracles (r14: graduates the
# LSH/IVF/int8 query ops from rows-only): tie-safe top-k over a
# ``scored(query_id, neighbor_id, cosine)`` CTE — the same 6-dp
# cosine + id tiebreak the Spark ops rank by.
_ANN_TOPK_TAIL_SQL = f"""
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
  FROM scored
) t WHERE rnk <= {_TOP_K}
"""


def _lsh_topk_sql() -> str:
    """Oracle for ``ann_lsh_cosine``: the recall twin's bucket-replay
    CTEs (``_duck_lsh_buckets`` — proven bit-exact by the driver-green
    ``ann_lsh_recall``) plus the tie-safe top-k tail, so the query
    path's actual output rows hash-match, not just its recall."""
    return f"""
WITH b AS (
{_duck_lsh_buckets()}
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM b qb JOIN b nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket
  WHERE qb.vec_id < {_N_QUERIES} AND qb.vec_id <> nb.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings en ON en.vec_id = c.neighbor_id
)
{_ANN_TOPK_TAIL_SQL}
"""


def _ivf_topk_sql() -> str:
    """Oracle for ``ann_ivf_cosine``: the recall twin's quantizer +
    inverted-file + probe replay (``_ivf_cand_cte``) plus the tie-safe
    top-k tail."""
    return f"""
WITH {_ivf_cand_cte()}, scored AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings en ON en.vec_id = c.neighbor_id
)
{_ANN_TOPK_TAIL_SQL}
"""


def _int8_topk_sql() -> str:
    """Oracle for ``ann_int8_cosine``: the recall twin's quantization
    replay (per-vector symmetric int8, identical round/clamp) plus the
    tie-safe top-k tail over the quantized cosines."""
    return f"""
WITH qt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS qv
  FROM (
    SELECT vec_id, embedding,
           127.0 / greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30) AS scale
    FROM embeddings
  )
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(q.qv::DOUBLE[], c.qv::DOUBLE[])", 6)} AS cosine
  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
)
{_ANN_TOPK_TAIL_SQL}
"""


_SEM_TAU = 0.35  # same angle as the threshold join: ~p99.9 of pair-cosine mass

# Cluster-count ladder: smallest k with n <= 32*k^2, i.e. k ~ sqrt(n/32),
# the balance point of the two SemDeDup cost terms (assignment n*k vs
# within-cluster pairs n^2/k — total ~ n^1.5 at the sqrt choice, the
# published algorithm's complexity class). Integer-compare thresholds so
# the oracle replays the choice exactly (the threshold-join bits-ladder
# device); capped at 1024 cells (n ~ 32M per job — shard above that).
_SEM_K_LADDER = [
    (2_048, 8),
    (8_192, 16),
    (32_768, 32),
    (131_072, 64),
    (524_288, 128),
    (2_097_152, 256),
    (8_388_608, 512),
]
_SEM_K_MAX = 1024


def _sem_k(n: int) -> int:
    for bound, k in _SEM_K_LADDER:
        if n <= bound:
            return k
    return _SEM_K_MAX


def _sem_k_sql() -> str:
    """The ladder as a scalar subquery over the corpus count."""
    cases = " ".join(
        f"WHEN count(*) <= {bound} THEN {k}" for bound, k in _SEM_K_LADDER
    )
    return f"(SELECT CASE {cases} ELSE {_SEM_K_MAX} END FROM embeddings)"


_SEM_BLOCK_ROWS = 96  # target rows per within-cell hash block (see _sem_nblocks)


def _sem_nblocks(n: int, k: int) -> int:
    """Hash blocks per cell for the blocked pair scoring: ~n/k vectors
    live in a cell, so ``ceil((n/k) / _SEM_BLOCK_ROWS)`` blocks keep
    each block×block tile's pair count bounded (~96² pairs) and the
    stage's task count ≈ k·nb²/2 ≫ k — scale-adaptive (derived from
    the corpus count the ladder already reads), not core-count-tuned.
    Capped at 64 (a 64×-corpus block-payload shuffle is the same bound
    ``cos_true_pairs`` ships with); 1 block degenerates to one tile
    per cell, which is still ≥ the old form's k-task ceiling."""
    per_cell = max(1, n // max(k, 1))
    return max(1, min(64, -(-per_cell // _SEM_BLOCK_ROWS)))


def _sem_assignments(
    emb: DataFrame, with_sim: bool = False, n: "int | None" = None
) -> "DataFrame | None":
    """(vec_id, embedding, cell[, best_sim]) under the ladder-k IVF
    quantizer — the compiled-argmin assignment shared by
    ``dedup_semantic``, its recall eval, and the centroid-outlier op
    (first-max = lowest cell, matching the oracle's ``ORDER BY sim
    DESC, cell`` rank-1; ``best_sim`` is that rank-1 sim, 1e-9
    rounded). None on an empty corpus. ``n`` lets a caller that has
    already counted the corpus (the block ladder reads the same
    scalar) skip the count action here."""
    k = _sem_k(emb.count() if n is None else n)
    cents = sorted(_local_centroids(emb, k).collect(), key=lambda r: r.cell)
    if not cents:
        return None
    # The NaN/gap-robust compiled argmin lives in functions/vectors.py
    # (centroid_argmax_cell) — shared verbatim with the streaming twin
    # so streamed assignments match the batch op bit for bit.
    cell, best_sim = centroid_argmax_cell(cents)
    cols = ["vec_id", "embedding", cell.alias("cell")]
    if with_sim:
        cols.append(best_sim.alias("best_sim"))
    return emb.select(*cols)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster the corpus with the IVF
    coarse quantizer (md5-seeded k-means + one Lloyd refinement — the
    exact trainer the IVF recall oracle already replays in SQL), then
    compare vectors ONLY within their cluster and flag any vector
    whose cosine to a LOWER-id cluster-mate reaches ``_SEM_TAU`` as a
    semantic duplicate (min-id-keeper — the deterministic keeper rule
    the exact/minhash dedup family uses). One verdict row per vector:
    cluster, lower-id cluster-mate count, how many of those clear the
    threshold, the max such cosine (tie-safe 6 dp; NULL for a
    cluster's min id), and the keep/drop flag.

    Distinct from ``dedup_embedding`` (LSH candidate pairs at 0.95):
    the candidate space here is cluster-bounded and DETERMINISTIC
    (every cluster-mate is compared — no probabilistic recall), and
    the output is per-vector keep/drop verdicts, not pairs.

    Scale shape (the published SemDeDup design point): the cluster
    count follows the ``_SEM_K_LADDER`` (k ~ sqrt(n/32), integer
    thresholds the oracle replays exactly — the threshold-join
    bits-ladder device), which balances the algorithm's two cost
    terms: assignment is n*k cosines, within-cluster pairs are
    ~n^2/k, so the sqrt choice keeps the total ~n^1.5 (SemDeDup's
    complexity class) instead of letting a fixed k go quadratic.
    Cluster assignment is a compiled argmin expression over the k
    collected centroids — pure codegen, NO per-vector window shuffle
    (first-max = lowest cell, matching the oracle's ``ORDER BY sim
    DESC, cell`` rank-1) — so the only wide ops are the self-join's
    Exchange(cell) and one map-side-combined aggregate on vec_id.
    Centroids travel; the corpus never reshuffles for training. The
    ladder read is one bounded eager count() in the builder — the
    same scalar the oracle's LIMIT subquery computes."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # feeds the k ladder AND the block ladder (nb)
    k = _sem_k(n)
    asg = _sem_assignments(emb, n=n)
    if asg is None:  # empty corpus: typed empty verdict table
        return (
            emb.select(
                "vec_id",
                F.lit(0).cast("int").alias("cell"),
                F.lit(0).cast("long").alias("n_lower"),
                F.lit(0).cast("long").alias("n_dup_lower"),
                F.lit(None).cast("double").alias("max_sim_lower"),
                F.lit(False).alias("is_dup"),
            ).limit(0)
        )
    # r18 (VERDICT item 4, guide §2.2/§8.4): the expression-form pair
    # scoring (``_sem_pair_agg_expr`` in ``tests/reference_forms.py``,
    # the parity-test reference) self-joins the assignment ON ``cell`` — k distinct
    # keys — so the whole pair stream lived on ≤ k partitions (k = 8
    # at the sf0.1 ladder point); the r17 straight Arrow rescore
    # collapsed onto those k tasks and was reverted. The blocked
    # kernel de-ceilings it: each cell splits into ``nb`` hash blocks,
    # every block×block tile scores in NumPy and emits per-vector
    # PARTIAL aggregates, so pair rows never materialize and the stage
    # runs on ~k·nb²/2 tasks. Sums/max are order-independent, the
    # cosine replays the JVM fold, and NaN cosines (zero-norm vectors)
    # keep Spark's NaN-greatest semantics via the ``hn`` fold —
    # byte-identical output, pinned by parity test + oracle.
    from deker_server_adapters_spark.functions.veccompute import cell_pair_stats

    nb = _sem_nblocks(n, k)
    partials = cell_pair_stats(asg, _SEM_TAU, 6, nb)
    agg = (
        partials.groupBy("vec_id")
        .agg(
            F.sum("cnt").alias("n_lower"),
            F.sum("dup").alias("n_dup_lower"),
            F.max("mx").alias("mx"),
            F.max("hn").alias("hn"),
        )
        .select(
            "vec_id",
            "n_lower",
            "n_dup_lower",
            F.when(F.col("hn"), F.lit(float("nan")))
            .otherwise(F.col("mx"))
            .alias("max_sim_lower"),
        )
    )
    return (
        asg.select("vec_id", "cell")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("n_lower"), F.lit(0)).cast("long").alias("n_lower"),
            F.coalesce(F.col("n_dup_lower"), F.lit(0)).cast("long").alias("n_dup_lower"),
            "max_sim_lower",
            (F.coalesce(F.col("n_dup_lower"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


def embeddings_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier/OOD detection — the pre-training
    filter that routes vectors far from every cluster (garbage,
    corrupted, off-distribution samples) to review: a vector whose
    cosine to its OWN (best) centroid falls more than 0.1 below its
    cell's average is flagged. Reuses the ladder-k quantizer
    assignment (``_sem_assignments(with_sim=True)``); the flag
    threshold is an absolute offset, not a ratio, so near-zero or
    negative cell averages keep monotone semantics. Scale shape: one
    corpus scan for the assignment (compiled argmin — no shuffle),
    one map-side-combined per-cell average (≤k rows) broadcast back.

    The per-cell average follows the decimal-sum discipline
    (order-independent), and the flag compares two identically-derived
    doubles — both engines agree bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = _sem_assignments(emb, with_sim=True)
    if asg is None:  # empty corpus: typed empty
        return emb.select(
            "vec_id",
            F.lit(0).cast("int").alias("cell"),
            F.lit(0.0).alias("centroid_sim"),
            F.lit(0.0).alias("cell_avg_sim"),
            F.lit(False).alias("is_outlier"),
        ).limit(0)
    per_cell = asg.groupBy("cell").agg(
        round_ties_safe(
            F.sum(F.col("best_sim").cast("decimal(20,9)")).cast("double") / F.count("*"),
            6,
        ).alias("cell_avg_sim")
    )
    sim6 = round_ties_safe(F.col("best_sim"), 6)
    return asg.join(F.broadcast(per_cell), "cell").select(
        "vec_id",
        "cell",
        sim6.alias("centroid_sim"),
        "cell_avg_sim",
        (sim6 < F.col("cell_avg_sim") - 0.1).alias("is_outlier"),
    )


def _centroid_outliers_sql() -> str:
    return f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, best AS (
  SELECT vec_id, cell, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a1
  ) t WHERE rn = 1
), agg AS (
  SELECT cell,
         {round_ties_safe_sql("CAST(sum(CAST(sim AS DECIMAL(20,9))) AS DOUBLE) / count(*)", 6)} AS cell_avg_sim
  FROM best GROUP BY cell
)
SELECT b.vec_id AS vec_id, b.cell AS cell,
       {round_ties_safe_sql("b.sim", 6)} AS centroid_sim,
       a.cell_avg_sim AS cell_avg_sim,
       {round_ties_safe_sql("b.sim", 6)} < a.cell_avg_sim - 0.1 AS is_outlier
FROM best b JOIN agg a ON a.cell = b.cell
"""


def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall eval twin of ``dedup_semantic`` (the family pattern:
    every approximate candidate scheme ships an oracled recall
    measurement): cluster partitioning MISSES cross-cluster pairs by
    design, so this measures what fraction of ALL cosine >= tau pairs
    land with both ends in the same cell. Brute-force n^2 side is
    eval-only (the `ann_threshold_join_recall` precedent — fine at
    test scale, the thing the clustered path exists to avoid at
    production scale). One row: true pairs, captured pairs,
    zero-guarded recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = _sem_assignments(emb)
    # r17: truth side evaluated BLOCKED — cos_true_pairs replays the
    # pair-row form (BNLJ + cos_scored + filter) bit-exactly but the
    # n²/2 pair rows never materialize or cross the Arrow boundary
    # (the boundary carries O(n·nblocks) block payloads instead).
    from deker_server_adapters_spark.functions.veccompute import cos_true_pairs

    tp = cos_true_pairs(emb, _SEM_TAU, 6, a_name="va", b_name="vb")
    if asg is not None:
        ca = asg.select(F.col("vec_id").alias("va"), F.col("cell").alias("cell_a"))
        cb = asg.select(F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b"))
        joined = tp.join(ca, "va").join(cb, "vb")
    else:
        joined = tp.withColumn("cell_a", F.lit(0)).withColumn("cell_b", F.lit(1))
    cap = F.sum(F.when(F.col("cell_a") == F.col("cell_b"), 1).otherwise(0))
    return joined.agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.coalesce(cap, F.lit(0)).cast("long").alias("n_captured"),
        F.when(
            F.count("*") > 0,
            round_ties_safe(cap.cast("double") / F.count("*"), 4),
        ).alias("recall"),
    )


def _semantic_recall_sql() -> str:
    cos = round_ties_safe_sql(
        "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])", 6
    )
    return f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, asg AS (
  SELECT neighbor_id AS vec_id, cell FROM inv
), tp AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_SEM_TAU}
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(COALESCE(sum(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_captured,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
       END AS recall
FROM tp
JOIN asg ca ON ca.vec_id = tp.va
JOIN asg cb ON cb.vec_id = tp.vb
"""


def _semantic_dedup_sql() -> str:
    return f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, invv AS (
  SELECT neighbor_id AS vec_id, cell FROM inv
), pairs AS (
  SELECT a.vec_id AS vid, a.cell AS cell,
         {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 6)} AS cos
  FROM invv a JOIN invv b ON a.cell = b.cell AND b.vec_id < a.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
), agg AS (
  SELECT vid, CAST(count(*) AS BIGINT) AS n_lower,
         CAST(sum(CASE WHEN cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lower,
         max(cos) AS max_sim_lower
  FROM pairs GROUP BY vid
)
SELECT i.vec_id AS vec_id, i.cell AS cell,
       COALESCE(a.n_lower, 0) AS n_lower,
       COALESCE(a.n_dup_lower, 0) AS n_dup_lower,
       a.max_sim_lower AS max_sim_lower,
       COALESCE(a.n_dup_lower, 0) > 0 AS is_dup
FROM invv i LEFT JOIN agg a ON a.vid = i.vec_id
"""


# --- hybrid TABLES ladder (r13, the r12-verdict recall buy-back) ----------
# The bits ladder holds bucket occupancy as n grows, but each +1 bit
# multiplies per-table collision probability by p < 1, so hybrid pair
# recall decayed 0.79 -> 0.58 at the 10x corpus step (PERF.md). The
# tj_sweep pricing says +4 tables buys back ~+0.09-0.13 recall, so the
# TABLE count steps with the SAME integer thresholds the bits ladder
# uses: L = base + step * (nbits - floor), capped. Signature cost grows
# linearly with L (map-only codegen dots); candidate pairs stay bounded
# per table by the occupancy cap. Scoped to the HYBRID ops — the plain
# threshold join keeps its fixed-8-tables contract and measured recall.
_HY_TABLES_BASE = _N_TABLES  # == _TJ_TABLES (defined below); 8 at the floor
_HY_TABLES_STEP = 4
_HY_MAX_TABLES = 24  # covers nbits up to _TJ_MIN_BITS + 4

# Multi-probe ladder (r14, the frontier measurement's verdict): the
# tables ladder alone does NOT hold recall past 10x — measured 0.744
# (nbits=6, 16 tables) -> 0.682 (nbits=7, 20) -> 0.617 (nbits=8, 24,
# the cap) on the replicated-corpus frontier (tools/hybrid_frontier.py;
# +4 tables buys ~+0.09 recall while +1 bit costs ~+0.15). So past the
# 10x regime each vector ALSO probes the Hamming-adjacent buckets of
# its home bucket (flip bit p, p < nprobes — Lv et al. 2007's
# multi-probe LSH, public): a true pair is captured when the HIGHER id's
# probe lands on the lower id's home bucket, i.e. candidate space is
# "Hamming distance <= 1 within the probed positions" per table — no
# new pair regime, LSH candidate volume scales by exactly (1+nprobes).
# nprobes = 0 through nbits 6 (the certified 1x/10x behavior is
# bit-identical), 1 at nbits 7, 2 at nbits 8, 3 from nbits 9 (r15).
#
# The nbits=9 step (nprobes 3) is MEASURED, not extrapolated (r14
# verdict item 3, tools/hybrid_frontier.py at 100x = 200k vectors, the
# first corpus to reach the regime): with 2 probes recall fell to
# 0.694 — under the 0.70 bar for the first time — and the forced 3rd
# probe bought it back to 0.756 at 1.27x the LSH candidate volume
# (3.04e9 -> 3.87e9 pairs on the replicated frontier corpus). The
# decay trend (+1 bit ~ -0.12 recall, +1 probe ~ +0.06) says probing
# CANNOT keep paying past this regime: at nbits >= 10 (n > 262,144 =
# the nbits=9 ceiling), SHARD instead — run the op per <= 262k-vector
# shard at the certified ladder points and merge verdicts
# (docs/PERF.md, r15 frontier section, states the recommendation).
#
# _HY_MAX_PROBES is both the ladder max and the COMPILED probe
# capacity of the signature explode / DuckDB twin unroll; every entry
# is gated `p < nprobes` in both engines, and the frontier harness can
# force above-ladder values only after raising the capacity (how the
# r15 measurement was taken at capacity 3, ladder-capped 2).
_HY_MAX_PROBES = 3


def _hy_tables_for_bits(b: int) -> int:
    return min(
        _HY_MAX_TABLES, _HY_TABLES_BASE + _HY_TABLES_STEP * (b - _TJ_MIN_BITS)
    )


def _hy_probes_for_bits(b: int) -> int:
    if b <= 6:
        return 0
    return min(b - 6, _HY_MAX_PROBES)


def _hy_tables_ladder_sql(n_expr: str) -> str:
    """CASE ladder for the hybrid TABLE count — same integer thresholds
    as ``_tj_bits_ladder_sql``, so both engines derive (nbits, ntables)
    from count(*) with pure integer comparisons."""
    branches = []
    for b in range(_TJ_MIN_BITS, _TJ_MAX_BITS):
        branches.append(
            f"WHEN {n_expr} <= {_TJ_TARGET_BUCKET * (1 << b)} THEN {_hy_tables_for_bits(b)}"
        )
    return f"CASE {' '.join(branches)} ELSE {_hy_tables_for_bits(_TJ_MAX_BITS)} END"


def _hy_probes_ladder_sql(n_expr: str) -> str:
    """CASE ladder for the probe count — same thresholds again, so the
    oracle replays (nbits, ntables, nprobes) from one count(*)."""
    branches = []
    for b in range(_TJ_MIN_BITS, _TJ_MAX_BITS):
        branches.append(
            f"WHEN {n_expr} <= {_TJ_TARGET_BUCKET * (1 << b)} THEN {_hy_probes_for_bits(b)}"
        )
    return f"CASE {' '.join(branches)} ELSE {_hy_probes_for_bits(_TJ_MAX_BITS)} END"


def _hy_nrow(emb: DataFrame) -> DataFrame:
    """1-row (nbits, ntables, nprobes) corpus-size ladder read,
    broadcast into the signature computation — the same eager-scalar
    device as the threshold join's nbits."""
    return emb.agg(
        F.expr(f"{_tj_bits_ladder_sql('count(*)')}").cast("int").alias("nbits"),
        F.expr(f"{_hy_tables_ladder_sql('count(*)')}").cast("int").alias("ntables"),
        F.expr(f"{_hy_probes_ladder_sql('count(*)')}").cast("int").alias("nprobes"),
    )


def _hy_signatures(emb: DataFrame, nrow: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket, is_probe) under ALL THREE ladders: all
    ``_HY_MAX_TABLES`` tables' sign bits compile in (the plane set
    extends the threshold join's — planes are indexed by (j, d) alone,
    so tables 0..7 hash identically to the fixed-table form); each
    table emits its HOME bucket (is_probe=0) plus up to
    ``_HY_MAX_PROBES`` Hamming-adjacent probe buckets (bit p flipped,
    is_probe=1) gated on the probes ladder. Probes derive from the
    home signature by XOR inside the same row pipeline — the dot
    products compute once per (vector, table) regardless of nprobes.
    Rows beyond the corpus's ntables/nprobes never materialize.

    r17: evaluation moved from the compiled 24-table × 12-bit
    expression tree (interpreted HOF dot folds, ~100k plan nodes that
    every consumer branch re-instantiated) to the Arrow-vectorized
    kernel in ``functions/veccompute.py`` — identical output rows
    (pinned by test + unchanged oracle hashes), 4x on the stage at
    sf0.1 and a tiny plan node in place of the giant tree."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows

    src = emb.crossJoin(F.broadcast(nrow)).select(
        "vec_id", "embedding", "nbits", "ntables", "nprobes"
    )
    return signature_rows(
        src,
        _hyperplanes(_HY_MAX_TABLES * _TJ_MAX_BITS, _DIM),
        _HY_MAX_TABLES,
        _TJ_MAX_BITS,
        _HY_MAX_PROBES,
        ["vec_id"],
        emit_probes=True,
    )


def _hybrid_cand_pairs(
    emb: DataFrame, asg: DataFrame, nrow: "DataFrame | None" = None
) -> DataFrame:
    """(vec_id, vid_b) lower-id candidate mates for the HYBRID
    semantic-dedup verdict: cluster-mates (the SemDeDup space) UNION
    the LSH threshold-join bucket-mates at the same angle. Both
    generators are bounded — the ladder-k cells and the adaptive-bits
    buckets — so the union's cost is the max of two sub-quadratic
    terms, never a new pair regime. The LSH side runs the r13 TABLES
    ladder on top of the bits ladder, plus the r14 PROBES ladder:
    the hi side of the bucket join carries home + Hamming-adjacent
    probe rows, the lo side homes only, so a Hamming-1 pair (within
    the probed bit positions) is captured exactly once — via the
    higher id's probe onto the lower id's home (capture is symmetric:
    sig_hi ^ bit == sig_lo iff sig_lo ^ bit == sig_hi)."""
    ca = asg.select("vec_id", "cell")
    cb = asg.select(F.col("vec_id").alias("vid_b"), "cell")
    cpairs = (
        ca.join(cb, "cell")
        .filter(F.col("vid_b") < F.col("vec_id"))
        .select("vec_id", "vid_b")
    )
    sigs = _hy_signatures(emb, nrow if nrow is not None else _hy_nrow(emb))
    sa = sigs.select(F.col("vec_id").alias("hi"), "tbl", "bucket")
    sb = sigs.filter(F.col("is_probe") == 0).select(
        F.col("vec_id").alias("lo"), "tbl", "bucket"
    )
    lpairs = (
        sa.join(sb, ["tbl", "bucket"])
        .filter(F.col("lo") < F.col("hi"))
        .select(F.col("hi").alias("vec_id"), F.col("lo").alias("vid_b"))
    )
    return cpairs.unionByName(lpairs).distinct()


def dedup_semantic_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-candidate semantic dedup (r12, the recall knob the r11
    verdict asked for): same per-vector keep/drop verdict as
    ``dedup_semantic``, but a vector's lower-id candidate mates are
    its CLUSTER-mates UNION its LSH threshold-join BUCKET-mates at the
    same tau. Pure SemDeDup capture at tau=0.35 on this corpus is
    ~0.32 (cluster partitioning misses cross-cluster pairs by design
    — honest, measured by ``dedup_semantic_recall``); the LSH space
    recovers most cross-cluster pairs, lifting measured pair recall
    to >=0.7 (``dedup_semantic_hybrid_recall``). Regime guidance: at
    HIGH tau (>=0.9, the published SemDeDup operating point) near-dup
    pairs almost always share a cell and the pure form is the cheaper
    default; at mid tau (this 0.35 threshold-join angle) use the
    hybrid.

    Scale shape: both candidate generators are the existing bounded
    forms (ladder-k cells keep within-cell pairs ~n^1.5; the adaptive
    bits ladder keeps bucket occupancy <= _TJ_TARGET_BUCKET), the
    union dedups on the narrow pair key, and each candidate scores
    once. Fully oracled: the DuckDB twin unions the ``_ivf_inv_cte``
    and ``_duck_tj_buckets`` replays."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = _sem_assignments(emb)
    if asg is None:  # empty corpus: typed empty verdict table
        return (
            emb.select(
                "vec_id",
                F.lit(0).cast("int").alias("cell"),
                F.lit(0).cast("long").alias("n_cand_lower"),
                F.lit(0).cast("long").alias("n_dup_lower"),
                F.lit(None).cast("double").alias("max_sim_lower"),
                F.lit(False).alias("is_dup"),
            ).limit(0)
        )
    cand = _hybrid_cand_pairs(emb, asg)
    scored = _sh_score(cand, emb)
    agg = scored.groupBy("vec_id").agg(
        F.count("*").alias("n_cand_lower"),
        F.sum(F.when(F.col("cos") >= _SEM_TAU, 1).otherwise(0)).alias("n_dup_lower"),
        F.max("cos").alias("max_sim_lower"),
    )
    return (
        asg.select("vec_id", "cell")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("n_cand_lower"), F.lit(0)).cast("long").alias("n_cand_lower"),
            F.coalesce(F.col("n_dup_lower"), F.lit(0)).cast("long").alias("n_dup_lower"),
            "max_sim_lower",
            (F.coalesce(F.col("n_dup_lower"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


def _duck_hy_buckets(bits_sql: "str | None" = None, tab_sql: "str | None" = None) -> str:
    """(vec_id, tbl, bucket) in DuckDB mirroring ``_hy_signatures``'s
    home rows: same extended plane set, same sign rule, same integer
    ladders (nbits and ntables from scalar subqueries; tests may force
    fixed values to exercise regimes a 500-row corpus can't reach);
    tables at or past ntables emit no rows."""
    planes = _hyperplanes(_HY_MAX_TABLES * _TJ_MAX_BITS, _DIM)
    bits_ladder = bits_sql or _tj_bits_ladder_sql("(SELECT count(*) FROM embeddings)")
    tab_ladder = tab_sql or _hy_tables_ladder_sql("(SELECT count(*) FROM embeddings)")
    selects = []
    for t in range(_HY_MAX_TABLES):
        bits = []
        for i in range(_TJ_MAX_BITS):
            p = planes[t * _TJ_MAX_BITS + i]
            dot_sql = " + ".join(
                f"embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(
                f"(CASE WHEN {i} < nb.nbits AND ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({' + '.join(bits)} AS BIGINT) AS bucket\n"
            f"FROM embeddings CROSS JOIN (SELECT ({bits_ladder}) AS nbits, ({tab_ladder}) AS ntables) nb\n"
            f"WHERE {t} < nb.ntables"
        )
    return "\nUNION ALL\n".join(selects)


def _duck_hy_probed(probes_sql: "str | None" = None) -> str:
    """Home + Hamming-adjacent probe rows over the ``bkt`` home-bucket
    CTE, mirroring ``_hy_signatures``'s probe emission: bucket with bit
    p flipped for p < nprobes (the probes ladder as a scalar
    subquery). Unrolled per probe index like every ladder device."""
    probes_ladder = probes_sql or _hy_probes_ladder_sql(
        "(SELECT count(*) FROM embeddings)"
    )
    parts = ["  SELECT vec_id, tbl, bucket FROM bkt"]
    for p in range(_HY_MAX_PROBES):
        parts.append(
            f"  SELECT vec_id, tbl, xor(bucket, {1 << p}) AS bucket\n"
            f"  FROM bkt WHERE {p} < ({probes_ladder})"
        )
    return "\n  UNION ALL\n".join(parts)


def _semantic_hybrid_sql() -> str:
    return f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, invv AS (
  SELECT neighbor_id AS vec_id, cell FROM inv
), bkt AS (
{_duck_hy_buckets()}
), bktp AS (
{_duck_hy_probed()}
), cand AS (
  SELECT DISTINCT vec_id, vid_b FROM (
    SELECT a.vec_id AS vec_id, b.vec_id AS vid_b
    FROM invv a JOIN invv b ON a.cell = b.cell AND b.vec_id < a.vec_id
    UNION ALL
    SELECT pa.vec_id AS vec_id, pb.vec_id AS vid_b
    FROM bktp pa JOIN bkt pb
      ON pa.tbl = pb.tbl AND pa.bucket = pb.bucket AND pb.vec_id < pa.vec_id
  ) u
), scored AS (
  SELECT c.vec_id, c.vid_b,
         {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 6)} AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.vid_b
), agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cand_lower,
         CAST(sum(CASE WHEN cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lower,
         max(cos) AS max_sim_lower
  FROM scored GROUP BY vec_id
)
SELECT i.vec_id AS vec_id, i.cell AS cell,
       COALESCE(a.n_cand_lower, 0) AS n_cand_lower,
       COALESCE(a.n_dup_lower, 0) AS n_dup_lower,
       a.max_sim_lower AS max_sim_lower,
       COALESCE(a.n_dup_lower, 0) > 0 AS is_dup
FROM invv i LEFT JOIN agg a ON a.vec_id = i.vec_id
"""


def dedup_semantic_hybrid_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall eval for the hybrid candidate space, measuring the
    UPLIFT over pure clustering in the same row: of all exact
    cosine >= tau pairs (brute-force side eval-only, the family
    precedent), how many share a cell (cluster capture) vs how many
    share a cell OR an LSH bucket (hybrid capture). One row:
    n_true_pairs, both capture counts, both zero-guarded recalls."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = _sem_assignments(emb)
    # r17: truth side evaluated BLOCKED (see dedup_semantic_recall) —
    # bit-identical pairs, no n²/2 pair-row materialization.
    from deker_server_adapters_spark.functions.veccompute import cos_true_pairs

    tp = cos_true_pairs(emb, _SEM_TAU, 6, a_name="va", b_name="vb")
    if asg is not None:
        ca = asg.select(F.col("vec_id").alias("va"), F.col("cell").alias("cell_a"))
        cb = asg.select(F.col("vec_id").alias("vb"), F.col("cell").alias("cell_b"))
        lp = _hybrid_cand_pairs(emb, asg).select(
            F.col("vid_b").alias("va"), F.col("vec_id").alias("vb"), F.lit(1).alias("cand_hit")
        )
        joined = tp.join(ca, "va").join(cb, "vb").join(lp, ["va", "vb"], "left")
    else:
        joined = (
            tp.withColumn("cell_a", F.lit(0))
            .withColumn("cell_b", F.lit(1))
            .withColumn("cand_hit", F.lit(None).cast("int"))
        )
    cl = F.sum(F.when(F.col("cell_a") == F.col("cell_b"), 1).otherwise(0))
    hy = F.sum(
        F.when(
            (F.col("cell_a") == F.col("cell_b")) | (F.col("cand_hit") == 1), 1
        ).otherwise(0)
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.coalesce(cl, F.lit(0)).cast("long").alias("n_cluster"),
        F.coalesce(hy, F.lit(0)).cast("long").alias("n_hybrid"),
        F.when(
            F.count("*") > 0, round_ties_safe(cl.cast("double") / F.count("*"), 4)
        ).alias("recall_cluster"),
        F.when(
            F.count("*") > 0, round_ties_safe(hy.cast("double") / F.count("*"), 4)
        ).alias("recall_hybrid"),
    )


def _semantic_hybrid_recall_sql() -> str:
    cos = round_ties_safe_sql(
        "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])", 6
    )
    return f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, asg AS (
  SELECT neighbor_id AS vec_id, cell FROM inv
), bkt AS (
{_duck_hy_buckets()}
), bktp AS (
{_duck_hy_probed()}
), cand AS (
  SELECT DISTINCT vec_id, vid_b FROM (
    SELECT a.vec_id AS vec_id, b.vec_id AS vid_b
    FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
    UNION ALL
    SELECT pa.vec_id AS vec_id, pb.vec_id AS vid_b
    FROM bktp pa JOIN bkt pb
      ON pa.tbl = pb.tbl AND pa.bucket = pb.bucket AND pb.vec_id < pa.vec_id
  ) u
), tp AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_SEM_TAU}
), j AS (
  SELECT tp.va, tp.vb, ca.cell AS cell_a, cb.cell AS cell_b,
         CASE WHEN c.vec_id IS NOT NULL THEN 1 END AS cand_hit
  FROM tp
  JOIN asg ca ON ca.vec_id = tp.va
  JOIN asg cb ON cb.vec_id = tp.vb
  LEFT JOIN cand c ON c.vid_b = tp.va AND c.vec_id = tp.vb
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(COALESCE(sum(CASE WHEN cell_a = cell_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cluster,
       CAST(COALESCE(sum(CASE WHEN cell_a = cell_b OR cand_hit = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hybrid,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN cell_a = cell_b THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
       END AS recall_cluster,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN cell_a = cell_b OR cand_hit = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
       END AS recall_hybrid
FROM j
"""


# ---------------------------------------------------------------------------
# Sharded hybrid semantic dedup (r16 — the VERDICT r15 item-1 composition).
#
# The measured ladder frontier (docs/PERF.md r15): per-bit recall decay
# (+1 bit ~ -0.12) outpaces per-probe buyback (+1 probe ~ +0.06 at
# +27% candidate volume), so the certified single-corpus ladder ENDS at
# nbits=9 — n = _TJ_TARGET_BUCKET·2^9 = 262,144 vectors. Past that
# ceiling the production contract is SHARD, not probe deeper:
# hash-partition vec_ids into shards that each sit at a certified
# ladder point, run the full hybrid pipeline PER SHARD (per-shard
# ladder read, per-shard IVF trainer, per-shard LSH tables), then
# catch cross-shard near-duplicates with a second, LSH-only pass over
# the per-shard SURVIVORS (standard SemDeDup-at-scale practice; the
# pass is global because LSH buckets span shards while IVF cells are
# shard-local by construction).
#
# Everything is keyed by the shard column — NO driver-side loop over
# shards: the trainer becomes (shard, cell)-grouped aggregation, seed
# selection a per-shard window, assignment a per-shard join + max_by
# argmax, and the bucket joins gain `shard` as a leading key. At 100 TB
# (~250k shards) the only driver-side scalar is nshards; per-shard
# ladder metadata is an nshards-row broadcast table. The assignment
# trades the unsharded op's compiled-argmin device for an n x k_shard
# shuffle-joined argmax (a per-shard expression can't compile when the
# shard count is unbounded) — the cost term the SemDeDup ladder already
# balances.
# ---------------------------------------------------------------------------

# One shard holds at most the nbits=9 ladder ceiling. The floor of 2
# keeps the shard machinery (per-shard ladders, merge, survivor pass)
# exercised — and oracled — at every scale instead of degenerating to
# the unsharded op below the ceiling; sub-ceiling corpora that want the
# single-corpus form use dedup_semantic_hybrid.
_SHARD_NBITS_CEIL = 9


def _sh_cap() -> int:
    # == 262,144 (the _TJ_* constants are defined further down-module;
    # a module-level product here would run before they exist)
    return _TJ_TARGET_BUCKET << _SHARD_NBITS_CEIL


def _sh_nshards(n: int) -> int:
    return max(2, -(-n // _sh_cap()))


def _sem_k_case(n_expr: str) -> str:
    """The ``_SEM_K_LADDER`` as a CASE over an arbitrary count
    expression (``_sem_k_sql`` hardcodes the whole-corpus scalar)."""
    cases = " ".join(
        f"WHEN {n_expr} <= {bound} THEN {k}" for bound, k in _SEM_K_LADDER
    )
    return f"CASE {cases} ELSE {_SEM_K_MAX} END"


def _sh_sharded(emb: DataFrame, nshards: int) -> DataFrame:
    """embeddings + a deterministic shard id: md5-hash vec_id modulo
    nshards ('shard'-seeded so shard placement is independent of every
    other h32 use). Hash sharding balances shard sizes, so every shard
    sits within one ladder step of n/nshards."""
    from deker_server_adapters_spark.functions.hashing import h32

    return emb.withColumn(
        "shard", (h32(F.col("vec_id"), seed="shard") % F.lit(nshards)).cast("int")
    )


def _sh_meta(emb2: DataFrame) -> DataFrame:
    """Per-shard ladder reads — one row per shard: count, sem-k, and
    the (nbits, ntables, nprobes) triple, each via the SAME integer
    CASE ladders the unsharded op reads over the whole corpus. Small
    (nshards rows) and broadcast into every per-shard stage."""
    return emb2.groupBy("shard").agg(
        F.count("*").alias("nsh"),
        F.expr(_sem_k_case("count(*)")).cast("int").alias("ksh"),
        F.expr(_tj_bits_ladder_sql("count(*)")).cast("int").alias("nbits"),
        F.expr(_hy_tables_ladder_sql("count(*)")).cast("int").alias("ntables"),
        F.expr(_hy_probes_ladder_sql("count(*)")).cast("int").alias("nprobes"),
    )


def _sh_assignments(emb2: DataFrame, meta: DataFrame) -> DataFrame:
    """(shard, vec_id, cell) under a PER-SHARD md5-seeded k-means-lite
    (k_shard seeds = the ksh smallest h32(vec_id) per shard, one Lloyd
    refinement) — the ``_ivf_centroids`` trainer re-expressed with
    ``shard`` in every group key so ALL shards train in one distributed
    pass. Assignment argmax is ``max_by(cell, struct(sim, -cell))``:
    max sim, ties to the LOWEST cell — exactly the oracle's
    ``row_number() OVER (ORDER BY sim DESC, cell)`` rank-1 (struct
    ordering treats NaN as largest and NaN = NaN, so zero-norm
    embeddings resolve to the lowest cell in both engines — the
    ``centroid_argmax_cell`` NaN contract)."""
    from deker_server_adapters_spark.functions.hashing import h32

    w_seed = Window.partitionBy("shard").orderBy("hk", "vec_id")
    w_cell = Window.partitionBy("shard").orderBy("vec_id")
    seeds = (
        emb2.join(F.broadcast(meta.select("shard", "ksh")), "shard")
        .withColumn("hk", h32(F.col("vec_id")))
        .withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= F.col("ksh"))
        .select(
            "shard",
            (F.row_number().over(w_cell) - 1).cast("int").alias("cell"),
            F.col("embedding").alias("ce"),
        )
    )

    def assign(cents: DataFrame) -> DataFrame:
        scored = emb2.join(cents, "shard").withColumn(
            "sim",
            round_ties_safe(cosine_similarity(F.col("embedding"), F.col("ce")), 9),
        )
        return scored.groupBy("shard", "vec_id").agg(
            F.expr("max_by(cell, struct(sim, -cell))").alias("cell")
        )

    asg0 = assign(seeds)
    cent = (
        asg0.join(emb2.select("vec_id", "embedding"), "vec_id")
        .select(
            "shard",
            "cell",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"),
        )
        .groupBy("shard", "cell", "d")
        .agg(
            round_ties_safe(
                F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v"),
                9,
            ).alias("cv")
        )
        .groupBy("shard", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cv"))).alias("pairs"))
        .select("shard", "cell", F.expr("transform(pairs, p -> p.cv)").alias("ce"))
    )
    return assign(cent)


def _sh_signatures(emb2: DataFrame, meta: DataFrame) -> DataFrame:
    """(vec_id, shard, tbl, bucket, is_probe) — ``_hy_signatures``'s
    compiled home+probe emission with the three ladder values joined in
    PER SHARD (broadcast meta) instead of one corpus-wide row; the
    plane set and gating are byte-identical, so each shard hashes
    exactly as a standalone corpus of its size would. r17: same
    Arrow-kernel evaluation as ``_hy_signatures`` (see there)."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows

    src = emb2.join(
        F.broadcast(meta.select("shard", "nbits", "ntables", "nprobes")), "shard"
    ).select("vec_id", "shard", "embedding", "nbits", "ntables", "nprobes")
    return signature_rows(
        src,
        _hyperplanes(_HY_MAX_TABLES * _TJ_MAX_BITS, _DIM),
        _HY_MAX_TABLES,
        _TJ_MAX_BITS,
        _HY_MAX_PROBES,
        ["vec_id", "shard"],
        emit_probes=True,
    )


def _sh_score(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """(vec_id, vid_b, cos) — tie-safe 6-dp cosine per candidate pair
    (r17: Arrow-kernel rescore, bit-identical to the expression form —
    functions/veccompute.py)."""
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    ea = emb.select("vec_id", F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vid_b"), F.col("embedding").alias("eb"))
    return cos_scored(
        pairs.join(ea, "vec_id").join(eb, "vid_b").select("vec_id", "vid_b", "ea", "eb"),
        6,
    )


def _sh_context(emb: DataFrame, lo_all: bool = False) -> "dict | None":
    """The shared lazy pipeline behind the sharded op and its recall
    eval: shard assignment, per-shard candidate pairs, shard-pass
    scores, survivors, and the survivor-pass pairs. None on an empty
    corpus.

    Lineage discipline (the ``components_from_pairs`` device): the
    giant compiled signature expression and the trainer feed several
    downstream consumers (scoring, survivor filter, final verdict
    join); left lazy, each consumer re-instantiates them in the
    logical plan and Catalyst pays the ~100k-node analysis cost — and
    at scale the cluster pays the recompute — once per consumer. Two
    eager ``localCheckpoint`` cuts at the NARROW waists fix both:
    ``asg`` (vec_id, shard, cell — one row per vector) after the
    trainer, and ``agg_shard`` (one row per vector) after the
    shard-pass scoring AGGREGATE. The candidate-pair/score stream
    itself is NEVER materialized — it flows into the hash aggregate
    exactly like the unsharded op (an earlier cut at the scored-pair
    level ground for hours at the 100x frontier corpus: billions of
    transient rows written to checkpoint storage that the aggregate
    would have consumed in-stream). Disjointness of the two pair
    sets is BY CONSTRUCTION (the survivor pass keeps cross-shard
    pairs only; shard-pass pairs are same-shard only), so no
    anti-join ever needs the pair set as a table. The two cuts' RDD
    storage stays referenced by the returned DataFrames (the
    ``dedup_components`` precedent: a lineage cut the result rests
    on cannot be freed inside the builder)."""
    from deker_server_adapters_spark.functions.hashing import h32

    n = emb.count()
    if n == 0:
        return None
    nshards = _sh_nshards(n)
    emb2 = _sh_sharded(emb, nshards)
    meta = _sh_meta(emb2)
    asg = _sh_assignments(emb2, meta).localCheckpoint(eager=True)
    ca = asg.select("shard", "cell", "vec_id")
    cb = asg.select("shard", "cell", F.col("vec_id").alias("vid_b"))
    cpairs = (
        ca.join(cb, ["shard", "cell"])
        .filter(F.col("vid_b") < F.col("vec_id"))
        .select("vec_id", "vid_b")
    )
    sigs = _sh_signatures(emb2, meta)
    sa = sigs.select(F.col("vec_id").alias("hi"), "shard", "tbl", "bucket")
    sb = sigs.filter(F.col("is_probe") == 0).select(
        F.col("vec_id").alias("lo"), "shard", "tbl", "bucket"
    )
    lpairs = (
        sa.join(sb, ["shard", "tbl", "bucket"])
        .filter(F.col("lo") < F.col("hi"))
        .select(F.col("hi").alias("vec_id"), F.col("lo").alias("vid_b"))
    )
    pairs_shard = cpairs.unionByName(lpairs).distinct()
    agg_shard = (
        _sh_score(pairs_shard, emb)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_cand_sh"),
            F.sum(F.when(F.col("cos") >= _SEM_TAU, 1).otherwise(0)).alias("n_dup_sh"),
            F.max("cos").alias("max_sim_sh"),
        )
        .localCheckpoint(eager=True)
    )
    # Survivor pass: per-shard keepers, global LSH at the survivor
    # count's own ladder point, CROSS-SHARD pairs only (cells are
    # shard-local so only the LSH generator can span shards; same-shard
    # survivor pairs were already tested by the finer per-shard pass —
    # keeping them out makes the two pair sets disjoint by
    # construction, which is what lets the verdict merge be a sum of
    # two narrow aggregates instead of a deduped union of pair
    # streams). Fully lazy — the ladder triple rides in as a broadcast
    # 1-row aggregate; the shard id is a pure hash expression of
    # vec_id, so no join re-attaches it.
    surv = (
        asg.join(agg_shard, "vec_id", "left")
        .filter(F.coalesce(F.col("n_dup_sh"), F.lit(0)) == 0)
        .select("vec_id")
    )
    if lo_all:
        # r17 recall-recovery knob (VERDICT item 5): the survivors-only
        # pass structurally misses the cross-shard pair (X hi-survivor,
        # Y lo) whenever Y was itself dropped IN ITS OWN SHARD — Y
        # never re-enters, so X's only near mate is invisible and X
        # escapes. Opening the LO side to the FULL corpus (homes only,
        # no probes — the cheap side) while keeping the HI side to
        # survivors (a vector already flagged in-shard needs no further
        # evidence) kills that loss mode. Disjointness with the shard
        # pass is untouched — it comes from the cross-shard pair
        # restriction, never from the survivor filter. Ladder reads
        # off the FULL count (the lo side now sets bucket occupancy).
        sigs_all = _hy_signatures(emb, _hy_nrow(emb)).withColumn(
            "shard", (h32(F.col("vec_id"), seed="shard") % F.lit(nshards)).cast("int")
        )
        ga = sigs_all.join(surv, "vec_id").select(
            F.col("vec_id").alias("hi"), F.col("shard").alias("sh_hi"), "tbl", "bucket"
        )
        gb = sigs_all.filter(F.col("is_probe") == 0).select(
            F.col("vec_id").alias("lo"), F.col("shard").alias("sh_lo"), "tbl", "bucket"
        )
    else:
        emb_s = emb.join(surv, "vec_id")
        sigs_s = _hy_signatures(emb_s, _hy_nrow(emb_s)).withColumn(
            "shard", (h32(F.col("vec_id"), seed="shard") % F.lit(nshards)).cast("int")
        )
        ga = sigs_s.select(
            F.col("vec_id").alias("hi"), F.col("shard").alias("sh_hi"), "tbl", "bucket"
        )
        gb = sigs_s.filter(F.col("is_probe") == 0).select(
            F.col("vec_id").alias("lo"), F.col("shard").alias("sh_lo"), "tbl", "bucket"
        )
    pairs_new = (
        ga.join(gb, ["tbl", "bucket"])
        .filter((F.col("lo") < F.col("hi")) & (F.col("sh_lo") != F.col("sh_hi")))
        .select(F.col("hi").alias("vec_id"), F.col("lo").alias("vid_b"))
        .distinct()
    )
    return {
        "emb": emb,
        "asg": asg,
        "pairs_shard": pairs_shard,
        "agg_shard": agg_shard,
        "pairs_new": pairs_new,
    }


def _sh_verdict(ctx: dict) -> DataFrame:
    """The merged per-vector verdict — the sum of the two DISJOINT
    pass aggregates (shard pass + cross-shard survivor pass), shared
    by the sharded op and the verdict-recall columns of its recall
    eval. ``greatest`` skips NULLs identically in Spark and DuckDB,
    so the merged max_sim needs no coalesce gymnastics."""
    agg_new = (
        _sh_score(ctx["pairs_new"], ctx["emb"])
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_cand_nw"),
            F.sum(F.when(F.col("cos") >= _SEM_TAU, 1).otherwise(0)).alias("n_dup_nw"),
            F.max("cos").alias("max_sim_nw"),
        )
    )
    total_dup = F.coalesce(F.col("n_dup_sh"), F.lit(0)) + F.coalesce(
        F.col("n_dup_nw"), F.lit(0)
    )
    return (
        ctx["asg"]
        .join(ctx["agg_shard"], "vec_id", "left")
        .join(agg_new, "vec_id", "left")
        .select(
            "vec_id",
            "shard",
            "cell",
            (
                F.coalesce(F.col("n_cand_sh"), F.lit(0))
                + F.coalesce(F.col("n_cand_nw"), F.lit(0))
            ).cast("long").alias("n_cand_lower"),
            total_dup.cast("long").alias("n_dup_lower"),
            F.greatest(F.col("max_sim_sh"), F.col("max_sim_nw")).alias("max_sim_lower"),
            (F.coalesce(F.col("n_dup_sh"), F.lit(0)) > 0).alias("is_dup_shard"),
            (total_dup > 0).alias("is_dup"),
        )
    )


def dedup_semantic_hybrid_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid semantic dedup PAST the single-corpus ladder ceiling
    (n > 262,144 = _TJ_TARGET_BUCKET·2^9): hash-shard vec_ids into
    <= 262k-vector shards, run the certified hybrid pipeline per shard
    (per-shard sem-k/nbits/ntables/nprobes ladder reads, per-shard IVF
    trainer, per-shard LSH tables — all in ONE distributed pass keyed
    by the shard column, no driver loop), then catch cross-shard
    near-duplicates with a global LSH pass over the per-shard
    survivors at the survivor count's own ladder point, keeping
    CROSS-SHARD pairs only (same-shard survivor pairs were already
    tested at the finer per-shard resolution). The two pair sets are
    therefore DISJOINT by construction, and the verdict is the sum of
    two narrow per-vector aggregates — each candidate stream flows
    straight into its hash aggregate, never materializing (the
    unsharded op's streaming shape); is_dup at the same tau and
    min-id-keeper rule as the whole family; ``is_dup_shard`` exposes
    which stage caught it.

    Scale shape: O(n) total work — each shard sits at a certified
    ladder point (recall pinned by the r15 frontier measurements,
    docs/PERF.md), shards are balanced by the md5 hash, and every
    stage is shard-key-parallel across executors. The survivor pass
    is one more bounded LSH join over a corpus that shrinks by the
    within-shard duplicate mass. The min-2-shards floor keeps the
    shard machinery oracled at every scale; below the ceiling the
    unsharded ``dedup_semantic_hybrid`` remains the certified default.
    Recall vs the unsharded form is MEASURED (``_recall`` twin +
    tools/hybrid_frontier.py, SPARK_GRAFT_FRONTIER_SHARDED=1), never
    assumed."""
    emb = load_table(spark, sf_dir, "embeddings")
    ctx = _sh_context(emb)
    if ctx is None:  # empty corpus: typed empty verdict table
        return (
            emb.select(
                "vec_id",
                F.lit(0).cast("int").alias("shard"),
                F.lit(0).cast("int").alias("cell"),
                F.lit(0).cast("long").alias("n_cand_lower"),
                F.lit(0).cast("long").alias("n_dup_lower"),
                F.lit(None).cast("double").alias("max_sim_lower"),
                F.lit(False).alias("is_dup_shard"),
                F.lit(False).alias("is_dup"),
            ).limit(0)
        )
    return _sh_verdict(ctx)


def dedup_semantic_hybrid_sharded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall eval for the SHARDED composition vs brute-force truth
    (eval-only, the family precedent), one row, at TWO levels:

    - PAIR capture (recall_shard / recall_sharded): of all exact
      cosine >= tau pairs, how many the shard pass alone vs shard ∪
      survivor passes generate. Penalizes pairs whose endpoint was
      already dropped in-shard (and, by design, same-shard survivor
      pairs the cross-shard-only second pass skips) — an intentionally
      pessimistic bound.
    - VERDICT recall (recall_verdict): of all vectors with SOME
      lower-id true near-dup (the should-drop set), how many the op
      flags is_dup — the number a dedup consumer actually experiences
      (a vector needs ONE captured mate to be dropped, not all of
      them). False positives are structurally zero: every candidate
      is exact-rescored before the tau test.

    The gap between the levels is the chain-semantics price of
    sharding: a survivor whose only lower-id mates were dropped
    inside THEIR shards is never re-tested against them."""
    emb = load_table(spark, sf_dir, "embeddings")
    ctx = _sh_context(emb)
    # r17: truth side evaluated BLOCKED (see dedup_semantic_recall) —
    # bit-identical pairs, no n²/2 pair-row materialization.
    from deker_server_adapters_spark.functions.veccompute import cos_true_pairs

    tp = cos_true_pairs(emb, _SEM_TAU, 6, a_name="va", b_name="vb")
    should_drop = tp.select(F.col("vb").alias("vec_id")).distinct()
    if ctx is not None:
        as_hit = lambda df, name: df.select(  # noqa: E731
            F.col("vid_b").alias("va"), F.col("vec_id").alias("vb"), F.lit(1).alias(name)
        )
        joined = tp.join(as_hit(ctx["pairs_shard"], "hit_sh"), ["va", "vb"], "left").join(
            as_hit(ctx["pairs_new"], "hit_nw"), ["va", "vb"], "left"
        )
        flags = should_drop.join(
            _sh_verdict(ctx).select("vec_id", "is_dup"), "vec_id", "left"
        )
    else:
        joined = tp.withColumn("hit_sh", F.lit(None).cast("int")).withColumn(
            "hit_nw", F.lit(None).cast("int")
        )
        flags = should_drop.withColumn("is_dup", F.lit(False))
    n_sh = F.sum(F.when(F.col("hit_sh") == 1, 1).otherwise(0))
    n_tot = F.sum(
        F.when((F.col("hit_sh") == 1) | (F.col("hit_nw") == 1), 1).otherwise(0)
    )
    pair_row = joined.agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.coalesce(n_sh, F.lit(0)).cast("long").alias("n_shard"),
        F.coalesce(n_tot, F.lit(0)).cast("long").alias("n_sharded"),
        F.when(
            F.count("*") > 0, round_ties_safe(n_sh.cast("double") / F.count("*"), 4)
        ).alias("recall_shard"),
        F.when(
            F.count("*") > 0, round_ties_safe(n_tot.cast("double") / F.count("*"), 4)
        ).alias("recall_sharded"),
    )
    n_fl = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    verdict_row = flags.agg(
        F.count("*").cast("long").alias("n_should_drop"),
        F.coalesce(n_fl, F.lit(0)).cast("long").alias("n_flagged"),
        F.when(
            F.count("*") > 0, round_ties_safe(n_fl.cast("double") / F.count("*"), 4)
        ).alias("recall_verdict"),
    )
    return pair_row.crossJoin(verdict_row)


def _duck_buckets_over(
    src: str, meta_join: str, nbits: str, ntables: str, with_shard: bool = False
) -> str:
    """Unrolled per-table home buckets over ``src`` (a CTE with
    vec_id/embedding and, when ``meta_join``/``with_shard`` is set,
    shard) — the ``_duck_hy_buckets`` device parameterized on source
    and ladder expressions, shared by the sharded and incremental
    oracles."""
    planes = _hyperplanes(_HY_MAX_TABLES * _TJ_MAX_BITS, _DIM)
    shard_col = ", s.shard" if (meta_join or with_shard) else ""
    selects = []
    for t in range(_HY_MAX_TABLES):
        bits = []
        for i in range(_TJ_MAX_BITS):
            p = planes[t * _TJ_MAX_BITS + i]
            dot_sql = " + ".join(
                f"s.embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(
                f"(CASE WHEN {i} < {nbits} AND ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        selects.append(
            f"SELECT s.vec_id{shard_col}, {t} AS tbl, CAST({' + '.join(bits)} AS BIGINT) AS bucket\n"
            f"FROM {src} s{meta_join}\n"
            f"WHERE {t} < {ntables}"
        )
    return "\nUNION ALL\n".join(selects)


def _duck_sh_prelude() -> str:
    """Shared CTE chain replaying the sharded pipeline through the
    candidate-pair sets: shard assignment (md5 % nshards), per-shard
    ladder meta, per-shard trainer + assignment, per-shard home+probe
    buckets, the shard-pass pairs/scores/survivors, and the survivor
    pass's global-ladder buckets and NEW pairs. Both sharded oracles
    append their own tails."""
    from deker_server_adapters_spark.functions.hashing import h32_sql

    rts9 = lambda s: round_ties_safe_sql(s, 9)  # noqa: E731

    sh_bkt = _duck_buckets_over("sh", " JOIN meta m USING (shard)", "m.nbits", "m.ntables")
    sv_bkt = _duck_buckets_over(
        "sem", "", "(SELECT nbits FROM smeta)", "(SELECT ntables FROM smeta)",
        with_shard=True,
    )
    sh_probes = "\n  UNION ALL\n".join(
        [" SELECT vec_id, shard, tbl, bucket FROM bkt"]
        + [
            f" SELECT b.vec_id, b.shard, b.tbl, xor(b.bucket, {1 << p}) AS bucket\n"
            f" FROM bkt b JOIN meta m USING (shard) WHERE {p} < m.nprobes"
            for p in range(_HY_MAX_PROBES)
        ]
    )
    sv_probes = "\n  UNION ALL\n".join(
        [" SELECT vec_id, shard, tbl, bucket FROM sbkt"]
        + [
            f" SELECT vec_id, shard, tbl, xor(bucket, {1 << p}) AS bucket\n"
            f" FROM sbkt WHERE {p} < (SELECT nprobes FROM smeta)"
            for p in range(_HY_MAX_PROBES)
        ]
    )
    # AS MATERIALIZED on every multiply-referenced CTE: DuckDB inlines
    # plain CTEs per reference, and this chain references sh/meta/bkt/
    # sbkt from up to 24 unrolled branches each — unmaterialized, the
    # expansion is effectively exponential (the first run exhausted the
    # process fd limit on re-opened parquet scans before finishing)
    return f"""
nsh AS MATERIALIZED (
  SELECT GREATEST(2, (count(*) + {_sh_cap() - 1}) // {_sh_cap()}) AS n FROM embeddings
), sh AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST({h32_sql("vec_id", "shard")} % (SELECT n FROM nsh) AS INT) AS shard
  FROM embeddings
), meta AS MATERIALIZED (
  SELECT shard, count(*) AS nsh_n,
         ({_sem_k_case("count(*)")}) AS ksh,
         ({_tj_bits_ladder_sql("count(*)")}) AS nbits,
         ({_hy_tables_ladder_sql("count(*)")}) AS ntables,
         ({_hy_probes_ladder_sql("count(*)")}) AS nprobes
  FROM sh GROUP BY shard
), sranked AS (
  SELECT s.shard, s.vec_id, s.embedding,
         row_number() OVER (
             PARTITION BY s.shard ORDER BY {h32_sql("s.vec_id")}, s.vec_id) AS rn
  FROM sh s
), seeds AS (
  SELECT r.shard, r.embedding AS ce,
         CAST(row_number() OVER (PARTITION BY r.shard ORDER BY r.vec_id) AS INT) - 1 AS cell
  FROM sranked r JOIN meta m USING (shard) WHERE r.rn <= m.ksh
), a0 AS (
  SELECT e.shard, e.vec_id, e.embedding, s.cell,
         {rts9("list_cosine_similarity(e.embedding::DOUBLE[], s.ce::DOUBLE[])")} AS sim
  FROM sh e JOIN seeds s ON e.shard = s.shard
), asg0 AS (
  SELECT shard, vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a0
  ) t WHERE rn = 1
), cent AS (
  SELECT shard, cell, CAST(u.i - 1 AS INT) AS d,
         {rts9("CAST(sum(CAST(CAST(embedding[u.i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / count(*)")} AS cv
  FROM asg0, UNNEST(range(1, len(embedding) + 1)) u(i)
  GROUP BY shard, cell, d
), cents AS (
  SELECT shard, cell, list(cv ORDER BY d) AS ce FROM cent GROUP BY shard, cell
), a1 AS (
  SELECT e.shard, e.vec_id, c.cell,
         {rts9("list_cosine_similarity(e.embedding::DOUBLE[], c.ce)")} AS sim
  FROM sh e JOIN cents c ON e.shard = c.shard
), asg AS MATERIALIZED (
  SELECT shard, vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a1
  ) t WHERE rn = 1
), bkt AS MATERIALIZED (
{sh_bkt}
), bktp AS (
{sh_probes}
), psh AS MATERIALIZED (
  SELECT DISTINCT vec_id, vid_b FROM (
    SELECT a.vec_id AS vec_id, b.vec_id AS vid_b
    FROM asg a JOIN asg b
      ON a.shard = b.shard AND a.cell = b.cell AND b.vec_id < a.vec_id
    UNION ALL
    SELECT pa.vec_id AS vec_id, pb.vec_id AS vid_b
    FROM bktp pa JOIN bkt pb
      ON pa.shard = pb.shard AND pa.tbl = pb.tbl AND pa.bucket = pb.bucket
     AND pb.vec_id < pa.vec_id
  ) u
), ssh AS MATERIALIZED (
  SELECT c.vec_id, c.vid_b,
         {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 6)} AS cos
  FROM psh c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.vid_b
), aggsh AS MATERIALIZED (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cand_sh,
         CAST(sum(CASE WHEN cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sh,
         max(cos) AS max_sim_sh
  FROM ssh GROUP BY vec_id
), sem AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, a.shard
  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
  LEFT JOIN aggsh g ON g.vec_id = e.vec_id
  WHERE COALESCE(g.n_dup_sh, 0) = 0
), smeta AS MATERIALIZED (
  SELECT ({_tj_bits_ladder_sql("cnt")}) AS nbits,
         ({_hy_tables_ladder_sql("cnt")}) AS ntables,
         ({_hy_probes_ladder_sql("cnt")}) AS nprobes
  FROM (SELECT count(*) AS cnt FROM sem)
), sbkt AS MATERIALIZED (
{sv_bkt}
), sbktp AS (
{sv_probes}
), pnew AS MATERIALIZED (
  -- CROSS-SHARD survivor pairs only: disjoint from psh by
  -- construction (psh pairs are same-shard), so the verdict merge is
  -- a sum of the two pass aggregates — no pair-level dedup
  SELECT DISTINCT pa.vec_id, pb.vec_id AS vid_b
  FROM sbktp pa JOIN sbkt pb
    ON pa.tbl = pb.tbl AND pa.bucket = pb.bucket AND pb.vec_id < pa.vec_id
   AND pa.shard <> pb.shard
), snew AS (
  SELECT c.vec_id, c.vid_b,
         {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 6)} AS cos
  FROM pnew c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.vid_b
), aggnw AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cand_nw,
         CAST(sum(CASE WHEN cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_nw,
         max(cos) AS max_sim_nw
  FROM snew GROUP BY vec_id
), vout AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, a.shard AS shard, a.cell AS cell,
         COALESCE(gs.n_cand_sh, 0) + COALESCE(gn.n_cand_nw, 0) AS n_cand_lower,
         COALESCE(gs.n_dup_sh, 0) + COALESCE(gn.n_dup_nw, 0) AS n_dup_lower,
         greatest(gs.max_sim_sh, gn.max_sim_nw) AS max_sim_lower,
         COALESCE(gs.n_dup_sh, 0) > 0 AS is_dup_shard,
         COALESCE(gs.n_dup_sh, 0) + COALESCE(gn.n_dup_nw, 0) > 0 AS is_dup
  FROM asg a
  LEFT JOIN aggsh gs ON gs.vec_id = a.vec_id
  LEFT JOIN aggnw gn ON gn.vec_id = a.vec_id
)"""


def _sharded_hybrid_sql() -> str:
    return f"""
WITH {_duck_sh_prelude()}
SELECT vec_id, shard, cell, n_cand_lower, n_dup_lower, max_sim_lower,
       is_dup_shard, is_dup
FROM vout
"""


def _sharded_hybrid_recall_sql() -> str:
    cos = round_ties_safe_sql(
        "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])", 6
    )
    return f"""
WITH {_duck_sh_prelude()}, tp AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_SEM_TAU}
), j AS (
  SELECT tp.va, tp.vb,
         CASE WHEN s.vec_id IS NOT NULL THEN 1 END AS hit_sh,
         CASE WHEN n.vec_id IS NOT NULL THEN 1 END AS hit_nw
  FROM tp
  LEFT JOIN psh s ON s.vid_b = tp.va AND s.vec_id = tp.vb
  LEFT JOIN pnew n ON n.vid_b = tp.va AND n.vec_id = tp.vb
), pair_row AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         CAST(COALESCE(sum(CASE WHEN hit_sh = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_shard,
         CAST(COALESCE(sum(CASE WHEN hit_sh = 1 OR hit_nw = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sharded,
         CASE WHEN count(*) = 0 THEN NULL
              ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN hit_sh = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
         END AS recall_shard,
         CASE WHEN count(*) = 0 THEN NULL
              ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN hit_sh = 1 OR hit_nw = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
         END AS recall_sharded
  FROM j
), flags AS (
  SELECT sd.vec_id, v.is_dup
  FROM (SELECT DISTINCT vb AS vec_id FROM tp) sd
  LEFT JOIN vout v ON v.vec_id = sd.vec_id
), verdict_row AS (
  SELECT CAST(count(*) AS BIGINT) AS n_should_drop,
         CAST(COALESCE(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged,
         CASE WHEN count(*) = 0 THEN NULL
              ELSE {round_ties_safe_sql("CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)}
         END AS recall_verdict
  FROM flags
)
SELECT * FROM pair_row CROSS JOIN verdict_row
"""


def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-batch) SEMANTIC dedup — the
    ``docs_incremental_dedup`` production shape for the embedding
    tier: yesterday's corpus is already deduped, so each NEW vector
    (deterministic split: vec_id % 5 == 4, ~20%) verdicts against the
    EXISTING corpus's structures ONLY — no old-vs-old and no
    new-vs-new pair work. The existing side defines everything: the
    IVF cells are trained on OLD vectors at the OLD count's sem-k
    ladder point, and the LSH (nbits, ntables, nprobes) ladder reads
    the OLD count — new vectors are assigned into those cells
    (compiled argmin, the streaming twin's `_semantic_cell_expr`
    device as batch) and hashed into those tables (new side carries
    home + Hamming probes, old side homes only — the hybrid op's
    capture scheme with new/old in place of hi/lo). One row per NEW
    vector: cell, candidate/duplicate counts against old mates, max
    cosine, the min-old-id duplicate anchor, and the verdict.

    Scale shape: the delta is small next to the corpus, so the cell
    and bucket joins are delta-broadcastable in production; the old
    side's inverted file and bucket table are exactly what a curation
    pipeline keeps bucketed on disk between runs (the
    ``docs_incremental_dedup`` docstring contract, embedding tier).
    Candidate volume is bounded by the same ladder occupancy targets
    as the batch hybrid op. Fully oracled: DuckDB replays the
    old-side trainer, both assignments, and both bucket sides."""
    from deker_server_adapters_spark.functions.vectors import centroid_argmax_cell as _argmax

    emb = load_table(spark, sf_dir, "embeddings")
    new_pred = (F.col("vec_id") % 5) == 4
    old = emb.filter(~new_pred)
    new = emb.filter(new_pred)
    k = _sem_k(old.count())
    cents = sorted(_local_centroids(old, k).collect(), key=lambda r: r.cell)
    if not cents:  # empty existing corpus: every new vector is unique
        return new.select(
            "vec_id",
            F.lit(None).cast("int").alias("cell"),
            F.lit(0).cast("long").alias("n_cand"),
            F.lit(0).cast("long").alias("n_dup"),
            F.lit(None).cast("double").alias("max_sim"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(False).alias("is_dup"),
        )
    cell_expr, _ = _argmax(cents)
    old_asg = old.select(F.col("vec_id").alias("old_id"), cell_expr.alias("cell"))
    new_asg = new.select("vec_id", cell_expr.alias("cell"))
    cand_cell = new_asg.join(old_asg, "cell").select("vec_id", "old_id")
    nrow = _hy_nrow(old)  # ladders from the EXISTING corpus's count
    sig_new = _hy_signatures(new, nrow).select("vec_id", "tbl", "bucket")
    sig_old = (
        _hy_signatures(old, nrow)
        .filter(F.col("is_probe") == 0)
        .select(F.col("vec_id").alias("old_id"), "tbl", "bucket")
    )
    cand_lsh = sig_new.join(sig_old, ["tbl", "bucket"]).select("vec_id", "old_id")
    cand = cand_cell.unionByName(cand_lsh).distinct()
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    ea = new.select("vec_id", F.col("embedding").alias("ea"))
    eb = old.select(F.col("vec_id").alias("old_id"), F.col("embedding").alias("eb"))
    scored = cos_scored(
        cand.join(ea, "vec_id").join(eb, "old_id").select("vec_id", "old_id", "ea", "eb"),
        6,
    )
    agg = scored.groupBy("vec_id").agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(F.col("cos") >= _SEM_TAU, 1).otherwise(0)).alias("n_dup"),
        F.max("cos").alias("max_sim"),
        F.min(F.when(F.col("cos") >= _SEM_TAU, F.col("old_id"))).alias("dup_of"),
    )
    return (
        new_asg.join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
            "max_sim",
            F.col("dup_of").cast("long").alias("dup_of"),
            (F.coalesce(F.col("n_dup"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


def _semantic_incremental_sql() -> str:
    from deker_server_adapters_spark.functions.hashing import h32_sql

    rts9 = lambda s: round_ties_safe_sql(s, 9)  # noqa: E731
    old_bits = _tj_bits_ladder_sql("(SELECT count(*) FROM oldv)")
    old_tabs = _hy_tables_ladder_sql("(SELECT count(*) FROM oldv)")
    old_probes = _hy_probes_ladder_sql("(SELECT count(*) FROM oldv)")
    nbkt = _duck_buckets_over(
        "newv", "", "(SELECT nbits FROM lmeta)", "(SELECT ntables FROM lmeta)"
    )
    obkt = _duck_buckets_over(
        "oldv", "", "(SELECT nbits FROM lmeta)", "(SELECT ntables FROM lmeta)"
    )
    nprobed = "\n  UNION ALL\n".join(
        [" SELECT vec_id, tbl, bucket FROM nbkt"]
        + [
            f" SELECT vec_id, tbl, xor(bucket, {1 << p}) AS bucket\n"
            f" FROM nbkt WHERE {p} < (SELECT nprobes FROM lmeta)"
            for p in range(_HY_MAX_PROBES)
        ]
    )
    return f"""
WITH oldv AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 4
), newv AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 4
), lmeta AS MATERIALIZED (
  SELECT ({old_bits}) AS nbits, ({old_tabs}) AS ntables, ({old_probes}) AS nprobes
), seeds AS (
  SELECT vec_id, embedding,
         CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell
  FROM (SELECT vec_id, embedding FROM oldv
        ORDER BY {h32_sql("vec_id")}
        LIMIT (SELECT {_sem_k_case("count(*)")} FROM oldv))
), a0 AS (
  SELECT e.vec_id, e.embedding, s.cell,
         {rts9("list_cosine_similarity(e.embedding::DOUBLE[], s.embedding::DOUBLE[])")} AS sim
  FROM oldv e CROSS JOIN seeds s
), asg0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM a0
  ) t WHERE rn = 1
), cent AS (
  SELECT cell, CAST(u.i - 1 AS INT) AS d,
         {rts9("CAST(sum(CAST(CAST(embedding[u.i] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / count(*)")} AS cv
  FROM asg0, UNNEST(range(1, len(embedding) + 1)) u(i)
  GROUP BY cell, d
), cents AS MATERIALIZED (
  SELECT cell, list(cv ORDER BY d) AS ce FROM cent GROUP BY cell
), oasg AS MATERIALIZED (
  SELECT vec_id AS old_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {rts9("list_cosine_similarity(e.embedding::DOUBLE[], c.ce)")} DESC, c.cell
           ) AS rn
    FROM oldv e CROSS JOIN cents c
  ) t WHERE rn = 1
), nasg AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {rts9("list_cosine_similarity(e.embedding::DOUBLE[], c.ce)")} DESC, c.cell
           ) AS rn
    FROM newv e CROSS JOIN cents c
  ) t WHERE rn = 1
), nbkt AS MATERIALIZED (
{nbkt}
), obkt AS MATERIALIZED (
{obkt}
), nbktp AS (
{nprobed}
), cand AS (
  SELECT DISTINCT vec_id, old_id FROM (
    SELECT n.vec_id, o.old_id
    FROM nasg n JOIN oasg o ON n.cell = o.cell
    UNION ALL
    SELECT pn.vec_id, po.vec_id AS old_id
    FROM nbktp pn JOIN obkt po ON pn.tbl = po.tbl AND pn.bucket = po.bucket
  ) u
), scored AS (
  SELECT c.vec_id, c.old_id,
         {round_ties_safe_sql("list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])", 6)} AS cos
  FROM cand c
  JOIN newv ea ON ea.vec_id = c.vec_id
  JOIN oldv eb ON eb.vec_id = c.old_id
), agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cand,
         CAST(sum(CASE WHEN cos >= {_SEM_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         max(cos) AS max_sim,
         CAST(min(CASE WHEN cos >= {_SEM_TAU} THEN old_id END) AS BIGINT) AS dup_of
  FROM scored GROUP BY vec_id
)
SELECT w.vec_id AS vec_id, CAST(n.cell AS INT) AS cell,
       COALESCE(a.n_cand, 0) AS n_cand,
       COALESCE(a.n_dup, 0) AS n_dup,
       a.max_sim AS max_sim,
       a.dup_of AS dup_of,
       COALESCE(a.n_dup, 0) > 0 AS is_dup
FROM newv w
LEFT JOIN nasg n ON n.vec_id = w.vec_id
LEFT JOIN agg a ON a.vec_id = w.vec_id
"""
# ^ anchored on newv, not nasg (r17 ADVICE): when the OLD split is
# empty, cents is empty and nasg (newv CROSS JOIN cents) vanishes —
# the Spark builder's explicit empty-cents branch still emits one
# all-unique row per new vector with NULL cell, and this LEFT JOIN
# shape replays exactly that. With any old rows, nasg is one row per
# new vector and the join is the identity of the previous form.


_KMEANS_K = 8
_KMEANS_ITERS = 5


def kmeans_assignments(
    emb: DataFrame, k: int = _KMEANS_K, iters: int = _KMEANS_ITERS
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means over the embedding column.

    Scale shape: centroids are a k x dim driver-side list (a few KB)
    compiled into ONE codegen'd argmin expression per iteration —
    the corpus is scanned once per iteration, never reshuffled on a
    key, and the only aggregation is the (cluster, dim) mean (k*dim
    output rows, map-side combined). That is the canonical
    cluster-scale k-means: data stays put, centroids travel.

    Determinism (so the DuckDB oracle can replay every Lloyd round):
    seeds are the md5-smallest vec_ids (same device as the IVF coarse
    quantizer), squared distances round tie-safe to 1e-9 BEFORE the
    argmin (ties break to the lowest cluster id), and the per-dim
    means accumulate in DECIMAL(30,12) then round tie-safe to 1e-9 —
    order-independent and engine-exact, the same device
    ``_ivf_centroids`` uses — before compilation into the next
    iteration's expression."""
    from deker_server_adapters_spark.functions.hashing import h32

    seeds = (
        emb.withColumn("hk", h32(F.col("vec_id")))
        .orderBy("hk", "vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    if not seeds:  # empty corpus: typed empty assignment, no centroids
        empty = emb.select(
            "*",
            F.expr("cast(array() as array<double>)").alias("dists"),
            F.lit(0).cast("int").alias("cluster"),
        ).limit(0)
        return empty, []
    cents = [list(map(float, r.embedding)) for r in sorted(seeds, key=lambda r: r.vec_id)]

    def assign(cs: list[list[float]]) -> DataFrame:
        # r17: evaluates through the Arrow kernel
        # (functions/veccompute.kmeans_rows) — the DECIMAL(30,12)
        # term-sum device (reference form: _kmeans_assign_expr in
        # tests/reference_forms.py,
        # pinned row-identical to the kernel by
        # test_veccompute_ann_kernels_match_expression_forms) compiled
        # to a ~k·dim-node interpreted HOF expression per row; the
        # kernel replays it in exact int64 fixed-point arithmetic.
        from deker_server_adapters_spark.functions.veccompute import kmeans_rows

        return kmeans_rows(emb, cs)

    for _ in range(iters):
        assigned = assign(cents)
        rows = (
            assigned.select(
                "cluster",
                F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"),
            )
            .groupBy("cluster", "d")
            .agg(
                round_ties_safe(
                    F.sum(F.col("v").cast("decimal(30,12)")).cast("double")
                    / F.count("v"),
                    9,
                ).alias("cv")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, {})[r.d] = r.cv
        cents = [
            [by_cluster[c][d] for d in range(len(cents[0]))]
            if c in by_cluster
            else cents[c]  # empty cluster keeps its centroid
            for c in range(len(cents))
        ]
    return assign(cents), cents


_PQ_M = 8  # subspaces
_PQ_K = 16  # centroids per subspace codebook
_PQ_ITERS = 3
_PQ_SUB = _DIM // _PQ_M


def pq_codebooks(
    emb: DataFrame, m: int = _PQ_M, k: int = _PQ_K, iters: int = _PQ_ITERS
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization training (the FAISS IVFPQ memory move): the
    vector splits into ``m`` subspaces and each learns its own ``k``-
    centroid codebook by Lloyd iterations; a vector's code is then m
    bytes instead of dim floats (here 64 floats -> 8 nibbles, a 32x
    compression of the candidate-scan payload).

    Scale shape mirrors ``kmeans_assignments``: the corpus explodes
    once into (vec_id, m, subvector) rows — map-only, no key shuffle —
    and every iteration is one broadcast join against the m*k-row
    codebook table, a (vec_id, m) argmin window over that bounded
    fan-out, and a (m, c, dim) mean aggregate of m*k*sub rows. Data
    never reshuffles on a key; codebooks travel. Determinism: seeds
    are the subvectors of the k md5-smallest vec_ids, argmin ties
    break to the lowest centroid id, means accumulate in DECIMAL and
    round to 1e-9 (the kmeans discipline).

    Returns (codes_df: (vec_id, m, code), books[m][c] centroid lists).
    """
    from deker_server_adapters_spark.functions.hashing import h32

    sub = _DIM // m
    parts = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice(F.col("embedding").cast("array<double>"), mm * sub + 1, sub).alias("sv"),
            )
            for mm in range(m)
        ]
    )
    sv = emb.select("vec_id", F.explode(parts).alias("p")).select(
        "vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )

    seed_rows = (
        emb.withColumn("hk", h32(F.col("vec_id")))
        .orderBy("hk", "vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    if not seed_rows:  # empty corpus: typed empty codes, empty codebooks
        empty = sv.select(
            "vec_id",
            "m",
            F.lit(0).cast("int").alias("code"),
            "sv",
            F.lit(0.0).alias("dist"),
        ).limit(0)
        return empty, [[] for _ in range(m)]
    seed_rows = sorted(seed_rows, key=lambda r: r.vec_id)
    books = [
        [
            [float(v) for v in r.embedding[mm * sub : (mm + 1) * sub]]
            for r in seed_rows
        ]
        for mm in range(m)
    ]

    def assign(books_: list) -> DataFrame:
        # dists rounded to 1e-9 before ranking (ties then break to the
        # lowest c) so the DuckDB oracle's replay assigns identically —
        # the IVF/kmeans determinism discipline. r17: evaluates through
        # the Arrow kernel (functions/veccompute.pq_assign) — one
        # map-only stage in place of a broadcast join + per-(vec_id, m)
        # window shuffle of n·m·k rows; identical rows (the kernel
        # replays the rounded squared-L2 fold and the dist/lowest-c
        # rank order).
        from deker_server_adapters_spark.functions.veccompute import pq_assign

        return pq_assign(sv, books_)

    for _ in range(iters):
        assigned = assign(books)
        rows = (
            assigned.select("m", "code", F.posexplode(F.col("sv")).alias("d", "v"))
            .groupBy("m", "code", "d")
            .agg(
                round_ties_safe(
                    F.sum(F.col("v").cast("decimal(30,12)")).cast("double")
                    / F.count("v"),
                    9,
                ).alias("cv")
            )
            .collect()
        )
        by_mc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_mc.setdefault((r.m, r.code), {})[r.d] = r.cv
        books = [
            [
                [by_mc[(mm, c)][d] for d in range(sub)]
                if (mm, c) in by_mc
                else books[mm][c]  # empty cell keeps its centroid
                for c in range(k)
            ]
            for mm in range(m)
        ]
    return assign(books), books


_PQ_RERANK = 50  # ADC shortlist size fed to the exact re-rank


def _pq_train_cte() -> str:
    """WITH-fragment replaying ``pq_codebooks`` + the ADC lookup table
    in DuckDB, bit for bit: md5-smallest seeds (vec_id tiebreak),
    ``_PQ_ITERS`` Lloyd iterations UNROLLED into CTE chains
    (assign -> decimal-mean -> coalesce empty cells), distances rounded
    to 1e-9 before the argmin with ties to the lowest code — the exact
    discipline the Spark trainer follows so both engines walk the same
    centroid trajectory. Ends with ``pq_codes(vec_id, m, code)``,
    ``pqlut(query_id, m, c, qdot, cnorm2)`` and ``pqqn(query_id, qn)``.
    """
    from deker_server_adapters_spark.functions.hashing import h32_sql

    m, k, iters = _PQ_M, _PQ_K, _PQ_ITERS
    sub = _DIM // m
    sqdist = round_ties_safe_sql(
        "list_sum(list_transform(list_zip(s.sv, b.ce), "
        "z -> (z[1] - z[2]) * (z[1] - z[2])))", 9
    )
    parts = [
        f"""pqseeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS c
  FROM (SELECT vec_id FROM embeddings ORDER BY {h32_sql("vec_id")}, vec_id LIMIT {k})
), pqsv AS (
  SELECT e.vec_id, CAST(mm.m AS INT) AS m,
         list_transform(list_slice(e.embedding, mm.m * {sub} + 1, (mm.m + 1) * {sub}),
                        x -> CAST(x AS DOUBLE)) AS sv
  FROM embeddings e, range(0, {m}) AS mm(m)
), pqcb0 AS (
  SELECT s.m, p.c, s.sv AS ce
  FROM pqseeds p JOIN pqsv s ON s.vec_id = p.vec_id
)"""
    ]
    for i in range(iters):
        parts.append(
            f"""pqasg{i} AS (
  SELECT vec_id, m, sv, c FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
    FROM (SELECT s.vec_id, s.m, s.sv, b.c, {sqdist} AS dist
          FROM pqsv s JOIN pqcb{i} b ON b.m = s.m) t0
  ) t WHERE rn = 1
), pqcb{i + 1}m AS (
  SELECT m, c, CAST(u.i - 1 AS INT) AS d,
         {round_ties_safe_sql("CAST(sum(CAST(sv[u.i] AS DECIMAL(30,12))) AS DOUBLE) / count(*)", 9)} AS cv
  FROM pqasg{i}, UNNEST(range(1, {sub} + 1)) u(i)
  GROUP BY m, c, d
), pqcb{i + 1} AS (
  SELECT b.m, b.c, coalesce(n.ce, b.ce) AS ce
  FROM pqcb{i} b
  LEFT JOIN (SELECT m, c, list(cv ORDER BY d) AS ce FROM pqcb{i + 1}m GROUP BY m, c) n
    ON n.m = b.m AND n.c = b.c
)"""
        )
    parts.append(
        f"""pq_codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
    FROM (SELECT s.vec_id, s.m, b.c, {sqdist} AS dist
          FROM pqsv s JOIN pqcb{iters} b ON b.m = s.m) t0
  ) t WHERE rn = 1
), pqlut AS (
  SELECT s.vec_id AS query_id, b.m, b.c,
         list_sum(list_transform(list_zip(s.sv, b.ce), z -> z[1] * z[2])) AS qdot,
         list_sum(list_transform(b.ce, x -> x * x)) AS cnorm2
  FROM pqsv s JOIN pqcb{iters} b ON b.m = s.m
  WHERE s.vec_id < {_N_QUERIES}
), pqqn AS (
  SELECT vec_id AS query_id,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id < {_N_QUERIES}
)"""
    )
    return ", ".join(parts)


_PQ_RERANK_TAIL = f"""pqshort AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id) AS rnk
    FROM pqadc
  ) t WHERE rnk <= {_PQ_RERANK}
), pqscored AS (
  SELECT p.query_id, p.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM pqshort p
  JOIN embeddings eq ON eq.vec_id = p.query_id
  JOIN embeddings en ON en.vec_id = p.neighbor_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM pqscored
  ) t WHERE rnk <= {_TOP_K}
)"""


_PQ_ADC_ALLPAIRS_CTE = f"""pqadc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         {round_ties_safe_sql("sum(l.qdot) / (min(n.qn) * sqrt(sum(l.cnorm2)))", 6)} AS adc_cosine
  FROM pq_codes cd
  JOIN pqlut l ON l.m = cd.m AND l.c = cd.code
  JOIN pqqn n ON n.query_id = l.query_id
  WHERE l.query_id <> cd.vec_id
  GROUP BY l.query_id, cd.vec_id
)"""

# _PQ_RERANK_TAIL ends at ``approx`` (membership only — enough for the
# recall ops). The query-path oracles need the scored rows themselves:
_PQ_SCORED_TAIL = f"""pqshort AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id) AS rnk
    FROM pqadc
  ) t WHERE rnk <= {_PQ_RERANK}
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         {round_ties_safe_sql("list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])", 6)} AS cosine
  FROM pqshort p
  JOIN embeddings eq ON eq.vec_id = p.query_id
  JOIN embeddings en ON en.vec_id = p.neighbor_id
)"""


def _pq_topk_sql() -> str:
    """Oracle for ``ann_pq_cosine`` (r14 graduation): the recall twin's
    full trainer replay (``_pq_train_cte`` — unrolled Lloyd CTEs) feeds
    the same ADC scoring, shortlist, exact re-rank, and the tie-safe
    top-k tail with the op's actual output columns."""
    return f"""
WITH {_pq_train_cte()}, {_PQ_ADC_ALLPAIRS_CTE}, {_PQ_SCORED_TAIL}
{_ANN_TOPK_TAIL_SQL}
"""


def _ivfpq_topk_sql() -> str:
    """Oracle for ``ann_ivfpq_cosine`` (r14 graduation): IVF candidate
    replay composed with the PQ trainer replay — ADC over the
    cell-pruned pairs only, exactly like the op — then shortlist,
    exact re-rank, tie-safe top-k."""
    return f"""
WITH {_ivf_cand_cte()},
{_pq_train_cte()}, pqadc AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("sum(l.qdot) / (min(n.qn) * sqrt(sum(l.cnorm2)))", 6)} AS adc_cosine
  FROM cand c
  JOIN pq_codes cd ON cd.vec_id = c.neighbor_id
  JOIN pqlut l ON l.query_id = c.query_id AND l.m = cd.m AND l.c = cd.code
  JOIN pqqn n ON n.query_id = c.query_id
  GROUP BY c.query_id, c.neighbor_id
), {_PQ_SCORED_TAIL}
{_ANN_TOPK_TAIL_SQL}
"""


def _pq_recall_sql() -> str:
    """recall@k oracle for ``ann_pq_cosine``: replayed codebooks/codes
    feed the same ADC scoring (6-dp rounded, neighbor_id tiebreak),
    top-``_PQ_RERANK`` shortlist, exact-cosine re-rank, top-k."""
    return f"""
WITH exact AS ({ANN_TOPK_SQL}),
{_pq_train_cte()}, pqadc AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         {round_ties_safe_sql("sum(l.qdot) / (min(n.qn) * sqrt(sum(l.cnorm2)))", 6)} AS adc_cosine
  FROM pq_codes cd
  JOIN pqlut l ON l.m = cd.m AND l.c = cd.code
  JOIN pqqn n ON n.query_id = l.query_id
  WHERE l.query_id <> cd.vec_id
  GROUP BY l.query_id, cd.vec_id
), {_PQ_RERANK_TAIL}
{_RECALL_TAIL_SQL}
"""


def _ivfpq_recall_sql() -> str:
    """recall@k oracle for ``ann_ivfpq_cosine``: the IVF candidate
    replay (``_ivf_cand_cte``) composed with the PQ replay — ADC runs
    only over the cell-pruned candidate pairs, exactly like the op."""
    return f"""
WITH exact AS ({ANN_TOPK_SQL}),
{_ivf_cand_cte()},
{_pq_train_cte()}, pqadc AS (
  SELECT c.query_id, c.neighbor_id,
         {round_ties_safe_sql("sum(l.qdot) / (min(n.qn) * sqrt(sum(l.cnorm2)))", 6)} AS adc_cosine
  FROM cand c
  JOIN pq_codes cd ON cd.vec_id = c.neighbor_id
  JOIN pqlut l ON l.query_id = c.query_id AND l.m = cd.m AND l.c = cd.code
  JOIN pqqn n ON n.query_id = c.query_id
  GROUP BY c.query_id, c.neighbor_id
), {_PQ_RERANK_TAIL}
{_RECALL_TAIL_SQL}
"""


def ann_pq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN with exact re-rank (the FAISS
    ADC + refine shape): queries build a per-(subspace, code) lookup
    table against the trained codebooks — dot(q_sub, centroid) and
    |centroid|^2 — and every corpus vector is SHORTLISTED from its m
    CODES alone: cos(q, x_hat) = sum_m lut / (|q| * sqrt(sum_m
    cnorm2)). The scan side touches 8 nibbles per vector instead of 64
    floats — at 100 TB of embeddings that 32x payload shrink IS the
    speedup; the LUT is |Q| * m * k rows broadcast. The top-
    ``_PQ_RERANK`` shortlist per query (|Q| * 50 rows, tiny) then
    re-ranks by EXACT cosine against the full vectors, so
    reconstruction noise only costs recall when a true neighbor falls
    outside the shortlist — the standard two-stage trade (a one-stage
    ADC ranking on THIS corpus of near-orthogonal random vectors
    measures ~0.16 recall@5; the re-rank form's recall is pytest-
    checked). Fully oracled (r14): the DuckDB twin replays the Lloyd
    trainer as unrolled CTEs, then ADC + shortlist + re-rank."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = pq_codebooks(emb)
    sub = _DIM // _PQ_M
    qrows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    lut_rows = []
    qnorms = {}
    for r in qrows:
        q = np.asarray(r.embedding, dtype=np.float64)
        qnorms[r.vec_id] = float(np.sqrt((q * q).sum()))
        for mm in range(_PQ_M):
            qsub = q[mm * sub : (mm + 1) * sub]
            for c in range(_PQ_K):
                cent = np.asarray(books[mm][c], dtype=np.float64)
                lut_rows.append(
                    (
                        int(r.vec_id),
                        mm,
                        c,
                        float(np.dot(qsub, cent)),
                        float(np.dot(cent, cent)),
                    )
                )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, c int, qdot double, cnorm2 double"
    )
    qn = spark.createDataFrame(
        [(int(k), v) for k, v in sorted(qnorms.items())], "query_id long, qn double"
    )
    scored = (
        codes.select(
            "vec_id", F.col("m").alias("cm"), F.col("code").alias("cc")
        )
        .join(
            F.broadcast(lut),
            (F.col("cm") == F.col("m")) & (F.col("cc") == F.col("c")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qdot").alias("qdot"), F.sum("cnorm2").alias("n2"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_cosine",
            round_ties_safe(F.col("qdot") / (F.col("qn") * F.sqrt(F.col("n2"))), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), "neighbor_id")
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the tiny shortlist against the full vectors.
    # r18 (guide §4.1/§4.2, VERDICT item 3): the exact cosine evaluates
    # through the Arrow kernel instead of the interpreted
    # zip_with/aggregate fold — same rows (cos_scored's contract, the
    # ann_ivf_cosine precedent), map-only over the shortlist join.
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ne = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    rerank_pairs = (
        ne.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qe.filter(F.col("query_id") < _N_QUERIES)), "query_id")
        .select("query_id", "neighbor_id", "qe", "ne")
    )
    reranked = cos_scored(rerank_pairs, 6, a="qe", b="ne", out="cosine")
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        reranked.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def ann_ivfpq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ + refine — the production ANN composition (FAISS
    IVFPQ): the coarse quantizer prunes the corpus to the query's
    top-``_IVF_PROBES`` cells (touch ~probes/cells of the data), PQ
    ADC scores ONLY those candidates from their 8-nibble codes against
    a broadcast query LUT, and the top-``_PQ_RERANK`` shortlist
    re-ranks by exact cosine. Three independently-tested stages
    composed: ``_ivf_centroids`` (cell assignment, 1e-9-rounded sims),
    ``pq_codebooks`` (codes), and the exact re-rank. At 100 TB this is
    the shape that works: cell pruning bounds I/O, code scoring bounds
    bytes/candidate, the refine bounds the error of both. Fully
    oracled (r14): the DuckDB twin replays both trainers; recall
    additionally pytest-checked."""
    import numpy as np

    from deker_server_adapters_spark.functions.veccompute import cells_ranked

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroid_rows(emb)
    # inverted file: cell per vector (same discipline as ann_ivf_cosine).
    # r17: assignment + probe ranking evaluate through the Arrow kernel
    # — map-only stages in place of the crossJoin + per-vector window
    # shuffles; identical rows (see cells_ranked). Only the two columns
    # each stage needs cross the boundary (guide §4.2).
    inv = cells_ranked(
        emb.select("vec_id", "embedding"), cents, 1, ["vec_id"]
    ).select("vec_id", "cell")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    qcells = cells_ranked(
        queries.select("vec_id", "embedding"), cents, _IVF_PROBES, ["vec_id"]
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        inv.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
    )

    codes, books = pq_codebooks(emb)
    sub = _DIM // _PQ_M
    qrows = sorted(
        queries.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    lut_rows, qnorms = [], {}
    for r in qrows:
        q = np.asarray(r.embedding, dtype=np.float64)
        qnorms[r.vec_id] = float(np.sqrt((q * q).sum()))
        for mm in range(_PQ_M):
            qsub = q[mm * sub : (mm + 1) * sub]
            for c in range(_PQ_K):
                cent = np.asarray(books[mm][c], dtype=np.float64)
                lut_rows.append(
                    (int(r.vec_id), mm, c, float(np.dot(qsub, cent)), float(np.dot(cent, cent)))
                )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, c int, qdot double, cnorm2 double"
    )
    qn = spark.createDataFrame(
        [(int(k), v) for k, v in sorted(qnorms.items())], "query_id long, qn double"
    )
    # ADC over the PRUNED candidate set only
    lut_r = lut.withColumnRenamed("query_id", "lq")
    adc = (
        codes.select("vec_id", F.col("m").alias("cm"), F.col("code").alias("cc"))
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(lut_r),
            (F.col("cm") == F.col("m"))
            & (F.col("cc") == F.col("c"))
            & (F.col("query_id") == F.col("lq")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qdot").alias("qdot"), F.sum("cnorm2").alias("n2"))
        .join(F.broadcast(qn), "query_id")
        .withColumn("adc_cosine", round_ties_safe(F.col("qdot") / (F.col("qn") * F.sqrt(F.col("n2"))), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), "neighbor_id")
    shortlist = (
        adc.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    # r18 (guide §4.1/§4.2, VERDICT item 3): exact re-rank cosine via
    # the Arrow kernel — same rewrite as ann_pq_cosine above.
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ne = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    rerank_pairs = (
        ne.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qe.filter(F.col("query_id") < _N_QUERIES)), "query_id")
        .select("query_id", "neighbor_id", "qe", "ne")
    )
    reranked = cos_scored(rerank_pairs, 6, a="qe", b="ne", out="cosine")
    w3 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        reranked.withColumn("rnk", F.row_number().over(w3))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def embeddings_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook summary after training: per (subspace, code) cell
    population and mean squared quantization error — the codebook-
    health view (dead cells, lopsided cells, per-subspace distortion).
    Fully oracled (r14): the DuckDB twin replays the Lloyd trainer
    (``_pq_train_cte``'s unrolled CTEs) and the final assignment with
    its 1e-9-rounded distances; the mean accumulates in DECIMAL so the
    engines agree independent of summation order. NumPy parity
    additionally pytest-pinned."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes, _books = pq_codebooks(emb)
    return codes.groupBy("m", "code").agg(
        F.count("*").alias("n_points"),
        round_ties_safe(
            F.sum(F.col("dist").cast("decimal(30,12)")).cast("double") / F.count("*"),
            6,
        ).alias("avg_sq_err"),
    )


def _pq_summary_sql() -> str:
    """Oracle for ``embeddings_pq``: the trainer replay plus a final
    assignment that KEEPS the 1e-9-rounded squared distance
    (``pq_codes`` drops it), aggregated with the same decimal-mean
    discipline as the op."""
    sqdist = round_ties_safe_sql(
        "list_sum(list_transform(list_zip(s.sv, b.ce), "
        "z -> (z[1] - z[2]) * (z[1] - z[2])))", 9
    )
    return f"""
WITH {_pq_train_cte()}, pqfin AS (
  SELECT vec_id, m, c AS code, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
    FROM (SELECT s.vec_id, s.m, b.c, {sqdist} AS dist
          FROM pqsv s JOIN pqcb{_PQ_ITERS} b ON b.m = s.m) t0
  ) t WHERE rn = 1
)
SELECT m, code, count(*) AS n_points,
       {round_ties_safe_sql("CAST(sum(CAST(dist AS DECIMAL(30,12))) AS DOUBLE) / count(*)", 6)} AS avg_sq_err
FROM pqfin GROUP BY m, code
"""


_PCA_K = 4


def pca_moments(emb: DataFrame) -> tuple[int, "list[float]", "list[list[float]]"]:
    """One distributed pass: (n, sum vector, Gram matrix X'X).

    The canonical tall-skinny PCA split (same shape Spark MLlib's
    RowMatrix uses): each Arrow batch contributes a d-vector and a
    d x d partial Gram computed in NumPy (BLAS — no per-element
    Python), partials are exploded to (idx, value) and summed in one
    tiny shuffle (4096·batches rows), and only the d x d result ever
    reaches the driver. The corpus is scanned once and never
    reshuffled."""
    import numpy as np
    import pandas as pd

    head = emb.select("embedding").first()
    if head is None:  # empty corpus: zero moments, dimension unknowable
        return 0, [], []
    dim = len(head[0])

    def partials(batches):
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    part = emb.select("embedding").mapInPandas(
        partials, schema="n long, s array<double>, g array<double>"
    )
    n_total = part.agg(F.sum("n")).first()[0]
    s_rows = (
        part.select(F.posexplode("s").alias("i", "v")).groupBy("i").agg(F.sum("v").alias("v"))
    ).collect()
    g_rows = (
        part.select(F.posexplode("g").alias("i", "v")).groupBy("i").agg(F.sum("v").alias("v"))
    ).collect()
    s = [0.0] * dim
    for r in s_rows:
        s[r.i] = r.v
    g_flat = [0.0] * (dim * dim)
    for r in g_rows:
        g_flat[r.i] = r.v
    gram = [g_flat[i * dim : (i + 1) * dim] for i in range(dim)]
    return int(n_total), s, gram


def embeddings_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_PCA_K`` principal components of the embedding corpus.

    The O(N) work (mean + Gram) is one distributed pass
    (``pca_moments``); the d x d covariance eigensolve is driver math
    on a bounded matrix — exactly how Spark MLlib's
    ``computePrincipalComponents`` splits the problem for d up to
    65535. Output is sign-free (eigenvalue, explained-variance ratio,
    index of the largest-|loading| dimension); NumPy parity is
    pytest-checked. Rows-only (eigensolve is not SQL-expressible)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, gram = pca_moments(emb)
    if n == 0:  # empty corpus: no components, typed empty result
        return spark.createDataFrame(
            [], "component int, eigenvalue double, explained_var double, top_loading_dim int"
        )
    mu = np.array(s) / n
    cov = (np.array(gram) - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:_PCA_K]
    total_var = float(evals.sum())
    rows = [
        (
            int(rank),
            float(round(evals[i], 6)),
            float(round(evals[i] / total_var, 6)),
            int(np.abs(evecs[:, i]).argmax()),
        )
        for rank, i in enumerate(order)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_var double, top_loading_dim int"
    )


_MOM_SCALE = 1e9  # per-row contributions fixed-pointed at 1e-9


def embeddings_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLED half of PCA (r13, the MLlib RowMatrix split the
    ``embeddings_pca`` docstring documents): the O(N) mean + Gram
    moment pass as a queryable coordinate table, leaving only the
    bounded d x d driver eigensolve to the NumPy-parity pytest. Rows:
    (i, j, v_e9) = scaled Gram entries sum(round(x_i * x_j * 1e9)) for
    all (i, j); (i, -1) = scaled component sums; (-1, -1) = n.

    Exactness device (the ``events_user_value_decay`` discipline): each
    per-row contribution is fixed-pointed as floor(x_i*x_j*1e9 + 0.5)
    — the same three IEEE ops in NumPy and DuckDB on float32-exact
    inputs — then accumulated as INT64, so the sums are exact integers,
    order-independent, and bit-identical across engines, no matter how
    partitions or DuckDB's parallel aggregate group them.

    Scale shape: one corpus scan; each Arrow batch contributes a d- and
    a d^2-long INT64 partial (computed blockwise in NumPy — BLAS-shaped
    outer products, no per-element Python), partials explode to (idx,
    value) and sum in one bounded shuffle of 4096-rows-per-batch;
    output is d^2 + d + 1 rows. The corpus is never reshuffled and
    nothing corpus-sized reaches the driver."""
    emb = load_table(spark, sf_dir, "embeddings")

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d = X.shape[1]
            g = np.zeros((d, d), dtype=np.int64)
            for lo in range(0, len(X), 256):  # bound the (B, d, d) temp
                B = X[lo : lo + 256]
                P = B[:, :, None] * B[:, None, :]
                g += np.floor(P * _MOM_SCALE + 0.5).astype(np.int64).sum(axis=0)
            s = np.floor(X * _MOM_SCALE + 0.5).astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {"n": [len(X)], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    part = emb.select("embedding").mapInPandas(
        partials, schema="n long, s array<long>, g array<long>"
    )
    dim = F.size("s")
    gram = (
        part.select(dim.alias("d"), F.posexplode("g").alias("k", "v"))
        .groupBy(
            F.expr("CAST(k div d AS INT)").alias("i"),
            F.expr("CAST(k % d AS INT)").alias("j"),
        )
        .agg(F.sum("v").cast("long").alias("v_e9"))
    )
    sums = (
        part.select(F.posexplode("s").alias("i", "v"))
        .groupBy(F.col("i").cast("int").alias("i"))
        .agg(F.sum("v").cast("long").alias("v_e9"))
        .select("i", F.lit(-1).cast("int").alias("j"), "v_e9")
    )
    count_row = emb.agg(
        F.lit(-1).cast("int").alias("i"),
        F.lit(-1).cast("int").alias("j"),
        F.count("*").cast("long").alias("v_e9"),
    )
    return gram.select("i", "j", "v_e9").unionByName(sums).unionByName(count_row)


PCA_MOMENTS_SQL = """
WITH x AS (
  SELECT vec_id, CAST(t.i AS INT) AS i, embedding[t.i + 1]::DOUBLE AS v
  FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
), g AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(floor(a.v * b.v * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS v_e9
  FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i
), s AS (
  SELECT i, CAST(-1 AS INT) AS j,
         CAST(sum(CAST(floor(v * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS v_e9
  FROM x GROUP BY i
)
SELECT i, j, v_e9 FROM g
UNION ALL SELECT i, j, v_e9 FROM s
UNION ALL SELECT CAST(-1 AS INT), CAST(-1 AS INT), CAST(count(*) AS BIGINT) FROM embeddings
"""


def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster summary (size + mean within-cluster squared
    distance) after ``_KMEANS_ITERS`` Lloyd iterations.

    Fully oracled (r12): the trainer is deterministic end to end —
    md5-smallest seeds, tie-safe 1e-9 distance rounding before every
    argmin, DECIMAL-accumulated 1e-9 centroid means — so
    ``_kmeans_sql`` replays all ``_KMEANS_ITERS`` Lloyd rounds as
    unrolled DuckDB CTEs (the same device the IVF/PQ recall oracles
    use for their one-round quantizers) and the driver hash-checks the
    cluster summary. NumPy assignment parity stays pytest-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_assignments(emb)
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_points"),
        round_ties_safe(
            F.sum(F.expr("cast(array_min(dists) as decimal(30,12))")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_sqdist"),
    )


# the kmeans distance TERM, shared by both _kmeans_sql sites: 12-dp
# tie-safe quantized before the decimal cast (see dist_expr's comment)
_KM_TERM = round_ties_safe_sql("(e.v - c.cv) * (e.v - c.cv)", 12)


def _kmeans_sql(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    """DuckDB replay of ``kmeans_assignments`` + the cluster summary:
    ``iters`` Lloyd rounds unrolled as CTE chains c0 -> c{iters}
    (assign by tie-safe-rounded squared distance, recompute
    DECIMAL-mean centroids, empty clusters keep their centroid via the
    LEFT JOIN COALESCE), then the final assignment aggregates size and
    mean within-cluster squared distance. Engine-exact by the same
    argument as ``_ivf_inv_cte``: every comparison happens on 1e-9
    tie-safe-rounded values and every sum — distances AND means —
    accumulates in DECIMAL over per-term-identical doubles, so no
    order-unspecified double aggregation survives on either side."""
    from deker_server_adapters_spark.functions.hashing import h32_sql

    parts = [
        f"""
expl AS (
  SELECT vec_id, CAST(u.i - 1 AS INT) AS d, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) u(i)
), seeds AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY {h32_sql("vec_id")}, vec_id LIMIT {k})
), c0 AS (
  SELECT s.cluster, e.d, e.v AS cv FROM seeds s JOIN expl e USING (vec_id)
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", d{i} AS (
  SELECT e.vec_id, c.cluster,
         {round_ties_safe_sql(f"CAST(sum(CAST({_KM_TERM} AS DECIMAL(30,12))) AS DOUBLE)", 9)} AS dist
  FROM expl e JOIN c{i - 1} c ON c.d = e.d
  GROUP BY e.vec_id, c.cluster
), a{i} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d{i}
  ) t WHERE rn = 1
), m{i} AS (
  SELECT a.cluster, e.d,
         {round_ties_safe_sql("CAST(sum(CAST(e.v AS DECIMAL(30,12))) AS DOUBLE) / count(*)", 9)} AS cv
  FROM a{i} a JOIN expl e USING (vec_id)
  GROUP BY a.cluster, e.d
), c{i} AS (
  SELECT c.cluster, c.d, COALESCE(m.cv, c.cv) AS cv
  FROM c{i - 1} c LEFT JOIN m{i} m ON m.cluster = c.cluster AND m.d = c.d
)"""
        )
    fin = iters + 1
    parts.append(
        f""", d{fin} AS (
  SELECT e.vec_id, c.cluster,
         {round_ties_safe_sql(f"CAST(sum(CAST({_KM_TERM} AS DECIMAL(30,12))) AS DOUBLE)", 9)} AS dist
  FROM expl e JOIN c{iters} c ON c.d = e.d
  GROUP BY e.vec_id, c.cluster
), a{fin} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d{fin}
  ) t WHERE rn = 1
)
SELECT cluster, count(*) AS n_points,
       {round_ties_safe_sql("CAST(sum(CAST(dist AS DECIMAL(30,12))) AS DOUBLE) / count(*)", 6)} AS avg_sqdist
FROM a{fin} GROUP BY cluster"""
    )
    return "WITH " + "".join(parts)


# --- cosine similarity THRESHOLD self-join (r9) -----------------------

_TJ_TAU = 0.35  # on this corpus: ~p99.9 of the pair-cosine distribution


# adaptive bucket resolution: bits per table grow with corpus size so
# expected occupancy stays ≤ _TJ_TARGET_BUCKET (integer CASE ladder —
# no float log, identical in both engines). Measured motivation
# (PERF.md): at FIXED 4-bit tables the 10x corpus cost 45x (pair work
# is occupancy², i.e. n²/2^b); with the ladder occupancy — and with it
# per-bucket pair fan-out per vector — is ~constant, restoring ~linear
# growth. The price is per-table collision probability p^b, i.e.
# recall decays as resolution rises — the standard LSH trade; buy it
# back with more tables. Recall at the current corpus is pinned; at
# any scale it's measured by ann_threshold_join_recall.
_TJ_TABLES = _N_TABLES
_TJ_MIN_BITS = _BITS_PER_TABLE  # ladder floor = the top-k config
# cap covers ~2M vectors at ≤512 occupancy; for a larger corpus raise
# the cap (a constants change — signature cost is MAX_BITS dots/table,
# map-only) rather than letting occupancy grow past the target again
_TJ_MAX_BITS = 12
_TJ_TARGET_BUCKET = 8192 // 16  # n/2^b ≤ 512 at every ladder step


def _tj_bits_ladder_sql(n_expr: str) -> str:
    """CASE ladder: smallest b in [_TJ_MIN_BITS, _TJ_MAX_BITS] with
    n/2^b ≤ _TJ_TARGET_BUCKET — pure integer comparisons."""
    branches = []
    for b in range(_TJ_MIN_BITS, _TJ_MAX_BITS):
        branches.append(
            f"WHEN {n_expr} <= {_TJ_TARGET_BUCKET * (1 << b)} THEN {b}"
        )
    return f"CASE {' '.join(branches)} ELSE {_TJ_MAX_BITS} END"


def _ladder_bits(n: int, delta: int) -> int:
    """The Python form of :func:`_tj_bits_ladder_sql` for a corpus of
    ``n`` vectors, moved ``delta`` steps up the ladder (capped at
    ``_TJ_MAX_BITS``)."""
    for b in range(_TJ_MIN_BITS, _TJ_MAX_BITS):
        if n <= _TJ_TARGET_BUCKET * (1 << b):
            return min(b + delta, _TJ_MAX_BITS)
    return _TJ_MAX_BITS


def _tj_signatures(emb: DataFrame, nrow: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket) under the ADAPTIVE bit count: every
    vector computes all _TJ_MAX_BITS sign bits per table, and the
    bucket keeps the first ``nbits`` of them (nbits from the corpus-
    size ladder, broadcast in as a 1-row table). r17: Arrow-kernel
    evaluation (see ``_hy_signatures``), and the signature stream is
    NARROW — the embedding no longer rides through the bucket join
    (guide §2.3/§8: the join and the pair dedup only *decide*, so they
    shuffle ids; the payload re-attaches once, post-dedup)."""
    from deker_server_adapters_spark.functions.veccompute import signature_rows

    src = (
        emb.crossJoin(F.broadcast(nrow))
        .withColumn("ntables", F.lit(_TJ_TABLES))
        .withColumn("nprobes", F.lit(0))
        .select("vec_id", "embedding", "nbits", "ntables", "nprobes")
    )
    return signature_rows(
        src,
        _hyperplanes(_TJ_TABLES * _TJ_MAX_BITS, _DIM),
        _TJ_TABLES,
        _TJ_MAX_BITS,
        0,
        ["vec_id"],
        emit_probes=False,
    )


def ann_cosine_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity SELF-JOIN: every embedding pair with cosine ≥
    ``_TJ_TAU`` — the family member next to top-k that dedup and
    recommendation pipelines actually ask for ("all pairs above τ",
    not "k best per probe"). Candidates are pairs sharing ≥ 1
    (table, bucket) LSH cell, then exact cosine verifies inside the
    candidate set — the n² cross join never appears in the plan.
    Approximate by design: recall is the LSH collision guarantee,
    measured by ``ann_threshold_join_recall``.

    Scale shape: the bucket equi-join shuffles both sides on the
    narrow (tbl, bucket) key, and — the part the first cut got wrong
    and the 10× stress caught at 45× — the bucket BIT COUNT adapts to
    the corpus via an integer ladder (occupancy ≤
    ``_TJ_TARGET_BUCKET``), so per-bucket pair fan-out per vector
    stays ~constant as n grows instead of n/2^b-squared. Deterministic
    end to end (md5 hyperplanes, integer ladder, 6-dp cosine), so the
    DuckDB oracle replays the exact adaptive bucket structure and the
    driver hash-checks every surviving pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrow = emb.agg(
        F.expr(f"{_tj_bits_ladder_sql('count(*)')}").cast("int").alias("nbits")
    )
    sigs = _tj_signatures(emb, nrow)
    a = sigs.select(F.col("vec_id").alias("a_id"), "tbl", "bucket")
    b = sigs.select(F.col("vec_id").alias("b_id"), "tbl", "bucket")
    # r17 (guide §2.3/§8): the bucket join and the pair dedup carry
    # ONLY ids — the old form shipped both 64-dim embeddings on every
    # duplicated candidate row through the dedup exchange (~1 GB at
    # sf0.1). The embeddings re-attach ONCE, post-dedup, by vec_id.
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    pairs = cand.join(
        emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea")),
        "a_id",
    ).join(
        emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb")),
        "b_id",
    ).select("a_id", "b_id", "ea", "eb")
    from deker_server_adapters_spark.functions.veccompute import cos_scored

    return (
        cos_scored(pairs, 6, out="cosine")
        .filter(F.col("cosine") >= _TJ_TAU)
        .select("a_id", "b_id", "cosine")
    )


def _duck_tj_buckets() -> str:
    """(vec_id, tbl, bucket) in DuckDB mirroring ``_tj_signatures``:
    same md5 planes, same left-to-right double accumulation, same sign
    rule, same integer bits ladder (nbits from a scalar subquery)."""
    planes = _hyperplanes(_TJ_TABLES * _TJ_MAX_BITS, _DIM)
    ladder = _tj_bits_ladder_sql("(SELECT count(*) FROM embeddings)")
    selects = []
    for t in range(_TJ_TABLES):
        bits = []
        for i in range(_TJ_MAX_BITS):
            p = planes[t * _TJ_MAX_BITS + i]
            dot_sql = " + ".join(
                f"embedding[{k + 1}]::DOUBLE * {w}" for k, w in enumerate(p)
            )
            bits.append(
                f"(CASE WHEN {i} < nb.nbits AND ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({' + '.join(bits)} AS BIGINT) AS bucket\n"
            f"FROM embeddings CROSS JOIN (SELECT ({ladder}) AS nbits) nb"
        )
    return "\nUNION ALL\n".join(selects)


def _threshold_join_sql() -> str:
    return f"""
WITH b AS (
{_duck_tj_buckets()}
), cand AS (
  SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
  FROM b pa JOIN b pb ON pa.tbl = pb.tbl AND pa.bucket = pb.bucket
  WHERE pa.vec_id < pb.vec_id
), scored AS (
  SELECT c.a_id, c.b_id,
         floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a_id
  JOIN embeddings eb ON eb.vec_id = c.b_id
)
SELECT a_id, b_id, cosine FROM scored WHERE cosine >= {_TJ_TAU}
"""


def ann_threshold_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality eval for the threshold join: pairs the LSH
    path finds vs the exact n² join at the same τ (the brute-force
    side is eval-only, same as every other recall row). One row:
    n_exact / n_found / n_hit / recall — false positives are
    impossible (candidates exact-verify), so n_found == n_hit and the
    interesting number is recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r17: exact side evaluated BLOCKED (see dedup_semantic_recall) —
    # bit-identical pairs, no n²/2 pair-row materialization.
    from deker_server_adapters_spark.functions.veccompute import cos_true_pairs

    exact = cos_true_pairs(emb, _TJ_TAU, 6, a_name="a_id", b_name="b_id")
    found = ann_cosine_threshold_join(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("hit")
    )
    n_found = found.agg(F.count("*").cast("long").alias("n_found"))
    return (
        exact.join(found, ["a_id", "b_id"], "left")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.coalesce(F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(0))
            .cast("long")
            .alias("n_hit"),
        )
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_exact",
            "n_found",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                round_ties_safe(F.col("n_hit") / F.col("n_exact"), 4),
            ).alias("recall"),
        )
    )


def _threshold_join_recall_sql() -> str:
    return f"""
WITH found AS ({_threshold_join_sql()}),
exact AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000.0 + 0.5) / 1000000.0 >= {_TJ_TAU}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
       (SELECT CAST(count(*) AS BIGINT) FROM exact e JOIN found f
          ON e.a_id = f.a_id AND e.b_id = f.b_id) AS n_hit,
       CASE WHEN (SELECT count(*) FROM exact) > 0 THEN
         floor(((SELECT count(*) FROM exact e JOIN found f
            ON e.a_id = f.a_id AND e.b_id = f.b_id)
           / CAST((SELECT count(*) FROM exact) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
       END AS recall
"""


OPS = {
    "ann_cosine_topk": Op("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_SQL, headline=True),
    "ann_cosine_threshold_join": Op(
        "ann_cosine_threshold_join",
        ann_cosine_threshold_join,
        _threshold_join_sql(),
        description=(
            "all-pairs-above-tau similarity self-join via the LSH "
            "bucket index (no n^2 cross join); oracle replays buckets"
        ),
    ),
    "ann_threshold_join_recall": Op(
        "ann_threshold_join_recall",
        ann_threshold_join_recall,
        _threshold_join_recall_sql(),
        description=(
            "threshold-join recall vs the exact n^2 join at the same "
            "tau (brute-force side eval-only)"
        ),
    ),
    "embeddings_pca_moments": Op(
        "embeddings_pca_moments",
        embeddings_pca_moments,
        PCA_MOMENTS_SQL,
        description=(
            "the oracled O(N) half of PCA: mean + Gram moments as an "
            "exact fixed-point (1e-9) INT64 coordinate table, one "
            "corpus pass; the bounded d x d eigensolve stays "
            "driver-side (embeddings_pca, NumPy-parity pytest)"
        ),
    ),
    "ann_lsh_cosine": Op(
        "ann_lsh_cosine",
        ann_lsh_cosine,
        _lsh_topk_sql(),
        description=(
            "multi-table LSH top-k (bucket-bounded candidates, exact "
            "re-rank); oracle replays the md5 hyperplane buckets"
        ),
    ),
    "ann_ivf_cosine": Op(
        "ann_ivf_cosine",
        ann_ivf_cosine,
        _ivf_topk_sql(),
        description=(
            "IVF probe-path top-k (coarse quantizer + inverted file); "
            "oracle replays the Lloyd trainer and probes in SQL"
        ),
    ),
    "ann_int8_cosine": Op(
        "ann_int8_cosine",
        ann_int8_cosine,
        _int8_topk_sql(),
        description=(
            "int8 scalar-quantized brute force (4x fewer bytes moved); "
            "oracle replays the symmetric quantization exactly"
        ),
    ),
    "ann_lsh_recall": Op(
        "ann_lsh_recall",
        ann_lsh_recall,
        _lsh_recall_sql(),
        description="per-query recall@k of the LSH path vs brute force",
    ),
    "ann_int8_recall": Op(
        "ann_int8_recall",
        ann_int8_recall,
        _int8_recall_sql(),
        description="per-query recall@k of int8 quantization vs float brute force",
    ),
    "ann_ivf_recall": Op(
        "ann_ivf_recall",
        ann_ivf_recall,
        _ivf_recall_sql(),
        description="per-query recall@k of the IVF probe path vs brute force",
    ),
    "ann_pq_recall": Op(
        "ann_pq_recall",
        ann_pq_recall,
        _pq_recall_sql(),
        description=(
            "per-query recall@k of PQ ADC + refine vs brute force; "
            "oracle replays the Lloyd trainer in unrolled SQL"
        ),
    ),
    "ann_ivfpq_recall": Op(
        "ann_ivfpq_recall",
        ann_ivfpq_recall,
        _ivfpq_recall_sql(),
        description=(
            "per-query recall@k of the composed IVF x PQ x refine path "
            "vs brute force; oracle replays both trainers"
        ),
    ),
    "label_centroids": Op("label_centroids", label_centroids, CENTROID_SQL),
    "embeddings_pca": Op(
        "embeddings_pca",
        embeddings_pca,
        None,
        description=(
            f"top-{_PCA_K} PCs; O(N) mean+Gram in one distributed pass "
            "(BLAS per Arrow batch), d x d eigensolve on the driver — "
            "the MLlib RowMatrix split; NumPy-parity pytest"
        ),
    ),
    "ann_ivfpq_cosine": Op(
        "ann_ivfpq_cosine",
        ann_ivfpq_cosine,
        _ivfpq_topk_sql(),
        description=(
            "IVF cell pruning x PQ ADC scoring x exact refine — the "
            "production composition; touches ~probes/cells of the data "
            "at 8 nibbles/candidate; oracle replays both trainers"
        ),
    ),
    "ann_pq_cosine": Op(
        "ann_pq_cosine",
        ann_pq_cosine,
        _pq_topk_sql(),
        description=(
            "PQ asymmetric-distance ANN: corpus scanned as 8 nibbles/"
            "vector against a broadcast query LUT (32x payload shrink); "
            "oracle replays the Lloyd trainer in unrolled SQL"
        ),
    ),
    "embeddings_pq": Op(
        "embeddings_pq",
        embeddings_pq,
        _pq_summary_sql(),
        description=(
            f"product quantization: {_PQ_M} subspaces x {_PQ_K}-centroid "
            "codebooks (64 floats -> 8 nibbles, 32x payload shrink); "
            "codebooks travel, data never reshuffles; oracle replays "
            "the trainer"
        ),
    ),
    "embeddings_hard_negatives": Op(
        "embeddings_hard_negatives",
        embeddings_hard_negatives,
        _hard_negatives_sql(),
        description=(
            f"contrastive-pair mining: top-{_HN_K} hard negatives "
            f"(highest-cosine cross-label) + hard positives "
            f"(lowest-cosine same-label) per query; one broadcast-Q "
            "corpus scan, dual rank via sign-flipped sort key"
        ),
    ),
    "embeddings_centroid_outliers": Op(
        "embeddings_centroid_outliers",
        embeddings_centroid_outliers,
        _centroid_outliers_sql(),
        description=(
            "centroid-distance OOD filter: flag vectors whose cosine to "
            "their own centroid falls 0.1 below the cell average; "
            "ladder-k quantizer reused, per-cell avg broadcast back"
        ),
    ),
    "dedup_semantic_recall": Op(
        "dedup_semantic_recall",
        dedup_semantic_recall,
        _semantic_recall_sql(),
        description=(
            "recall of SemDeDup's cluster-bounded candidate space vs ALL "
            "cosine>=tau pairs (brute-force side eval-only); cross-cluster "
            "misses are the measured trade"
        ),
    ),
    "dedup_semantic": Op(
        "dedup_semantic",
        dedup_semantic,
        _semantic_dedup_sql(),
        description=(
            f"SemDeDup: IVF-cell-partitioned cosine dedup at tau={_SEM_TAU}, "
            "min-id keeper; candidate space deterministic (all cluster-mates); "
            "cluster count follows the k~sqrt(n/32) integer ladder"
        ),
    ),
    "dedup_semantic_hybrid": Op(
        "dedup_semantic_hybrid",
        dedup_semantic_hybrid,
        _semantic_hybrid_sql(),
        description=(
            f"semantic dedup with the HYBRID candidate space (cluster-mates "
            f"UNION LSH threshold-join bucket-mates) at tau={_SEM_TAU}: the "
            "mid-tau form — pure SemDeDup stays the high-tau (>=0.9) default "
            "where near-dups share a cell; recall uplift measured by "
            "dedup_semantic_hybrid_recall"
        ),
    ),
    "dedup_semantic_hybrid_recall": Op(
        "dedup_semantic_hybrid_recall",
        dedup_semantic_hybrid_recall,
        _semantic_hybrid_recall_sql(),
        description=(
            "cluster vs hybrid pair recall at tau in one row (uplift "
            "measured, not assumed); brute-force side eval-only"
        ),
    ),
    "dedup_semantic_incremental": Op(
        "dedup_semantic_incremental",
        dedup_semantic_incremental,
        _semantic_incremental_sql(),
        description=(
            "incremental (daily-batch) semantic dedup: new vectors "
            "(vec_id%5==4) verdict against the EXISTING corpus's IVF "
            "cells and LSH buckets only — old-side-trained structures, "
            "no old-old/new-new pair work; min-old-id duplicate anchor "
            f"at tau={_SEM_TAU}"
        ),
    ),
    "dedup_semantic_hybrid_sharded": Op(
        "dedup_semantic_hybrid_sharded",
        dedup_semantic_hybrid_sharded,
        _sharded_hybrid_sql(),
        description=(
            "hybrid semantic dedup past the nbits=9 ladder ceiling "
            "(n > 262,144): hash-sharded <= 262k-vector shards each at a "
            "certified ladder point (per-shard trainer + LSH, one "
            "distributed pass, no driver loop), cross-shard near-dups "
            "caught by a cross-shard-only LSH pass over per-shard "
            "survivors; verdict = sum of the two disjoint pass "
            "aggregates (candidate streams never materialize)"
        ),
    ),
    "dedup_semantic_hybrid_sharded_recall": Op(
        "dedup_semantic_hybrid_sharded_recall",
        dedup_semantic_hybrid_sharded_recall,
        _sharded_hybrid_recall_sql(),
        description=(
            "shard-pass vs shard+survivor pair recall at tau in one row "
            "(the 100-TB shard contract measured, not assumed); "
            "brute-force side eval-only"
        ),
    ),
    "embeddings_kmeans": Op(
        "embeddings_kmeans",
        embeddings_kmeans,
        _kmeans_sql(),
        description=(
            f"Lloyd's k-means, k={_KMEANS_K}, {_KMEANS_ITERS} iterations; "
            "centroids travel (broadcast expression), data never "
            "reshuffles; oracle unrolls every Lloyd round as DuckDB "
            "CTEs (r12); NumPy-parity pytest"
        ),
    ),
}
