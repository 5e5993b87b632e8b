"""Reference expression forms of kernels the operators run.

Each function here is the Catalyst-expression form an operator used
before its Arrow/NumPy kernel replaced it. No operator runs them; the
kernel parity tests in ``test_operators_semantics.py`` pin each kernel
against its form here, row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deker_server_adapters_spark.functions.histogram import (
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.functions.vectors import cosine_similarity, dot
from deker_server_adapters_spark.operators.dedup import (
    _EMB_BITS,
    _EMB_TABLES,
    _KNN_MAX_BITS,
    _KNN_TABLES,
)
from deker_server_adapters_spark.operators.similarity import (
    _BITS_PER_TABLE,
    _N_PLANES,
    _N_TABLES,
    _SEM_TAU,
    _hyperplanes,
)


def _lsh_signatures_expr(emb: DataFrame) -> DataFrame:
    """The pre-r17 Catalyst-expression form of ``lsh_signatures`` —
    kept as the reference the kernel parity test pins against."""
    planes = _hyperplanes(_N_PLANES)
    buckets = []
    for t in range(_N_TABLES):
        sig = F.lit(0).cast("long")
        for i in range(_BITS_PER_TABLE):
            pl = F.array(*[F.lit(v) for v in planes[t * _BITS_PER_TABLE + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0).cast("long")
            sig = sig + F.shiftleft(bit, i)
        buckets.append(F.struct(F.lit(t).alias("tbl"), sig.alias("bucket")))
    return emb.withColumn("tb", F.explode(F.array(*buckets))).select(
        "*", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    ).drop("tb")


def _emb_lsh_buckets_expr(emb: DataFrame) -> DataFrame:
    """The pre-r17 Catalyst-expression form of ``_emb_lsh_buckets`` —
    kept as the reference the kernel parity test pins against (the
    interpreted-HOF dot folds made it the op's dominant cost)."""
    planes = _hyperplanes(_EMB_TABLES * _EMB_BITS)
    tables = []
    for t in range(_EMB_TABLES):
        sig = F.lit(0)
        for i in range(_EMB_BITS):
            pl = F.array(*[F.lit(v) for v in planes[t * _EMB_BITS + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0)
            sig = sig + F.shiftleft(bit, i)
        tables.append(F.struct(F.lit(t).alias("tbl"), sig.cast("int").alias("bucket")))
    return emb.withColumn("tb", F.explode(F.array(*tables))).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def _knn_lsh_buckets_expr(emb: DataFrame, bits: int) -> DataFrame:
    """The pre-r17 Catalyst-expression form of ``_knn_lsh_buckets`` —
    kept as the reference the kernel parity test pins against."""
    planes = _hyperplanes(_KNN_TABLES * _KNN_MAX_BITS)
    tables = []
    for t in range(_KNN_TABLES):
        sig = F.lit(0)
        for i in range(bits):
            pl = F.array(*[F.lit(v) for v in planes[t * _KNN_MAX_BITS + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0)
            sig = sig + F.shiftleft(bit, i)
        tables.append(F.struct(F.lit(t).alias("tbl"), sig.cast("int").alias("bucket")))
    return emb.withColumn("tb", F.explode(F.array(*tables))).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def _kmeans_assign_expr(emb: DataFrame, cs: "list[list[float]]") -> DataFrame:
    """The pre-r17 Catalyst expression form of the Lloyd assignment —
    kept as the engine-exact REFERENCE the Arrow kernel is pinned
    against (test_veccompute_ann_kernels_match_expression_forms) and
    as the documentation of the decimal device the DuckDB oracle
    replays.

    Per-dim squared diffs are IDENTICAL doubles in both engines (IEEE
    ops on identical inputs); each term is tie-safe QUANTIZED to 12 dp
    while still a double, THEN cast to DECIMAL(30,12) — a double
    sitting (within float epsilon) on an exact 12-dp value casts to
    the same decimal in both engines, which a raw double->decimal cast
    does NOT guarantee (second r12 review find: Spark HALF_UPs the
    shortest decimal rendering, DuckDB half-evens the binary-scaled
    value, so terms at a 12-dp half-boundary cast one ulp apart).
    12-dp terms then sum exactly and order-independently, so Spark's
    in-order fold equals DuckDB's unordered row sum bit-for-bit (first
    find: a plain double fold vs DuckDB's order-unspecified sum() was
    a nondeterministic-flakiness class at 0.5e-9 rounding
    boundaries)."""

    def dist_expr(c: list[float]) -> str:
        arr = "array(" + ", ".join(f"{v!r}D" for v in c) + ")"
        term = round_ties_safe_sql("(x - y) * (x - y)", 12)
        return round_ties_safe_sql(
            "CAST(aggregate("
            f"zip_with(embedding, {arr}, (x, y) -> CAST({term} AS DECIMAL(30,12))),"
            " CAST(0 AS DECIMAL(30,12)),"
            " (acc, v) -> CAST(acc + v AS DECIMAL(30,12))) AS DOUBLE)",
            9,
        )

    dists = "array(" + ", ".join(dist_expr(c) for c in cs) + ")"
    return emb.withColumn("dists", F.expr(dists)).withColumn(
        "cluster",
        (F.expr("array_position(dists, array_min(dists))") - 1).cast("int"),
    )


def _sem_pair_agg_expr(asg: DataFrame) -> DataFrame:
    """The Catalyst expression form of ``dedup_semantic``'s per-vector
    pair aggregation — superseded by the blocked ``cell_pair_stats``
    kernel (r18) but kept as the reference its parity test pins
    against: (vec_id, n_lower, n_dup_lower, max_sim_lower) over all
    within-cell pairs with ``vid_b < vec_id``."""
    a = asg.select("vec_id", F.col("embedding").alias("ea"), "cell")
    b = asg.select(F.col("vec_id").alias("vid_b"), F.col("embedding").alias("eb"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vid_b") < F.col("vec_id"))
        .withColumn(
            "cos", round_ties_safe(cosine_similarity(F.col("ea"), F.col("eb")), 6)
        )
    )
    return pairs.groupBy("vec_id").agg(
        F.count("*").alias("n_lower"),
        F.sum(F.when(F.col("cos") >= _SEM_TAU, 1).otherwise(0)).alias("n_dup_lower"),
        F.max("cos").alias("max_sim_lower"),
    )
