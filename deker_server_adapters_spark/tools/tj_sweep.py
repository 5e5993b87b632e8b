"""Threshold-join recall-vs-cost dial sweep (VERDICT r9 item 6 / r10
item 4): measure what the LSH table count and a bits-ladder step buy.

The production op (``ann_cosine_threshold_join``) fixes tables=8 and
picks bits from the occupancy ladder. This harness re-runs the SAME
candidate construction at tables ∈ {8, 12, 16} × bits-delta ∈ {0, +1}
and reports, per config, the pair recall against the exact n² join at
the same τ plus the wall-clock of the whole join, at the given SF and
at a 10× key-shifted replica — so the default's recall floor is a
measured point on a dial, not folklore. More tables buys recall
(independent collision chances, cost linear in tables); one ladder
step up buys wall-clock (4× smaller expected buckets → ~16× fewer
per-bucket candidate pairs) and costs recall (each table's collision
probability drops); the sweep quantifies both directions.

Usage: python -m deker_server_adapters_spark.tools.tj_sweep [sf_dir]
Prints one JSON line per (scale, tables, delta) config.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deker_server_adapters_spark.functions.histogram import round_ties_safe
from deker_server_adapters_spark.functions.vectors import cosine_similarity, dot
from deker_server_adapters_spark.operators.similarity import (
    _DIM,
    _TJ_MAX_BITS,
    _TJ_TAU,
    _hyperplanes,
    _ladder_bits,
)
from deker_server_adapters_spark.sources.tables import load_table


def lsh_pairs(emb: DataFrame, tables: int, nbits: int) -> DataFrame:
    """The op's candidate construction, parameterized: md5 hyperplanes,
    sign-bit buckets of ``nbits`` bits per table, bucket equi-join,
    exact cosine verify at τ."""
    planes = _hyperplanes(tables * _TJ_MAX_BITS, _DIM)
    buckets = []
    for t in range(tables):
        sig = F.lit(0).cast("long")
        for i in range(nbits):
            pl = F.array(*[F.lit(v) for v in planes[t * _TJ_MAX_BITS + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0).cast("long")
            sig = sig + F.shiftleft(bit, i)
        buckets.append(F.struct(F.lit(t).alias("tbl"), sig.alias("bucket")))
    sigs = emb.withColumn("tb", F.explode(F.array(*buckets))).select(
        "vec_id", "embedding", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )
    a = sigs.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"), "tbl", "bucket")
    b = sigs.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"), "tbl", "bucket")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "ea", "eb")
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("cosine", round_ties_safe(cosine_similarity(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cosine") >= _TJ_TAU)
        .select("a_id", "b_id")
    )


def exact_pairs(emb: DataFrame) -> DataFrame:
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", round_ties_safe(cosine_similarity(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cosine") >= _TJ_TAU)
        .select("a_id", "b_id")
    )


def replicate(emb: DataFrame, k: int) -> DataFrame:
    """k key-shifted copies (the stress.py protocol) — same pair
    density per copy, k× the corpus."""
    rep = emb.sparkSession.range(k).select(F.col("id").alias("__rep"))
    return (
        emb.crossJoin(rep)
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * 10_000_000)
        .drop("__rep")
        # the crossJoin inherits the tiny base split count; without
        # this the whole signature+join pipeline runs ~2 tasks wide
        # (the stress.py lesson — it writes scaled copies at 32 files)
        .repartition(32, "vec_id")
    )


def sweep(
    spark: SparkSession, sf_dir: str, k: int = 10, only_scale: int | None = None
) -> list[dict]:
    out = []
    for scale, emb in (
        (1, load_table(spark, sf_dir, "embeddings")),
        (k, replicate(load_table(spark, sf_dir, "embeddings"), k)),
    ):
        if only_scale is not None and scale != only_scale:
            continue
        emb = emb.cache()
        n = emb.count()
        # exact n² ground truth only at base scale: at 10× it is 2·10⁸
        # pair dots — the brute force the LSH path exists to avoid.
        # NOTE the replication semantics for reading n_found at scale:
        # key-shifted replicas carry IDENTICAL embeddings, so the true
        # pair set grows ~k² (every base pair appears in all k×k
        # replica combinations, plus C(k,2) clone pairs per vector at
        # cosine 1.0) — a deliberately near-dup-heavy stress corpus,
        # not a k× one. Signatures are replica-identical too, so
        # found ≈ k²·found_base(nbits) + clone pairs.
        ex = exact_pairs(emb).cache() if scale == 1 else None
        n_exact = ex.count() if ex is not None else None
        for tables in (8, 12, 16):
            for delta in (0, 1):
                nbits = _ladder_bits(n, delta)
                t0 = time.perf_counter()
                found = lsh_pairs(emb, tables, nbits).cache()
                n_found = found.count()
                secs = round(time.perf_counter() - t0, 2)
                n_hit = (
                    found.join(ex, ["a_id", "b_id"]).count() if ex is not None else None
                )
                found.unpersist()
                row = {
                    "scale": scale,
                    "n": n,
                    "tables": tables,
                    "delta": delta,
                    "nbits": nbits,
                    "n_exact": n_exact,
                    "n_found": n_found,
                    "recall": round(n_hit / max(n_exact, 1), 4)
                    if n_hit is not None
                    else None,
                    "join_sec": secs,
                }
                out.append(row)
                sys.stdout.write(json.dumps(row) + "\n")
                sys.stdout.flush()
        if ex is not None:
            ex.unpersist()
        emb.unpersist()
    return out


if __name__ == "__main__":
    from deker_server_adapters_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = args[0] if args else "/root/testdata/sf0.1"
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--scale="):
            only = int(a.split("=", 1)[1])
    spark = get_spark(app_name="tj-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sweep(spark, sf, only_scale=only)
