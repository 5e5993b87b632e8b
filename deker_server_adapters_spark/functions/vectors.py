"""Vector math over ``array<float>`` columns — pure Catalyst expressions
(``zip_with`` / ``aggregate``), no Python in the hot path.

On a 1000-executor cluster these run inside whole-stage codegen; the
embedding column never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def centroid_argmax_cell(centroids) -> "tuple[Column, Column]":
    """Compiled argmax-cosine cell assignment over COLLECTED centroids:
    ``(cell, best_sim)`` expressions for the ``embedding`` column —
    tie-safe 1e-9 cosine to every centroid, first-max = lowest cell via
    ``array_position``, position mapped back to the centroid's TRUE
    cell id (trainers drop emptied cells, so ids can have gaps — a
    compacted array index would diverge on the first gap).

    The single shared device behind the batch semantic-dedup family
    (``operators/similarity._sem_assignments``) and the streaming twin
    (``streaming/similarity_stream._semantic_cell_expr``) — kept in one
    place so streamed cell assignments match the batch op bit for bit
    (the multi-batch == batch pytest enforces the identity end-to-end).

    On an all-NaN sims array (a zero-norm embedding) Spark SQL's
    NaN-equality semantics make ``array_position`` MATCH the NaN that
    ``array_max`` returns (NaN = NaN is true in Spark's ordering-aware
    equality), so pos lands on the FIRST NaN — the lowest cell — which
    is also what the oracle's ``ORDER BY sim DESC, cell`` rank-1 picks:
    the engines agree with no help. The ``greatest(pos, 1)`` clamp is
    belt-and-suspenders only (a future engine whose array_position
    can't match NaN degrades to the same lowest-cell verdict instead of
    ``element_at(0)`` erroring), not the mechanism.

    ``centroids`` is the trainer's list of ``(cell, centroid)`` pairs
    (``operators/similarity._ivf_centroids``), sorted by cell so
    first-max resolves to the lowest cell id. Pure codegen — NO
    per-vector window shuffle; k centroids become k inlined literal
    arrays, so the expression ships with the plan and the corpus never
    reshuffles for assignment.
    """
    from deker_server_adapters_spark.functions.histogram import round_ties_safe

    sims = F.array(
        *[
            round_ties_safe(
                cosine_similarity(
                    F.col("embedding"),
                    F.array(*[F.lit(float(v)) for v in ce]),
                ),
                9,
            )
            for _, ce in centroids
        ]
    )
    cell_ids = F.array(*[F.lit(int(cell)) for cell, _ in centroids])
    pos = F.array_position(sims, F.array_max(sims))
    cell = F.element_at(cell_ids, F.greatest(pos, F.lit(1)).cast("int"))
    return cell, F.array_max(sims)
