"""Structured Streaming twin of ``ann_cosine_threshold_join``.

Incremental all-pairs-above-τ similarity: embeddings arrive as a
stream, the LSH bucket index is maintained as keyed state, and a pair
is emitted in the micro-batch where its LATER vector arrives — after
the stream is drained, the emitted set equals the batch op's output
exactly (tests/test_streaming.py drives both and compares).

Shape, mirrored from the batch op (operators/similarity.py):

- the signature expressions (md5 hyperplanes, sign bits, bucket ints)
  run JVM-side BEFORE the stateful stage — Python never computes a
  hash, only the per-bucket pair scoring;
- state is keyed by LSH cell ((table, bucket) packed into one long):
  the ids + embeddings + full signature lists of every vector indexed
  in that cell. The bits ladder keeps EXPECTED cell occupancy ≤
  ``_TJ_TARGET_BUCKET``, so per-cell state and per-arrival pair work
  are bounded the same way the batch join's per-bucket fan-out is.
  Total state = ``tables`` copies of the indexed corpus — the standard
  streaming-LSH memory price (RocksDB-backed in production; sizing in
  docs/PERF.md);
- exactly-once pair emission WITHOUT a second stateful dedup stage:
  every row carries its vector's full cell list, and a pair is emitted
  only from the MINIMUM cell the two signatures share (signatures are
  static per vector, so the minimum shared cell is the same in
  whichever batch the pair becomes visible — one canonical emitter);
- the cosine is scored in Python with the SAME sequential IEEE fold
  the JVM expression uses (left-to-right multiply-add — NOT np.dot,
  whose pairwise/SIMD summation can differ in the last ulp) and the
  same tie-safe floor rounding, so streamed cosines are bit-identical
  to the batch column.

The bit count cannot adapt mid-stream (a resize would re-bucket the
whole index), so ``n_hint`` fixes it via the batch ladder up front —
size it for the expected corpus, exactly like capacity-planning any
streaming index.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from deker_server_adapters_spark.functions.vectors import dot
from deker_server_adapters_spark.operators.similarity import (
    _DIM,
    _TJ_MAX_BITS,
    _TJ_TABLES,
    _TJ_TAU,
    _hyperplanes,
    _ladder_bits,
)

EMBEDDINGS_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)

_CELL_SHIFT = 1 << 40  # cell key = tbl * 2^40 + bucket (bucket < 2^12)


def stream_embeddings_source(spark, sf_dir: str, n_files: int | None = None) -> DataFrame:
    """File-stream over the embeddings parquet, embedding pre-cast to
    array<double> (the value ``x.cast(\"double\")`` yields JVM-side).
    ``n_files`` splits by vec_id range, one file per micro-batch."""
    from deker_server_adapters_spark.sources.scratch import staged_dir
    from deker_server_adapters_spark.sources.tables import load_table

    stream_dir, staged = staged_dir("deker_emb_stream_", sf_dir, n_files)
    if not staged:
        batch = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        if n_files:
            batch.repartitionByRange(n_files, "vec_id").write.mode("overwrite").parquet(
                stream_dir
            )
        else:
            batch.write.mode("overwrite").parquet(stream_dir)
    reader = spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA)
    if n_files:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(stream_dir)


def _cell_exprs(nbits: int, tables: int):
    """The batch op's signature arithmetic, bits fixed at ``nbits``:
    one packed cell key per table."""
    planes = _hyperplanes(tables * _TJ_MAX_BITS, _DIM)
    cells = []
    for t in range(tables):
        sig = F.lit(0).cast("long")
        for i in range(nbits):
            pl = F.array(*[F.lit(v) for v in planes[t * _TJ_MAX_BITS + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0).cast("long")
            sig = sig + F.shiftleft(bit, i)
        cells.append((F.lit(t).cast("long") * F.lit(_CELL_SHIFT) + sig))
    return F.array(*cells)


def _tie_safe_round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _seq_cosine(a, b) -> float:
    """Sequential IEEE fold, matching functions.vectors.cosine_similarity
    (F.aggregate is a left-to-right fold) bit for bit."""
    acc = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        acc += x * y
        na += x * x
        nb += y * y
    return acc / (math.sqrt(na) * math.sqrt(nb))


# STATE-SCHEMA VERSION 2 (r14): the ``homes`` field was added for the
# multi-probe home/probe distinction. applyInPandasWithState pins the
# state schema into the checkpoint, so a checkpoint written by the v1
# (3-field) twins CANNOT be resumed against this code — discard old
# checkpoints (fresh sink + new checkpointLocation) when upgrading.
# Documented in docs/PERF.md ("Streaming checkpoint compatibility").
_LSH_STATE_SCHEMA = (
    "ids array<long>, vecs array<array<double>>, cells array<array<long>>, "
    "homes array<array<long>>"
)


def _lsh_index_update(emit, columns):
    """Shared keyed-state update for the LSH-cell index twins
    (threshold join, semantic dedup): every arrival indexes into the
    cell's state (ids + vectors + full cell lists) AND probes the
    vectors already there; a pair is processed only in the MINIMUM
    QUALIFYING cell the two static cell lists share (the exactly-once
    canonical emitter — order-independent, so per-Arrow-chunk iteration
    is safe: whichever of a pair indexes second emits, from the same
    min cell). With the r14 multi-probe ladder a vector's index keys
    (``cells``) may include Hamming-adjacent PROBE cells beyond its
    ``homes``; a pair QUALIFIES only in a cell where at least one side
    is at home (probe-probe co-location is Hamming distance 2 — not in
    the batch op's candidate space), mirroring the batch bucket join's
    probed-side x home-side shape. Rows without a ``homes`` column
    (the threshold-join twin, probe-free) treat every cell as home —
    bit-identical to the pre-probe device. ``emit(new_id, new_vec,
    old_id, old_vec)`` returns an output row or None."""
    import pandas as pd

    def update(key, pdfs, state):
        ids, vecs, cellsets, homesets = (
            state.get if state.exists else ([], [], [], [])
        )
        ids, vecs, cellsets, homesets = (
            list(ids),
            list(vecs),
            list(cellsets),
            list(homesets),
        )
        cell = key[0]
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            home_col = pdf["homes"] if "homes" in pdf.columns else pdf["cells"]
            for vid, emb, cells, homes in zip(
                pdf["vec_id"], pdf["embedding"], pdf["cells"], home_col
            ):
                # pure-Python scalars: numpy types in the state tuple
                # break the JVM-side state unpickler
                emb = [float(x) for x in emb]
                cells = set(int(c) for c in cells)
                homes = set(int(c) for c in homes)
                for oid, ovec, ocells, ohomes in zip(ids, vecs, cellsets, homesets):
                    qualifying = (homes & set(ocells)) | (cells & set(ohomes))
                    if not qualifying or cell != min(qualifying):
                        continue  # another cell is this pair's canonical
                    row = emit(int(vid), emb, oid, ovec)
                    if row is not None:
                        rows.append(row)
                ids.append(int(vid))
                vecs.append(emb)
                cellsets.append(cells)
                homesets.append(homes)
        state.update(
            (
                ids,
                vecs,
                [sorted(c) for c in cellsets],
                [sorted(h) for h in homesets],
            )
        )
        yield pd.DataFrame(rows, columns=columns)

    return update


def streaming_threshold_join(
    embs: DataFrame,
    n_hint: int,
    tables: int = _TJ_TABLES,
    tau: float = _TJ_TAU,
) -> DataFrame:
    """All pairs with cosine ≥ τ over the embedding stream; emitted
    set after draining == the batch ``ann_cosine_threshold_join`` at a
    corpus of ``n_hint`` vectors."""
    nbits = _ladder_bits(n_hint, 0)
    indexed = embs.select(
        "vec_id", "embedding", _cell_exprs(nbits, tables).alias("cells")
    ).select("vec_id", "embedding", "cells", F.explode("cells").alias("cell"))

    def emit(vid, emb, oid, ovec):
        cos = _tie_safe_round6(_seq_cosine(emb, ovec))
        if cos < tau:
            return None
        a, b = (oid, vid) if oid < vid else (vid, oid)
        return (a, b, cos)

    return indexed.groupBy("cell").applyInPandasWithState(
        _lsh_index_update(emit, ["a_id", "b_id", "cosine"]),
        "a_id long, b_id long, cosine double",
        _LSH_STATE_SCHEMA,
        "append",
        "NoTimeout",
    )


# --- streaming twin of dedup_semantic_hybrid (r13) -------------------------

_SEM_CLUSTER_KEY_BASE = -_CELL_SHIFT  # cluster cells key below every LSH key


def _semantic_cell_expr(centroids):
    """The batch ``_sem_assignments`` argmin, via the SAME shared
    helper (``functions/vectors.centroid_argmax_cell``) — one code
    path, so streamed cell assignments match the batch op bit for bit
    by construction (the multi-batch == batch pytest still enforces
    the identity end-to-end on every suite run)."""
    from deker_server_adapters_spark.functions.vectors import centroid_argmax_cell

    cell, _ = centroid_argmax_cell(centroids)
    return cell


def streaming_semantic_dedup(embs: DataFrame, n_hint: int, ref_emb) -> DataFrame:
    """Match-row stream twin of ``dedup_semantic_hybrid``: every
    (later, earlier) candidate pair — cluster-mates under the FIXED
    trained quantizer ∪ LSH bucket-mates under both ladders — emitted
    exactly once with its tie-safe cosine, in the micro-batch where the
    later vector arrives. Feed the drained output (plus the batch
    assignment table) to ``semantic_verdicts_from_matches`` for
    verdicts equal to the batch op's.

    Production framing: the IVF centroids are a trained artifact
    (``ref_emb`` — yesterday's corpus), applied to arrivals as a
    stateless compiled argmin; the ladder resolution is capacity-
    planned from ``n_hint`` like the threshold-join twin's. State per
    cell key = ids + embeddings of the vectors indexed there: LSH keys
    are occupancy-capped by the bits ladder; CLUSTER keys hold ~n/k
    vectors (k ~ sqrt(n/32)), the same within-cell bound the batch
    op's self-join carries — the memory price of SemDeDup as a stream.
    Exactly-once device: each row carries its vector's full key list
    (cluster key mapped BELOW every LSH key), so the minimum shared
    key is the one canonical emitter in whichever batch the pair
    completes."""
    from deker_server_adapters_spark.operators.similarity import (
        _hy_probes_for_bits,
        _hy_tables_for_bits,
        _local_centroids,
        _sem_k,
    )

    cents = sorted(_local_centroids(ref_emb, _sem_k(n_hint)).collect(), key=lambda r: r.cell)
    nbits = _ladder_bits(n_hint, 0)
    tables = _hy_tables_for_bits(nbits)
    nprobes = _hy_probes_for_bits(nbits)
    cluster_key = _semantic_cell_expr(cents).cast("long") + F.lit(_SEM_CLUSTER_KEY_BASE)
    lsh_cells = _cell_exprs(nbits, tables)
    homes = F.concat(F.array(cluster_key), lsh_cells)
    # Multi-probe index keys (r14, batch parity): Hamming-adjacent
    # buckets derive from the home keys by XOR on the low bits —
    # bucket < 2^12 << _CELL_SHIFT, so the flip never leaves the
    # table's key range; the cluster key (negative) is never probed.
    probe_arrays = [
        F.transform(lsh_cells, lambda c, p=p: c.bitwiseXOR(F.lit(1 << p)))
        for p in range(nprobes)
    ]
    cells = F.concat(homes, *probe_arrays) if probe_arrays else homes
    indexed = embs.select(
        "vec_id", "embedding", cells.alias("cells"), homes.alias("homes")
    ).select("vec_id", "embedding", "cells", "homes", F.explode("cells").alias("cell"))

    def emit(vid, emb, oid, ovec):
        cos = _tie_safe_round6(_seq_cosine(emb, ovec))
        hi, lo = (vid, oid) if oid < vid else (oid, vid)
        return (hi, lo, cos)

    return indexed.groupBy("cell").applyInPandasWithState(
        _lsh_index_update(emit, ["vec_id", "vid_b", "cos"]),
        "vec_id long, vid_b long, cos double",
        _LSH_STATE_SCHEMA,
        "append",
        "NoTimeout",
    )


def semantic_verdicts_from_matches(matches: DataFrame, assignments: DataFrame, tau: float) -> DataFrame:
    """Drained match rows -> the batch hybrid op's verdict table
    (vec_id, cell, n_cand_lower, n_dup_lower, max_sim_lower, is_dup).
    Plain batch aggregation over the sink table."""
    agg = matches.groupBy("vec_id").agg(
        F.count("*").alias("n_cand_lower"),
        F.sum(F.when(F.col("cos") >= tau, 1).otherwise(0)).alias("n_dup_lower"),
        F.max("cos").alias("max_sim_lower"),
    )
    return assignments.select("vec_id", "cell").join(agg, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("n_cand_lower"), F.lit(0)).cast("long").alias("n_cand_lower"),
        F.coalesce(F.col("n_dup_lower"), F.lit(0)).cast("long").alias("n_dup_lower"),
        "max_sim_lower",
        (F.coalesce(F.col("n_dup_lower"), F.lit(0)) > 0).alias("is_dup"),
    )
