"""Arrow-vectorized embedding kernels (r17, guide §4.2).

The LSH signature emission and the per-candidate cosine rescore are
the two highest-volume expression paths in the similarity family. As
compiled Catalyst expressions they are correct but slow twice over:
the higher-order-function folds (``aggregate``/``zip_with``) evaluate
INTERPRETED (no whole-stage codegen), and the 24-table × 12-bit plane
set compiles to a ~100k-node expression tree that every consumer
branch re-instantiates — the r17 sweep measured the six ops built on
them at 17–130 s each at sf0.1 while no other registry op exceeded
11 s. Both paths are batch-parallel over rows with NO cross-row
state, i.e. exactly the shape guide §4.2 prescribes for
``mapInPandas`` + NumPy.

The ANN-ladder assignments moved the same way (r17, second tranche):
``cells_ranked`` (IVF cell assignment/probing — formerly a
crossJoin(broadcast) + per-vector window shuffle of n·k rows),
``pq_assign`` (PQ code assignment — formerly a broadcast join +
per-(vec_id, m) window shuffle of n·m·k rows) and ``kmeans_rows``
(the Lloyd argmin — formerly a ~k·dim-node interpreted DECIMAL HOF
expression per row). Each is a map-only stage with identical output
rows; the trainer loops that call them per iteration keep their
driver-side centroid lists exactly as before.

Bit-exactness contract (the reason these kernels may replace the
expressions at all): every float operation replays the JVM
expression's ops IN ORDER. The dot/norm folds are sequential
left-to-right multiply-adds — the kernels accumulate with an explicit
loop over dimensions (``acc += a[:, d] * b[:, d]``), vectorized
ACROSS rows but sequential across dims, which performs the identical
IEEE-754 double operations per element as the ``aggregate`` fold.
NEVER replace the loop with ``np.dot``/``@``/``einsum``: BLAS pairwise
or SIMD summation can differ in the last ulp, and the last ulp decides
sign bits and tie-safe rounding. The same convention is already load-
bearing in ``streaming/similarity_stream.py`` (its Python rescore
documents the identical rule) — these kernels extend it to the batch
side. Equality with the expression forms is pinned by
``tests/test_operators_semantics.py`` (exceptAll both ways == 0) and
by the unchanged oracle hashes of every consumer op.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def cos_scored(
    df: DataFrame,
    digits: int,
    a: str = "ea",
    b: str = "eb",
    out: str = "cos",
) -> DataFrame:
    """Replace columns ``a``/``b`` (array<float> embeddings) with the
    tie-safe ``digits``-dp cosine in ``out`` — the vectorized
    equivalent of ``round_ties_safe(cosine_similarity(a, b), digits)``.

    Every other column passes through unchanged; the embedding arrays
    are consumed inside the Arrow batch and never serialize back.
    Rounding replays ``round_ties_safe`` exactly: floor(x·10^d + 0.5)
    / 10^d in IEEE doubles (NaN stays NaN, matching the JVM floor)."""
    keep = [c for c in df.columns if c not in (a, b)]
    scale = float(10**digits)
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    ) + f", {out} double"

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.stack(pdf[a].to_numpy()).astype(np.float64)
            B = np.stack(pdf[b].to_numpy()).astype(np.float64)
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for d in range(A.shape[1]):  # sequential over dims: the fold
                x = A[:, d]
                y = B[:, d]
                dot += x * y
                na += x * x
                nb += y * y
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
                r = np.floor(cos * scale + 0.5) / scale
            o = pdf[keep].copy()
            o[out] = r
            yield o

    return df.mapInPandas(run, schema)


_TRUE_PAIRS_BROADCAST_MAX = 2 * 1024**3  # bytes; see cos_true_pairs


def cos_true_pairs(
    emb: DataFrame,
    tau: float,
    digits: int,
    a_name: str = "va",
    b_name: str = "vb",
    nblocks: int = 64,
    broadcast_max_bytes: int = _TRUE_PAIRS_BROADCAST_MAX,
) -> DataFrame:
    """All unordered (a, b) pairs with id_a < id_b whose tie-safe
    ``digits``-dp cosine passes ``>= tau`` under Spark comparison
    semantics — the recall evals' brute-force truth side.

    Semantically identical to
        cos_scored(a.join(b, ida < idb), digits).filter(cos >= tau)
    but the n²/2 pair rows never materialize and never cross the
    JVM→Python boundary: vectors are grouped into ``nblocks``
    deterministic hash blocks (xxhash64 on vec_id — retry-safe,
    guide §2.5), the (nblocks²+nblocks)/2 block pairs are enumerated
    by joining two O(n·dim/nblocks)-row block tables (the whole
    corpus crosses the boundary ~nblocks times as block payloads
    instead of ~n times as pair rows), and each kernel task scores
    one block×block tile in NumPy, emitting only surviving id pairs.

    Bit-exactness: the tile fold accumulates ``dots[i,j] +=
    A[i,d]·B[j,d]`` sequentially over d — the identical IEEE op
    sequence per pair as ``cos_scored``'s row fold — and the norm
    product/division/rounding replay the same ops in the same order.
    Pair orientation is irrelevant: every op in the cosine is
    commutative in its operands (dot terms, norm product), so scoring
    (x, y) equals scoring (y, x) bitwise and each unordered pair can
    be scored in whichever block orientation it lands. A zero-norm
    vector's NaN cosine is DROPPED, exactly like the pair-row form:
    ``cos_scored`` returns batches through pandas, whose NaN doubles
    arrive in Spark as NULL, and ``NULL >= tau`` filters false — the
    kernel's ``r >= tau`` (NaN-false in NumPy) replays that.

    A NULL ``vec_id`` or NULL ``embedding`` row is dropped BEFORE the
    block grouping (r18, ADVICE item 2): the two ``collect_list``
    aggregates each skip NULLs independently, so an unfiltered NULL in
    either column would shift ``ids``/``embs`` out of alignment and
    pair wrong ids. Dropping the row up front both preserves alignment
    and replays the pair-row form's semantics (NULL embedding → NULL
    cosine → ``>= tau`` false; NULL id → ``ida < idb`` false).

    The b-side block table carries the ENTIRE corpus (O(n·dim) across
    its ``nblocks`` rows), so the broadcast that makes the ~nblocks²/2
    tile enumeration cheap stops being legal near the 8 GB / 512M-row
    broadcast-relation cap (r18, VERDICT item 5). Past
    ``broadcast_max_bytes`` (Catalyst's optimized-plan size estimate
    of the input, default 2 GiB — headroom under the hard cap for the
    collect_list framing), the tile enumeration degrades gracefully:
    the block-ID pairs are enumerated on two id-only projections
    (nblocks rows each, always broadcastable) and the heavy block
    payloads re-attach by two equi-joins — each block payload then
    crosses a hash shuffle ~nblocks/2 times instead of every executor
    holding the whole corpus. Same tile kernel, same output either
    way (parity-pinned with a forced-degrade run)."""
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.plans.limits import estimated_bytes

    scale = float(10**digits)
    blocks = (
        emb.filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(
            "vec_id",
            "embedding",
            F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).alias("blk"),
        )
        .groupBy("blk")
        # two collect_lists in one aggregate consume rows in the same
        # order, so ids[i] is embs[i]'s vec_id (NULLs filtered above —
        # collect_list skips NULLs per column, which would misalign)
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("embs"),
        )
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("embs").alias("embs_a"),
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("embs").alias("embs_b"),
    )
    try:
        est = estimated_bytes(emb)
    except Exception:  # no estimate (Spark Connect, plan-shape drift)
        est = -1
    if 0 <= est <= broadcast_max_bytes:
        bp = a.join(F.broadcast(b), F.col("blk_a") <= F.col("blk_b"))
    else:
        # graceful degrade: enumerate the tile ids from range(nblocks)
        # (no corpus work; empty blocks drop out of the inner payload
        # joins), then attach the heavy payloads with two equi-joins —
        # no corpus broadcast
        rng = emb.sparkSession.range(nblocks)
        tiles = rng.select(F.col("id").alias("blk_a")).join(
            F.broadcast(rng.select(F.col("id").alias("blk_b"))),
            F.col("blk_a") <= F.col("blk_b"),
        )
        bp = tiles.join(a, "blk_a").join(b, "blk_b")
    bp = bp.repartition("blk_a", "blk_b")
    out_schema = f"{a_name} long, {b_name} long"

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia = np.asarray(r.ids_a, dtype=np.int64)
                ib = np.asarray(r.ids_b, dtype=np.int64)
                A = np.stack(r.embs_a).astype(np.float64)
                B = np.stack(r.embs_b).astype(np.float64)
                dots = np.zeros((len(ia), len(ib)))
                na = np.zeros(len(ia))
                nb = np.zeros(len(ib))
                for d in range(A.shape[1]):  # sequential over dims: the fold
                    x = A[:, d]
                    y = B[:, d]
                    dots += x[:, None] * y[None, :]
                    na += x * x
                    nb += y * y
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                    rr = np.floor(cos * scale + 0.5) / scale
                    # NaN-false, matching the pair-row form's NULL drop
                    keep = rr >= tau
                if r.blk_a == r.blk_b:
                    # diagonal tile: each unordered pair appears twice
                    # ((i,j) and (j,i)) — keep the id-ordered one
                    keep &= ia[:, None] < ib[None, :]
                    i, j = np.nonzero(keep)
                    va, vb = ia[i], ib[j]
                else:
                    # off-diagonal tile: blocks are disjoint, so each
                    # unordered pair appears exactly once — canonicalize
                    # to (lower id, higher id)
                    i, j = np.nonzero(keep)
                    x, y = ia[i], ib[j]
                    va, vb = np.minimum(x, y), np.maximum(x, y)
                if len(va):
                    yield pd.DataFrame({a_name: va, b_name: vb})

    return bp.mapInPandas(run, out_schema)


def cell_pair_stats(
    asg: DataFrame,
    tau: float,
    digits: int,
    nblocks: int,
) -> DataFrame:
    """Per-vector PARTIAL aggregates over all within-cell (lower-id →
    higher-id) pairs — the blocked evaluation of ``dedup_semantic``'s
    pair scoring (r18, VERDICT item 4).

    Input: (vec_id, embedding, cell). For every unordered within-cell
    pair the tie-safe ``digits``-dp cosine is charged to the HIGHER id
    (the op's ``vid_b < vec_id`` orientation). Output one row per
    (tile, vector) with ≥1 charged pair: ``vec_id``, ``cnt`` (pairs),
    ``dup`` (pairs with ``cos >= tau``, where a zero-norm NaN cosine
    counts — NaN-greatest, DuckDB's and legacy Spark's ordering),
    ``mx`` (max non-NaN cosine, NULL when every charged pair is NaN)
    and ``hn`` (any NaN cosine — the caller folds it back to a
    NaN-propagating ``max``). The NaN branches are a graceful
    convention only: under ANSI mode (Spark 4 default) the expression
    form ERRORS on the zero-norm 0/0 division, so no corpus it ever
    succeeded on contains a zero-norm vector — parity holds corpus-
    wide, and the NaN paths just refuse to silently mis-aggregate if
    one ever appears.
    Final per-vector stats are then one tiny ``groupBy(vec_id)`` over
    these partials: integer sums and double max are order-independent,
    so splitting the aggregation across tiles is value-exact.

    Why this shape: the expression form joins the assignment table to
    itself ON ``cell`` — k distinct keys — so its pair stream lives on
    ≤ k partitions (the r17 Arrow rescore collapsed onto those k tasks
    and was reverted). Blocking each cell into ``nblocks`` hash blocks
    (deterministic xxhash64 on vec_id, retry-safe) turns the stage
    into ~k·nblocks²/2 independent tiles, and the per-tile PARTIAL
    aggregation means pair rows (each carrying two embeddings in the
    expression form) never materialize anywhere — the shuffle carries
    block payloads in, ~vector-count partial rows out.

    Bit-exactness: the tile fold accumulates sequentially over dims
    (module contract) and the rounding replays ``round_ties_safe``;
    NULL ``vec_id``/``embedding`` rows are dropped before grouping
    (the ``cos_true_pairs`` alignment rule — generated corpora carry
    none, pinned by parity tests)."""
    from pyspark.sql import functions as F

    scale = float(10**digits)
    blocks = (
        asg.filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(
            "cell",
            "vec_id",
            "embedding",
            F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).alias("blk"),
        )
        .groupBy("cell", "blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("embs"),
        )
    )
    a = blocks.select(
        "cell",
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("embs").alias("embs_a"),
    )
    b = blocks.select(
        "cell",
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("embs").alias("embs_b"),
    )
    # SHUFFLE_HASH: auto-broadcast would ship the b-side block table —
    # the whole corpus — to every executor (the 8 GB cap at scale), and
    # making both sides shuffle on cell lets ReusedExchange materialize
    # the block aggregate ONCE for both join legs. The join stage runs
    # on ≤ k cell partitions but only enumerates/forwards block
    # payloads; the scoring parallelism comes from the repartition to
    # (cell, blk_a, blk_b) below.
    tiles = (
        a.join(b.hint("SHUFFLE_HASH"), "cell")
        .filter(F.col("blk_a") <= F.col("blk_b"))
        .repartition("cell", "blk_a", "blk_b")
    )
    out_schema = "vec_id long, cnt long, dup long, mx double, hn boolean"

    def side_partials(ids, rr, nanm, passm, mask, axis):
        cnt = mask.sum(axis=axis)
        dup = (passm & mask).sum(axis=axis)
        hn = (nanm & mask).any(axis=axis)
        valid = mask & ~nanm
        mxv = np.where(valid, rr, -np.inf).max(axis=axis, initial=-np.inf)
        has_valid = valid.any(axis=axis)
        sel = cnt > 0
        if not sel.any():
            return None
        return pd.DataFrame(
            {
                "vec_id": ids[sel],
                "cnt": cnt[sel].astype(np.int64),
                "dup": dup[sel].astype(np.int64),
                "mx": np.where(has_valid, mxv, np.nan)[sel],
                "hn": hn[sel],
            }
        )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                ia = np.asarray(r.ids_a, dtype=np.int64)
                ib = np.asarray(r.ids_b, dtype=np.int64)
                A = np.stack(r.embs_a).astype(np.float64)
                B = np.stack(r.embs_b).astype(np.float64)
                dots = np.zeros((len(ia), len(ib)))
                na = np.zeros(len(ia))
                nb = np.zeros(len(ib))
                for d in range(A.shape[1]):  # sequential over dims: the fold
                    x = A[:, d]
                    y = B[:, d]
                    dots += x[:, None] * y[None, :]
                    na += x * x
                    nb += y * y
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                    rr = np.floor(cos * scale + 0.5) / scale
                nanm = np.isnan(rr)
                # Spark comparison semantics: NaN >= tau is TRUE
                passm = nanm | (rr >= tau)
                # pairs charged to the higher id; on a diagonal tile the
                # strict mask keeps each unordered pair exactly once
                ma = ia[:, None] > ib[None, :]
                pa = side_partials(ia, rr, nanm, passm, ma, axis=1)
                if pa is not None:
                    outs.append(pa)
                if r.blk_a != r.blk_b:
                    mb = ia[:, None] < ib[None, :]
                    pb = side_partials(ib, rr, nanm, passm, mb, axis=0)
                    if pb is not None:
                        outs.append(pb)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return tiles.mapInPandas(run, out_schema)


def cells_ranked(
    df: DataFrame,
    cents: "list[tuple[int, list[float]]]",
    top: int,
    carry: "list[str]",
    digits: int = 9,
) -> DataFrame:
    """(carry..., cell) — the vectorized replay of the IVF assignment
    device: ``crossJoin(broadcast(cents))`` + ``round_ties_safe(
    cosine_similarity(embedding, ce), digits)`` + ``row_number() over
    (ORDER BY sim DESC, cell)`` kept to ``rn <= top``.

    ``cents`` is [(cell_id, centroid floats), ...] sorted by cell_id.
    Cosines replay the JVM fold (sequential over dims — module
    docstring); ranking replays Spark's ordering exactly: descending
    rounded sim with ties to the LOWEST cell id, and NaN sims (zero-
    norm vectors) ranking FIRST, as Spark's NaN-greatest ordering does.
    Rows out = rows in × min(top, k); only the evaluation engine moved
    — output rows are identical to the expression form."""
    cell_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    C = np.asarray([ce for _, ce in cents], dtype=np.float64)  # (k, dim)
    k = len(cents)
    keep = min(top, k)
    scale = float(10**digits)
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in carry
    ) + ", cell int"
    if k == 0:  # no centroids: typed empty, like the crossJoin form
        df = df.limit(0)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dots = np.zeros((n, k))
            na = np.zeros(n)
            nb = np.zeros(k)
            for d in range(E.shape[1]):  # sequential over dims: the fold
                x = E[:, d]
                dots += x[:, None] * C[None, :, d]
                na += x * x
                nb += C[:, d] * C[:, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                sims = np.floor(sims * scale + 0.5) / scale
            # Spark orders NaN greatest -> first under DESC; map NaN to
            # +inf so lexsort agrees (ties then break to lowest cell).
            key = np.where(np.isnan(sims), np.inf, sims)
            order = np.argsort(-key, axis=1, kind="stable")[:, :keep]  # (n, keep)
            idx = np.repeat(np.arange(n), keep)
            o = pdf[carry].iloc[idx].reset_index(drop=True)
            o["cell"] = cell_ids[order.ravel()].astype(np.int32)
            yield o

    return df.mapInPandas(run, out_schema)


def pq_assign(df: DataFrame, books: "list[list[list[float]]]", digits: int = 9) -> DataFrame:
    """(vec_id, m, code, sv, dist) — the vectorized replay of
    ``pq_codebooks``'s per-iteration assignment: squared-L2 of each
    (vec_id, m) subvector to its subspace's k codebook centroids as the
    sequential double fold ``acc += (x-y)*(x-y)``, rounded tie-safe to
    ``digits``, argmin with ties to the LOWEST code (Spark's
    ``row_number() over (ORDER BY dist, c)``). One map-only stage in
    place of a broadcast join + per-(vec_id, m) window shuffle of
    n·m·k rows — rows and values are identical to the expression form."""
    scale = float(10**digits)
    m = len(books)
    out_schema = "vec_id long, m int, code int, sv array<double>, dist double"

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = [np.asarray(bm, dtype=np.float64) for bm in books]  # m × (k, sub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for mm in range(m):
                part = pdf[pdf["m"] == mm]
                if len(part) == 0:
                    continue
                S = np.stack(part["sv"].to_numpy()).astype(np.float64)
                Bm = B[mm]
                dists = np.zeros((len(part), Bm.shape[0]))
                for d in range(S.shape[1]):  # sequential over dims: the fold
                    diff = S[:, d][:, None] - Bm[None, :, d]
                    dists += diff * diff
                dists = np.floor(dists * scale + 0.5) / scale
                code = np.argmin(dists, axis=1)  # first min = lowest c
                o = part[["vec_id", "m", "sv"]].copy()
                o["code"] = code.astype(np.int32)
                o["dist"] = dists[np.arange(len(part)), code]
                outs.append(o[["vec_id", "m", "code", "sv", "dist"]])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(run, out_schema)


def kmeans_rows(df: DataFrame, cents: "list[list[float]]") -> DataFrame:
    """(df columns..., dists, cluster) — the vectorized replay of
    ``kmeans_assignments``'s per-iteration assignment expression.

    The expression's exactness device is DECIMAL(30,12) term summation:
    each per-dim squared diff is tie-safe quantized to 12 dp while a
    double, cast to DECIMAL (exactly n·10^-12 — a 13-significant-digit
    double round-trips its shortest rendering), summed exactly, cast
    back to double, and rounded to 9 dp. The kernel replays it in
    integer arithmetic: n = floor(term·1e12 + 0.5) accumulates in
    int64 (exact), and the decimal→double cast is the correctly-
    rounded float(acc)/1e12 while acc ≤ 2^53 (guarded: larger sums
    fall back to Fraction-exact conversion). cluster = first index of
    the array minimum (``array_position(dists, array_min(dists))``)."""
    from fractions import Fraction

    C = np.asarray(cents, dtype=np.float64)  # (k, dim)
    k, dim = C.shape
    carry = list(df.columns)
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in carry
    ) + ", dists array<double>, cluster int"

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((n, k), dtype=np.int64)
            for d in range(dim):  # sequential over dims: the decimal fold
                diff = E[:, d][:, None] - C[None, :, d]
                term = diff * diff
                acc += np.floor(term * 1e12 + 0.5).astype(np.int64)
            if (np.abs(acc) > 2**53).any():  # exact decimal->double fallback
                x = np.array(
                    [[float(Fraction(int(v), 10**12)) for v in row] for row in acc]
                )
            else:
                x = acc.astype(np.float64) / 1e12
            dists = np.floor(x * 1e9 + 0.5) / 1e9
            cluster = np.argmin(dists, axis=1)  # first min = array_position
            o = pdf[carry].copy()
            o["dists"] = list(dists)
            o["cluster"] = cluster.astype(np.int32)
            yield o

    return df.mapInPandas(run, out_schema)


def signature_rows(
    df: DataFrame,
    planes: "list[list[float]]",
    tables: int,
    bits: int,
    max_probes: int,
    carry: "list[str]",
    emit_probes: bool,
) -> DataFrame:
    """(carry..., tbl, bucket[, is_probe]) — the vectorized LSH
    signature/probe emission shared by ``_hy_signatures``,
    ``_sh_signatures`` and ``_tj_signatures``.

    Input must hold ``embedding`` plus per-row ladder columns
    ``nbits``/``ntables``/``nprobes`` (constant-lit columns for the
    fixed-table threshold-join form) plus the ``carry`` columns.
    Per row and table t < ntables: bucket = Σ_{i<nbits} sign_bit_i·2^i
    with sign_bit_i = (dot(embedding, plane[t·bits+i]) > 0), the dot
    an explicit sequential fold (see module docstring); with
    ``emit_probes``, each live table additionally emits nprobes
    Hamming-adjacent buckets (home XOR 2^p, is_probe=1). Identical
    rows to the expression forms — only the evaluation engine moved."""
    PL = np.asarray(planes, dtype=np.float64)  # (tables·bits, dim)
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in carry
    ) + ", tbl int, bucket long" + (", is_probe int" if emit_probes else "")

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nbits = pdf["nbits"].to_numpy()
            ntables = pdf["ntables"].to_numpy()
            nprobes = pdf["nprobes"].to_numpy()
            dots = np.zeros((n, tables * bits))
            for d in range(E.shape[1]):  # sequential over dims: the fold
                dots += E[:, d, None] * PL[None, :, d]
            sbits = (dots > 0).astype(np.int64)
            idx_parts: list[np.ndarray] = []
            tbl_parts: list[np.ndarray] = []
            bkt_parts: list[np.ndarray] = []
            pr_parts: list[np.ndarray] = []
            rows = np.arange(n)
            for t in range(tables):
                sig = np.zeros(n, dtype=np.int64)
                for i in range(bits):
                    sig += np.where(i < nbits, sbits[:, t * bits + i] << i, 0)
                live = rows[t < ntables]
                idx_parts.append(live)
                tbl_parts.append(np.full(len(live), t, dtype=np.int64))
                bkt_parts.append(sig[live])
                pr_parts.append(np.zeros(len(live), dtype=np.int64))
                if emit_probes:
                    for p in range(max_probes):
                        plive = rows[(t < ntables) & (p < nprobes)]
                        idx_parts.append(plive)
                        tbl_parts.append(np.full(len(plive), t, dtype=np.int64))
                        bkt_parts.append(sig[plive] ^ (1 << p))
                        pr_parts.append(np.ones(len(plive), dtype=np.int64))
            idx = np.concatenate(idx_parts)
            o = pdf[carry].iloc[idx].reset_index(drop=True)
            o["tbl"] = np.concatenate(tbl_parts).astype(np.int32)
            o["bucket"] = np.concatenate(bkt_parts)
            if emit_probes:
                o["is_probe"] = np.concatenate(pr_parts).astype(np.int32)
            yield o

    return df.mapInPandas(run, out_schema)
