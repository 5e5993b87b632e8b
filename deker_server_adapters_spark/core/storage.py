"""Chunked-parquet storage for N-d arrays.

Layout (one dataset per collection):

    {collection}/chunks/array_id=<id>/chunk_idx=<k>/*.parquet
        origin: array<long>   -- grid origin of this chunk (per dim)
        shape:  array<long>   -- chunk shape (per dim)
        data:   array<double> -- C-order flattened cells

This module makes each of the engine's core decisions once; the
arrays, varrays and the ``deker`` source call it rather than repeat it:

- *chunk layout*: ``chunk_dir`` names a chunk directory and
  ``walk_chunk_dirs`` lists them as ``(array_id, chunk_idx, path)``,
  pruned to given array ids at the directory level; nothing else
  builds or parses ``array_id=``/``chunk_idx=`` names;
- *grid*: ``ChunkGrid.for_schema`` is the grid of every array of a
  collection (the vgrid of a varray schema, else
  ``default_chunk_grid``);
- *cell view*: ``ChunkStore.cell_df`` is the one long-format view of
  any set of arrays;
- *run replay*: ``place_runs`` places a chunk's runs into a box, last
  write winning, for ``read_slice`` and the ``deker`` source alike.

Spark-first consequences:

- ``array_id`` and ``chunk_idx`` are *directory partition columns*, so
  a slice read touches exactly the overlapped chunk directories and
  Spark scans prune to them before any IO (the same role Deker's
  per-array HDF5 files + hash-ring routing play for the reference).
- A subset read runs no Spark job: the driver lists only the
  overlapped chunk directories, reads their parquet files with
  ``pyarrow`` (zero-copy NumPy views of the ``data`` lists) and
  replays each chunk's runs last-write-wins into the output box. Work
  is proportional to the touched chunks, not the array, and a
  one-cell read pays no scheduling round trip. Analytic paths
  (``cell_df``, the ``deker`` source) stay on Spark.
- Every chunk file is written one way: its runs encoded by
  ``encode_runs``, written under a dot-prefixed temp name that every
  listing skips (``stage_chunk_file``) and made visible whole by
  ``os.replace`` (``publish_staged``). ``create`` writes one dense run
  per chunk on the driver with no Spark job; ``write_from_cells`` is
  one Spark job whose tasks build and stage whole chunks, which the
  driver publishes once the job has succeeded; the ``deker`` writers
  stage per task and publish at commit.
- A subset write appends, also on the driver with no Spark job: each
  overlapped chunk dir gets one new file holding the update's piece of
  it as one run stamped newest (a *delta run*), the log-structured form
  of Deker's subset PUT (reference base.py:272-303). Nothing is
  removed, so an update has no crash window. Once a dir holds more than
  ``FOLD_FILES`` files, the update *folds* it: ``_merge_chunk_dir``
  rewrites the dir as one file whose runs are resolved last-write-wins
  (no two overlap). ``compact`` runs the same fold on executors.
- Decoded chunk dirs stay in one process-wide LRU cache on the driver
  (the role of HDF5's raw-data chunk cache): each entry holds a dir's
  runs in ``ordered_runs`` order, bounded at ``CHUNK_CACHE_BYTES`` of
  run values; a dir larger than the budget is not cached. Every request
  lists and stats the dir's visible files and hits only on an identical
  ``(name, size, mtime_ns, inode)`` signature, so any writer, in this
  process or another, makes the next request miss. An update extends
  the entry of the listing it saw with its delta run, so it never
  forces a re-decode of the chunk; a fold writes its resolved runs
  through. Array and collection deletes drop entries only to free
  memory. Only the driver's ``read_slice``, ``update_slice`` and fold
  use it; ``compact`` and the ``deker`` source read uncached on
  executors.
- ``cell_df`` exposes any set of arrays as a long-format DataFrame
  (array id, dim indices, value) with pure-JVM index arithmetic, so
  arrays join/aggregate with relational tables in one Catalyst plan.
  It is last-write-wins like ``read_data``: the driver reads only the
  ``origin``/``shape`` columns of each chunk dir, and only dirs whose
  runs overlap take a resolving aggregate; the rest keep the plain,
  shuffle-free plan.
- ``stats()`` snapshots the module's counters: cache hits, misses,
  evictions and cached bytes, delta appends, folds, and the chunk reads
  and runs they replayed.
"""

from __future__ import annotations

import functools
import math
import operator
import os
import re
import threading
import time
import uuid
from collections import OrderedDict
from typing import Iterable, Iterator, Sequence, Union

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deker_server_adapters_spark.core.errors import DekerDataPointsLimitError, DekerSubsetError
from deker_server_adapters_spark.core.schema import ArraySchema, VArraySchema

Bounds = Union[int, slice, tuple]

CHUNK_SCHEMA = StructType(
    [
        StructField("array_id", StringType(), False),
        StructField("chunk_idx", LongType(), False),
        StructField("origin", ArrayType(LongType(), False), False),
        StructField("shape", ArrayType(LongType(), False), False),
        StructField("data", ArrayType(DoubleType(), True), False),
        # placement rank: when runs overlap, the HIGHEST seq wins. Every
        # writer stamps it ((~ms clock) << 20 | within-task counter), so
        # ordering is explicit in the data — not derived from file names,
        # which neither Spark's scan (size-packed splits) nor compaction
        # (merged files) preserves. Nullable: legacy files read as null
        # (treated as oldest). Write events that land in the same ~ms on
        # different writers are mutually unordered, same as any two
        # uncoordinated appends.
        StructField("seq", LongType(), True),
    ]
)

_SEQ_COUNTER_BITS = 20
_SEQ_LOCK = threading.Lock()
_SEQ_LAST = 0


def next_write_seq() -> int:
    """Base placement stamp for one write event: wall-clock at ~ms
    granularity shifted to leave ``_SEQ_COUNTER_BITS`` low bits for a
    within-task run counter. Fits int64 until ~year 2150.

    Strictly MONOTONIC within a process: two write events issued
    back-to-back in the same clock tick (or across an NTP step
    backwards — ``time_ns`` is not monotonic) still get increasing
    stamps, so same-driver engine writes always resolve last-write-wins
    in issue order. Across processes (concurrent writers on different
    machines) ordering remains wall-clock ~ms — the documented
    uncoordinated-append caveat."""
    global _SEQ_LAST
    with _SEQ_LOCK:
        stamp = (time.time_ns() >> _SEQ_COUNTER_BITS) << _SEQ_COUNTER_BITS
        if stamp <= _SEQ_LAST:
            stamp = _SEQ_LAST + (1 << _SEQ_COUNTER_BITS)
        _SEQ_LAST = stamp
        return stamp

# default cap on cells materialized to the driver by read_data —
# parity with the reference's data-points limit (413 handling).
DEFAULT_MAX_POINTS = 64 * 1024 * 1024


def resolve_bounds(bounds: Bounds, dimensions) -> Bounds:
    """Resolve labeled / time-dimension values (strings, datetimes) in
    bounds to integer positions via each DimensionSchema. A slice stop
    given as label/datetime is inclusive-resolved then +1 (matches the
    Deker convention that label ranges include their endpoint)."""
    if not isinstance(bounds, tuple):
        bounds = (bounds,)
    if len(bounds) > len(dimensions):
        # over-length bounds: pass through; normalize_bounds raises the
        # proper DekerSubsetError with rank details
        return bounds
    out = []
    for d, b in enumerate(bounds):
        dim = dimensions[d]
        if isinstance(b, slice):
            start = b.start if b.start is None or isinstance(b.start, int) else dim.index_of(b.start)
            if b.stop is None or isinstance(b.stop, int):
                stop = b.stop
            else:
                stop = dim.index_of(b.stop) + 1
            out.append(slice(start, stop, b.step))
        elif b is None or isinstance(b, int):
            out.append(b)
        else:
            out.append(dim.index_of(b))
    return tuple(out)


def normalize_bounds(bounds: Bounds, shape: Sequence[int]) -> list[tuple[int, int, bool]]:
    """Normalize numpy-style bounds to per-dim (start, stop, squeeze).

    Supports int and start/stop slices (no step), like the reference's
    slice_converter subset URLs. Missing trailing dims = full range.
    """
    if not isinstance(bounds, tuple):
        bounds = (bounds,)
    if len(bounds) > len(shape):
        raise DekerSubsetError(f"bounds rank {len(bounds)} > array rank {len(shape)}")
    out: list[tuple[int, int, bool]] = []
    for d, size in enumerate(shape):
        if d >= len(bounds):
            out.append((0, size, False))
            continue
        b = bounds[d]
        if isinstance(b, int):
            if b < 0:
                b += size
            if not 0 <= b < size:
                raise DekerSubsetError(f"index {b} out of range for dim {d} of size {size}")
            out.append((b, b + 1, True))
        elif isinstance(b, slice):
            if b.step not in (None, 1):
                raise DekerSubsetError("step slices are not supported")
            start, stop, _ = b.indices(size)
            if stop < start:
                stop = start
            out.append((start, stop, False))
        else:
            raise DekerSubsetError(f"unsupported bound {b!r} for dim {d}")
    return out


def default_chunk_grid(shape: Sequence[int], target_cells: int = 1 << 20) -> tuple[int, ...]:
    """Split the first dimension into slabs of ~target_cells cells."""
    inner = math.prod(shape[1:]) if len(shape) > 1 else 1
    rows = max(1, min(shape[0], target_cells // max(inner, 1) or 1))
    splits0 = math.ceil(shape[0] / rows)
    return (splits0,) + (1,) * (len(shape) - 1)


class ChunkGrid:
    """Regular chunk grid over an N-d shape (vgrid generalization)."""

    def __init__(self, shape: Sequence[int], splits: Sequence[int]):
        assert len(shape) == len(splits)
        self.shape = tuple(shape)
        self.splits = tuple(splits)
        self.chunk_shape = tuple(
            math.ceil(s / g) for s, g in zip(self.shape, self.splits)
        )

    @classmethod
    def for_schema(cls, schema: ArraySchema) -> "ChunkGrid":
        """The grid every array of a collection of ``schema`` is stored
        on: the vgrid of a varray schema, else :func:`default_chunk_grid`
        (so a varray's chunk arrays are its vgrid cells)."""
        if isinstance(schema, VArraySchema):
            return cls(schema.shape, schema.vgrid)
        return cls(schema.shape, default_chunk_grid(schema.shape))

    @property
    def n_chunks(self) -> int:
        return math.prod(self.splits)

    def chunk_position(self, idx: int) -> tuple[int, ...]:
        pos = []
        for g in reversed(self.splits):
            pos.append(idx % g)
            idx //= g
        return tuple(reversed(pos))

    def chunk_index(self, pos: Sequence[int]) -> int:
        idx = 0
        for p, g in zip(pos, self.splits):
            idx = idx * g + p
        return idx

    def chunk_box(self, idx: int) -> list[tuple[int, int]]:
        """[(start, stop)] per dim for chunk idx (clipped to shape)."""
        pos = self.chunk_position(idx)
        return [
            (p * c, min((p + 1) * c, s))
            for p, c, s in zip(pos, self.chunk_shape, self.shape)
        ]

    def overlapping_chunks(self, norm: list[tuple[int, int, bool]]) -> list[int]:
        """Chunk indices whose box intersects the normalized bounds."""
        ranges = []
        for (start, stop, _), c, g in zip(norm, self.chunk_shape, self.splits):
            lo = start // c
            hi = min((stop - 1) // c, g - 1) if stop > start else lo - 1
            ranges.append(range(lo, hi + 1))
        idxs: list[int] = []

        def rec(d: int, pos: list[int]) -> None:
            if d == len(ranges):
                idxs.append(self.chunk_index(pos))
                return
            for p in ranges[d]:
                rec(d + 1, pos + [p])

        rec(0, [])
        return sorted(idxs)


# Characters Spark escapes as %XX in partition directory names
# (ExternalCatalogUtils.escapePathName, non-Windows): ASCII controls
# 0x01-0x1F, DEL, and the path/glob/partition metacharacters.
_PATH_ESCAPED = frozenset(map(chr, range(0x01, 0x20))) | frozenset(
    "\"#%'*/:=?\\\x7f{[]^"
)
_PATH_UNESCAPE = re.compile(r"%([0-9A-Fa-f]{2})")


def escape_path_name(value: str) -> str:
    """A partition value as Spark spells it in a directory name."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value)


def unescape_path_name(name: str) -> str:
    """Inverse of :func:`escape_path_name` (Spark's unescapePathName)."""
    return _PATH_UNESCAPE.sub(lambda m: chr(int(m.group(1), 16)), name)


def chunk_dir(chunks_root: str, array_id: str, chunk_idx: int | None = None) -> str:
    """The partition directory of one array (``chunk_idx=None``) or of
    one of its chunks, escaped exactly as Spark's partitioned writer
    names it — every writer, reader and delete goes through here, so
    ids with ``#``, ``%``, ``/`` … land in and leave one directory."""
    d = os.path.join(chunks_root, f"array_id={escape_path_name(array_id)}")
    return d if chunk_idx is None else os.path.join(d, f"chunk_idx={int(chunk_idx)}")


def _listed(d: str, key: str) -> list[tuple[str, str]]:
    """``(value, name)`` of the ``key=value`` entries of dir ``d``; a dir
    that is gone (never written, or deleted mid-walk) has none."""
    try:
        names = os.listdir(d)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return [(n[len(key) + 1 :], n) for n in names if n.startswith(f"{key}=")]


def walk_chunk_dirs(
    chunks_root: str, array_ids: Iterable[str] | None = None
) -> Iterator[tuple[str, int, str]]:
    """``(array_id, chunk_idx, path)`` of every chunk dir under
    ``chunks_root``, ordered by array id, then chunk index. Given
    ``array_ids``, only those arrays' dirs are listed: the walk never
    lists the other arrays (directory-level pruning)."""
    if array_ids is None:
        arrays = [
            (unescape_path_name(v), os.path.join(chunks_root, n))
            for v, n in _listed(chunks_root, "array_id")
        ]
    else:
        arrays = [(a, chunk_dir(chunks_root, a)) for a in set(array_ids)]
    for array_id, adir in sorted(arrays):
        for idx, name in sorted((int(v), n) for v, n in _listed(adir, "chunk_idx")):
            yield array_id, idx, os.path.join(adir, name)


def is_visible_chunk_file(name: str) -> bool:
    """A committed chunk file. Writer and compaction temps are
    dot-prefixed (as are Hadoop ``.crc`` companions), so every reader,
    compaction and stat skips them until a rename publishes them."""
    return name.endswith(".parquet") and not name.startswith(".")


def visible_chunk_files(d: str) -> list[str]:
    """Sorted paths of the committed files in one chunk dir; a dir that
    does not exist (never written, or deleted) has none."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(os.path.join(d, f) for f in names if is_visible_chunk_file(f))


def _read_parquet(path: str) -> pa.Table:
    # one file, no dataset discovery: ~40% cheaper than pq.read_table
    # on a single-row-group chunk file
    with pq.ParquetFile(path) as f:
        return f.read()


def read_chunk_files(paths: Sequence[str]) -> tuple[list[str], list[pa.Table]]:
    """Read one chunk dir's planned files, in the given order; returns
    the paths actually read and their tables.

    A planned file that vanishes before it is opened means a fold (an
    update's, or ``compact``'s) rewrote the dir, or ``delete_array``
    dropped the chunk. Skipping it would silently drop its cells, so
    the dir is re-listed (with backoff, so a steady rewrite cadence can
    drain) and the CURRENT visible set is read — the rewritten file
    carries every removed run. A read racing writers is therefore
    read-committed per chunk, not a snapshot; a dir that is gone reads
    as empty."""
    if not paths:
        return [], []
    d = os.path.dirname(paths[0])
    attempts = 8
    for attempt in range(attempts):
        try:
            return list(paths), [_read_parquet(p) for p in paths]
        except FileNotFoundError:
            pass
        if attempt == attempts - 1:
            break  # no further read — don't sleep/relist for nothing
        if not os.path.isdir(d):
            return [], []  # delete_array: the chunk is legitimately gone
        time.sleep(min(0.05 * (2**attempt), 1.0))
        paths = visible_chunk_files(d)
        if not paths:
            return [], []
    raise RuntimeError(f"chunk dir kept changing during read: {d}")


# Counters read through ``stats()``: one integer add per event, made
# under ``_CACHE_LOCK`` so that threads lose none.
_COUNTS = dict.fromkeys(
    (
        "cache_hits",
        "cache_misses",
        "cache_evictions",
        "delta_appends",
        "folds",
        "chunk_reads",
        "runs_replayed",
    ),
    0,
)

# A dir holding more than this many visible files after an update is
# folded by that update: updates alone never leave a dir with more.
FOLD_FILES = 16

# The driver-side chunk cache (see the module docstring). Entries are
# keyed by absolute dir path at module level, so every ChunkStore in
# the process shares them: ``Array`` builds a new adapter per call.
# An entry is ``(signature, runs, nbytes)``; cached run values are
# read-only, and an entry's run list is replaced, never changed in place.
CHUNK_CACHE_BYTES = 256 << 20  # budget in bytes of run values
_CACHE_LOCK = threading.Lock()
_CACHE: OrderedDict[str, tuple[tuple, list, int]] = OrderedDict()
_cache_nbytes = 0


def _count(**events: int) -> None:
    with _CACHE_LOCK:
        for k, n in events.items():
            _COUNTS[k] += n


def stats() -> dict:
    """A snapshot of the array counters: chunk-cache hits, misses and
    evictions, delta appends, folds, chunk reads and the runs those
    reads replayed, all counted since the process started, plus the
    bytes and dirs the cache holds now."""
    with _CACHE_LOCK:
        return {**_COUNTS, "cached_bytes": _cache_nbytes, "cached_dirs": len(_CACHE)}


def _signature(paths: Sequence[str]) -> tuple | None:
    """The cache signature of a listing, or None if a listed file has
    already vanished. An in-place rewrite that keeps a file's size
    within one tick of the file system's timestamp clock goes unseen;
    the engine's writers never rewrite in place, they publish new names
    by rename (a new inode)."""
    sig = []
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:
            return None
        sig.append((os.path.basename(p), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sig)


def _store_locked(key: str, sig: tuple, runs: list, nbytes: int) -> None:
    """Cache ``runs`` under ``key`` and ``sig``, evicting least recently
    used dirs past the budget; a dir larger than the whole budget is not
    cached (and its stale entry goes). The caller holds the lock."""
    global _cache_nbytes
    old = _CACHE.pop(key, None)
    if old is not None:
        _cache_nbytes -= old[2]
    if nbytes > CHUNK_CACHE_BYTES:
        return
    _CACHE[key] = (sig, runs, nbytes)
    _cache_nbytes += nbytes
    while _cache_nbytes > CHUNK_CACHE_BYTES:
        _cache_nbytes -= _CACHE.popitem(last=False)[1][2]
        _COUNTS["cache_evictions"] += 1


def _cache_put(d: str, sig: tuple, runs: list) -> None:
    """Cache ``runs`` as dir ``d`` under ``sig``."""
    nbytes = sum(r[3].nbytes for r in runs)
    with _CACHE_LOCK:
        _store_locked(os.path.abspath(d), sig, runs, nbytes)


def _cached(d: str, sig: tuple | None) -> list | None:
    """Dir ``d``'s cached runs if its entry has signature ``sig``."""
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if sig is not None and hit is not None and hit[0] == sig:
            _CACHE.move_to_end(key)
            _COUNTS["cache_hits"] += 1
            return hit[1]
        _COUNTS["cache_misses"] += 1
        return None


def _cache_append(d: str, before: tuple, path: str, run: tuple) -> None:
    """Extend dir ``d``'s entry with the run file ``path`` just published
    into it, if the entry is the listing ``before`` taken before the
    write; any other entry is left to miss on the next request."""
    added = _signature([path])
    if added is None:
        return
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if hit is None or hit[0] != before:
            return
        runs = sorted([*hit[1], run], key=_run_seq)  # stable: equal seqs keep their order
        _store_locked(key, tuple(sorted(before + added)), runs, hit[2] + run[3].nbytes)


def drop_cached(d: str) -> None:
    """Drop the cache entries of dir ``d`` and of every dir under it —
    the memory of a deleted array or collection."""
    global _cache_nbytes
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        for k in [k for k in _CACHE if k == key or k.startswith(key + os.sep)]:
            _cache_nbytes -= _CACHE.pop(k)[2]


def read_chunk_dir(d: str) -> list[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """The :func:`ordered_runs` of dir ``d``'s current listing, through
    the driver-side cache. The signature is taken before the files are
    read, so an entry never holds runs older than its signature. A miss
    is cached only when the files read are exactly the listing; a file
    gone by the stat falls back to the relisting read, uncached."""
    paths = visible_chunk_files(d)
    sig = _signature(paths)
    runs = _cached(d, sig)
    if runs is not None:
        return runs
    read, tables = read_chunk_files(paths)
    runs = ordered_runs(tables)
    if sig is not None and paths and read == paths:
        _cache_put(d, sig, runs)
    return runs


def _list_parts(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, flat values) of a list column as NumPy views; null
    elements (none of the engine's writers produce them) read as NaN."""
    values = col.values
    return col.offsets.to_numpy(), values.to_numpy(zero_copy_only=values.null_count == 0)


def _list_rows(col: pa.ChunkedArray) -> np.ndarray:
    """A column of equal-length lists as a 2-d NumPy array, one row per
    list."""
    offsets, values = _list_parts(col.combine_chunks())
    return values[offsets[0] : offsets[-1]].reshape(len(offsets) - 1, -1)


def chunk_runs(table: pa.Table) -> Iterator[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """``(seq, origin, shape, values)`` for each run row of one chunk
    file, in row order. ``values`` is a flat, read-only view of the
    file's ``data`` list; ``seq`` is -1 for legacy seq-less rows (the
    oldest)."""
    for batch in table.to_batches():
        seqs = (
            batch.column("seq").fill_null(-1).to_numpy().tolist()
            if "seq" in batch.schema.names
            else [-1] * batch.num_rows
        )
        o_off, o_val = _list_parts(batch.column("origin"))
        s_off, s_val = _list_parts(batch.column("shape"))
        d_off, d_val = _list_parts(batch.column("data"))
        d_val.setflags(write=False)  # a copy when the list held nulls
        for i, seq in enumerate(seqs):
            yield (
                seq,
                o_val[o_off[i] : o_off[i + 1]],
                tuple(s_val[s_off[i] : s_off[i + 1]].tolist()),
                d_val[d_off[i] : d_off[i + 1]],
            )


def _run_seq(run: tuple) -> int:
    return run[0]


def ordered_runs(tables: Sequence[pa.Table]) -> list[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """Every run of one chunk dir's files (given in ascending file-name
    order) in LAST-WRITE-WINS placement order: ascending
    ``(coalesce(seq, -1), file name, row index)``. Stamped runs order by
    ``seq`` alone (the within-task counter makes them strictly
    increasing). A legacy seq-less run carries its file's rank in the
    listing as its ``seq`` — older than every stamped run, in file-name
    order — which a fold writes out, so a rewrite never changes which
    legacy run wins. Runs in different chunk dirs never overlap, so
    per-dir replay equals one global sort."""
    runs = [
        (rank if seq < 0 else seq, origin, shape, values)
        for rank, t in enumerate(tables)
        for seq, origin, shape, values in chunk_runs(t)
    ]
    runs.sort(key=_run_seq)  # stable: ties keep (file, row) order
    return runs


def run_boxes(runs: Sequence[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """(origins, shapes) of ``runs``, one row per run."""
    return np.array([r[1] for r in runs], np.int64), np.array([r[2] for r in runs], np.int64)


def runs_overlap(origins: np.ndarray, shapes: np.ndarray) -> bool:
    """Whether any two boxes ``[origin, origin + shape)`` (one per row)
    share a cell. A sweep sorts the boxes by start along the dimension
    that leaves the fewest candidate pairs (later-starting boxes that
    start before a box ends); the candidates are then compared on every
    dimension at once, a bounded block at a time — milliseconds for the
    thousands of runs of a ``deker``-writer chunk."""
    n = len(origins)
    if n < 2:
        return False
    lo = np.asarray(origins, np.int64).reshape(n, -1)
    hi = lo + np.asarray(shapes, np.int64).reshape(n, -1)
    best = None
    for d in range(lo.shape[1]):
        order = np.argsort(lo[:, d], kind="stable")
        ends = np.searchsorted(lo[order, d], hi[order, d])
        counts = np.maximum(ends - np.arange(1, n + 1), 0)
        if best is None or counts.sum() < best[1].sum():
            best = (order, counts)
    order, counts = best
    for block in np.array_split(np.arange(n), max(1, int(counts.sum()) >> 20)):
        c = counts[block]
        i = np.repeat(block, c)
        j = i + 1 + np.arange(c.sum()) - np.repeat(np.cumsum(c) - c, c)
        a, b = order[i], order[j]
        if np.any(np.all((lo[a] < hi[b]) & (lo[b] < hi[a]), axis=1)):
            return True
    return False


def _overlap(origin, shape, lo, hi) -> tuple[tuple, tuple] | None:
    """The cells a run at ``origin``/``shape`` shares with the box
    ``[lo, hi)``, as (slices into the run, slices into the box), or
    None if they share none."""
    in_run, in_box = [], []
    for o, s, a, b in zip(origin, shape, lo, hi):
        start, stop = max(a, o), min(b, o + s)
        if start >= stop:
            return None
        in_run.append(slice(start - o, stop - o))
        in_box.append(slice(start - a, stop - a))
    return tuple(in_run), tuple(in_box)


def place_runs(
    runs: Iterable[tuple], lo: Sequence[int], out: np.ndarray, written: np.ndarray | None = None
) -> None:
    """Replay placement-ordered ``runs`` (:func:`ordered_runs`) into
    ``out``, the box of ``out.shape`` cells at ``lo`` (Python ints):
    each run's cells inside the box overwrite it in turn, so the last
    write wins. Cells no run covers are left as they are; ``written``,
    a boolean array of the box's shape, marks the cells placed."""
    hi = [a + n for a, n in zip(lo, out.shape)]
    for _, origin, shape, values in runs:
        hit = _overlap(origin.tolist(), shape, lo, hi)
        if hit is not None:
            out[hit[1]] = values.reshape(shape)[hit[0]]
            if written is not None:
                written[hit[1]] = True


def _outside(inner: tuple, shape: Sequence[int]) -> Iterator[tuple]:
    """Slices that cut the box ``[0, shape)`` minus its sub-box ``inner``
    into at most two boxes per dimension."""
    cur = [slice(0, n) for n in shape]
    for d, s in enumerate(inner):
        if s.start > 0:
            yield tuple(cur[:d] + [slice(0, s.start)] + cur[d + 1 :])
        if s.stop < shape[d]:
            yield tuple(cur[:d] + [slice(s.stop, shape[d])] + cur[d + 1 :])
        cur[d] = s


def _patched(runs: list, origin: Sequence[int], values: np.ndarray, seq: int) -> list:
    """Pairwise disjoint ``runs`` with the newer box ``values`` at
    ``origin``, stamped ``seq``, placed last-write-wins; the result is
    pairwise disjoint too. If the runs cover the box, its cells are
    written into each run's overlap, every ``seq`` kept, and the box is
    dropped. Otherwise (a sparse ``deker`` append) the box becomes a run
    and each run it overlaps keeps only its cells outside the box.
    Read-only run values are copied before they are written."""
    origin = [int(a) for a in origin]
    hi = [a + n for a, n in zip(origin, values.shape)]
    hits = {}
    for i, (_, run_origin, shape, _) in enumerate(runs):
        hit = _overlap(run_origin.tolist(), shape, origin, hi)
        if hit is not None:
            hits[i] = hit
    covered = sum(math.prod(s.stop - s.start for s in h[1]) for h in hits.values())
    if covered == values.size:
        out = list(runs)
        for i, (in_run, in_box) in hits.items():
            run_seq, run_origin, shape, data = runs[i]
            if not data.flags.writeable:
                data = data.copy()
            data.reshape(shape)[in_run] = values[in_box]
            out[i] = (run_seq, run_origin, shape, data)
        return out
    out = [r for i, r in enumerate(runs) if i not in hits]
    for i, (in_run, _) in hits.items():
        run_seq, run_origin, shape, data = runs[i]
        for piece in _outside(in_run, shape):
            cut = data.reshape(shape)[piece]
            out.append((run_seq, run_origin + [p.start for p in piece], cut.shape, cut.ravel()))
    out.append((seq, np.asarray(origin), values.shape, values.ravel()))
    return out


def _resolved(runs: Sequence[tuple]) -> list:
    """Placement-ordered ``runs`` as pairwise disjoint runs holding the
    same last-write-wins cells, in ``seq`` order, values read-only."""
    out: list = []
    for seq, origin, shape, values in runs:
        out = _patched(out, origin, values.reshape(shape), seq)
    out.sort(key=_run_seq)
    for r in out:
        r[3].setflags(write=False)
    return out


def _list_array(parts: list, type_: pa.DataType) -> pa.ListArray:
    offsets = np.cumsum([0] + [len(p) for p in parts], dtype=np.int32)
    flat = np.concatenate(parts) if parts else []
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, type_))


def encode_runs(runs: Iterable[tuple[int, Sequence[int], Sequence[int], np.ndarray]]) -> pa.Table:
    """The one chunk-file encoding: a row per ``(seq, origin, shape,
    values)`` run, ``values`` flat in C order — what :func:`chunk_runs`
    reads back. Every writer of chunk files encodes through here."""
    runs = list(runs)
    return pa.table(
        {
            "origin": _list_array([r[1] for r in runs], pa.int64()),
            "shape": _list_array([r[2] for r in runs], pa.int64()),
            "data": _list_array([r[3] for r in runs], pa.float64()),
            "seq": pa.array([r[0] for r in runs], pa.int64()),
        }
    )


# File naming. A chunk file is staged under a dot-prefixed temp name,
# which every listing skips, then published by rename:
# - writers stage as ``TMP_PREFIX<write id>-…`` and publish as
#   APPEND_PREFIX (engine writes, the deker batch writer) or the deker
#   stream writer's ``part-b<batch>-…``; both sort before
#   ``part-compact-``;
# - a rewrite stages as ``.part-compact-….tmp`` and publishes
#   ``part-compact-g<generation>-<token>.parquet``; the generation counts
#   up per dir and ``g`` sorts after older ``part-compact-<hex>``
#   outputs, so a rewrite's output sorts after every file it replaces.
TMP_PREFIX = ".part-tmp-"
APPEND_PREFIX = "part-append-"
_REWRITE_TMP = ".part-compact-"
_REWRITE_GEN = re.compile(r"part-compact-g(\d+)-")


def is_staged_chunk_file(name: str) -> bool:
    """An unpublished writer or rewrite temp — in flight, or orphaned by
    a crash. Hadoop ``.crc`` companions and other dotfiles are not."""
    return name.startswith(TMP_PREFIX) or (
        name.startswith(_REWRITE_TMP) and name.endswith(".tmp")
    )


def staged_prefix(write_id: str) -> str:
    """The temp-name prefix of one write's staged files."""
    return f"{TMP_PREFIX}{write_id}-"


def appended_name(tmp: str) -> str:
    """The published path of a writer temp: APPEND_PREFIX in place of
    TMP_PREFIX, same dir."""
    d, name = os.path.split(tmp)
    return os.path.join(d, APPEND_PREFIX + name[len(TMP_PREFIX):])


def stage_chunk_file(d: str, table: pa.Table, tmp_name: str) -> str:
    """Write ``table`` into chunk dir ``d`` under the dot-prefixed
    ``tmp_name``, invisible to every reader, compaction and stat until
    :func:`publish_staged` renames it; returns its path."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, tmp_name)
    pq.write_table(table, tmp)
    return tmp


def publish_staged(renames: Iterable[tuple[str, str]], own_prefix: str) -> None:
    """Make each staged ``(temp, final)`` file visible, whole, by
    ``os.replace``; then remove every other temp named ``own_prefix…``
    in the dirs touched: attempts of the same write that failed or were
    superseded, whose data the published files carry. Temps of other
    writes carry another prefix and are left alone."""
    touched = set()
    for tmp, final in renames:
        os.replace(tmp, final)
        touched.add(os.path.dirname(final))
    discard_staged(touched, own_prefix)


def discard_staged(dirs: Iterable[str], own_prefix: str) -> None:
    """Remove the temps named ``own_prefix…`` from ``dirs``: how a write
    that fails before its publish leaves nothing behind. Temps of a
    write that crashes outright are reclaimed by the age-gated
    :meth:`ChunkStore.gc_temps`."""
    for d in dirs:
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            continue
        for f in names:
            if f.startswith(own_prefix):
                try:
                    os.remove(os.path.join(d, f))
                except FileNotFoundError:
                    pass


def _stage_dense(
    root: str, array_id: str, grid: ChunkGrid, idx: int, values: np.ndarray | float, seq: int, prefix: str
) -> str:
    """Stage chunk ``idx`` as one dense run over its whole box: the
    array ``values``, or a scalar filling the box. The random token
    keeps concurrent attempts of one task apart."""
    box = grid.chunk_box(idx)
    if np.ndim(values) == 0:
        values = np.full([b - a for a, b in box], float(values))
    values = np.ascontiguousarray(values, dtype=np.float64)
    return stage_chunk_file(
        chunk_dir(root, array_id, idx),
        encode_runs([(seq, [a for a, _ in box], values.shape, values.ravel())]),
        f"{prefix}{idx}-{uuid.uuid4().hex[:8]}.parquet",
    )


def _rewrite_name(paths: Sequence[str]) -> str:
    gens = [
        int(m.group(1))
        for p in paths
        if (m := _REWRITE_GEN.match(os.path.basename(p)))
    ]
    return f"part-compact-g{max(gens, default=0) + 1:09d}-{uuid.uuid4().hex[:16]}.parquet"


def _merge_chunk_dir(d: str) -> int:
    """Fold one chunk-partition dir into a single file — the one
    rewrite. An update runs it on the driver once the dir holds more
    than ``FOLD_FILES`` files; ``compact`` runs it on executors. A dir
    with fewer than two files is left alone. Returns 1 if the dir was
    rewritten.

    - The fold *resolves* runs: when the vectorised
      :func:`runs_overlap` check finds overlapping runs, each newer
      run's cells are written into the older runs it overlaps and the
      newer run is dropped once they cover it (:func:`_patched`), so
      the output holds no two overlapping runs. Dirs without overlap
      (a ``deker``-writer chunk of thousands of disjoint runs) skip the
      Python resolution.
    - Every output run keeps its ``seq``; a legacy run without one
      keeps its rank in sorted-file-name order (:func:`ordered_runs`),
      so it stays older than every stamped run.
    - The runs come from the driver-side cache when it holds this
      listing (the update that folds just extended it), and the output
      is then written through; otherwise the files are read through
      ``read_chunk_files``, so a file that vanishes mid-read re-lists
      the dir, and only the files actually read are replaced.
    - Publish order: the output is staged and published whole like
      every chunk file, then the replaced files go, each after its
      Hadoop ``.crc`` companion (stores written by Spark's parquet
      writer have them). A reader that sees both (mid-fold, or after a
      crash before the removal) replays the replaced runs and the
      output's resolved runs; the output sorts after every replaced
      file and every run newer than an output run is still there, so
      each cell resolves to its last write, and the next fold heals
      the dir. A crashed fold's temp is GC'd by the next fold of the
      dir.
    - In-flight writer temps are never touched, and a file committed
      after the listing (an update's delta, a ``deker`` append) is
      kept. Two concurrent folds of the SAME dir (an update's fold
      racing ``compact``) are unsupported.
    """
    paths = visible_chunk_files(d)
    if len(paths) < 2:
        return 0
    runs = _cached(d, _signature(paths))
    hit = runs is not None
    if not hit:
        paths, tables = read_chunk_files(paths)
        if len(paths) < 2:
            return 0
        runs = ordered_runs(tables)
    if runs_overlap(*run_boxes(runs)):
        runs = _resolved(runs)
    out = os.path.join(d, _rewrite_name(paths))
    tmp = stage_chunk_file(d, encode_runs(runs), f".{os.path.basename(out)}.tmp")
    publish_staged([(tmp, out)], _REWRITE_TMP)
    for p in paths:
        # the companion first: a crash in between leaves a file without
        # its checksum (read unverified), never a checksum without a file
        for q in (os.path.join(d, f".{os.path.basename(p)}.crc"), p):
            try:
                os.remove(q)
            except FileNotFoundError:
                pass
    _count(folds=1)
    sig = _signature([out])
    if hit and sig is not None:
        _cache_put(d, sig, runs)
    return 1


class ChunkStore:
    """Reads/writes the chunk dataset of one collection."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.join(path, "chunks")

    # -- write ------------------------------------------------------------

    def write_array(self, array_id: str, grid: ChunkGrid, data: np.ndarray | float) -> None:
        """Write a whole array on the driver, with no Spark job: one
        dense run per chunk, cut from ``data`` or, for a scalar, filled
        with it. Every chunk is staged before any is published."""
        seq = next_write_seq()  # one stamp per write event; chunks are disjoint
        prefix = staged_prefix(uuid.uuid4().hex[:16])
        try:
            staged = []
            for idx in range(grid.n_chunks):
                box = tuple(slice(a, b) for a, b in grid.chunk_box(idx))
                values = data if np.ndim(data) == 0 else data[box]
                staged.append(_stage_dense(self.path, array_id, grid, idx, values, seq, prefix))
            publish_staged([(p, appended_name(p)) for p in staged], prefix)
        except BaseException:
            discard_staged(self._chunk_dirs(array_id, grid), prefix)
            raise

    def write_from_cells(
        self,
        array_id: str,
        grid: ChunkGrid,
        cells: DataFrame,
        dim_cols: Sequence[str],
        value_col: str,
        fill_value: float = 0.0,
    ) -> None:
        """Distributed build: materialize an N-d array from a long-format
        DataFrame of (dim indices..., value) WITHOUT collecting cells to
        the driver — the 100 TB ingest path. Cells absent from the input
        get ``fill_value``.

        One Spark job: ``chunk_idx`` is pure-JVM arithmetic on the dim
        columns, the one shuffle is ``repartition(chunk_idx)``, and each
        ``mapInArrow`` task builds every chunk it receives dense (the
        fill, then its cells) and stages it. Only ``(chunk_idx, temp
        path)`` pairs return to the driver, which stages fill chunks for
        the indices no cell reaches and then publishes every chunk. A
        job that fails leaves no visible file and no temp of this write;
        only a task attempt still running after the driver's publish or
        clean-up (a speculative copy, or a task of a failed job not yet
        stopped) can leave its temp, which, like a crashed write's, no
        reader sees and ``gc_temps`` reclaims.
        """
        idx_expr = "0L"
        for d, c in enumerate(dim_cols):
            idx_expr = f"(({idx_expr}) * {grid.splits[d]}) + (CAST({c} AS BIGINT) DIV {grid.chunk_shape[d]})"
        seq = next_write_seq()  # one stamp: output chunks are disjoint
        prefix = staged_prefix(uuid.uuid4().hex[:16])
        root, fill, n = self.path, float(fill_value), len(dim_cols)
        shape = np.asarray(grid.shape)[:, None]

        def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            chunks: dict[int, np.ndarray] = {}
            for batch in batches:
                idxs = batch.column(0).to_numpy()
                coords = np.stack([batch.column(1 + d).to_numpy() for d in range(n)])
                values = batch.column(1 + n).to_numpy(zero_copy_only=False)
                bad = (coords < 0) | (coords >= shape)
                if bad.any():
                    d, j = np.argwhere(bad)[0]
                    raise ValueError(
                        f"cell {dim_cols[d]}={int(coords[d, j])} outside dimension size {grid.shape[d]}"
                    )
                for idx in np.unique(idxs).tolist():
                    box = grid.chunk_box(idx)
                    if idx not in chunks:
                        chunks[idx] = np.full([b - a for a, b in box], fill)
                    sel = idxs == idx
                    chunks[idx][tuple(c[sel] - a for c, (a, _) in zip(coords, box))] = values[sel]
            paths = [
                _stage_dense(root, array_id, grid, idx, chunk, seq, prefix)
                for idx, chunk in chunks.items()
            ]
            yield pa.RecordBatch.from_pydict(
                {"chunk_idx": pa.array(list(chunks), pa.int64()), "path": pa.array(paths, pa.string())}
            )

        try:
            staged = {
                r["chunk_idx"]: r["path"]
                for r in cells.select(
                    F.expr(idx_expr).alias("chunk_idx"),
                    *[F.col(c).cast("long").alias(c) for c in dim_cols],
                    F.col(value_col).cast("double").alias("__value"),
                )
                .repartition("chunk_idx")
                .mapInArrow(build, "chunk_idx long, path string")
                .collect()
            }
            for idx in range(grid.n_chunks):
                if idx not in staged:
                    staged[idx] = _stage_dense(self.path, array_id, grid, idx, fill, seq, prefix)
            publish_staged([(p, appended_name(p)) for p in staged.values()], prefix)
        except BaseException:
            discard_staged(self._chunk_dirs(array_id, grid), prefix)
            raise

    def _chunk_dirs(self, array_id: str, grid: ChunkGrid) -> list[str]:
        return [chunk_dir(self.path, array_id, idx) for idx in range(grid.n_chunks)]

    # -- read -------------------------------------------------------------

    def compact(self, min_files: int = 2, gc_temp_age_sec: float = 86400.0) -> int:
        """Maintenance: merge multi-file chunk partitions back to ONE
        parquet file per (array_id, chunk_idx) dir. Bulk appends via the
        ``deker`` writer leave one file per chunk per TASK per write (a
        streaming sink adds one per micro-batch), and every query then
        pays per-file open/footer + per-split scheduler cost — the
        small-file problem ``plans.layout.compaction_plan`` sizes for
        flat stores, applied per Hive partition here (chunk partitions
        must keep their own directories, so compaction merges WITHIN
        each).

        Distributed: the chunk-dir list parallelizes over executors and
        each dir is folded independently (bounded by one chunk's bytes)
        by ``_merge_chunk_dir``, the same fold an update runs on the
        driver: overlapping runs are resolved last-write-wins, so a
        compacted dir holds no two overlapping runs, and dirs without
        overlap only have their files merged. Placement semantics
        survive because run precedence is the explicit ``seq`` column,
        not file order (legacy seq-less rows get a synthesized rank).
        Crash window: a failure between publishing the merged file and
        removing the inputs leaves duplicate RUNS; the merged file sorts
        last and holds each cell's last write, so reads resolve right,
        and the next fold of the dir heals it.

        Concurrency: safe alongside an active ``writeStream`` and
        alongside updates — a writer task's in-flight dot-prefixed temp
        files are invisible here (and to every reader) until its commit
        renames them, and a committed file (an update's delta run, an
        append) that appears after this pass's listing snapshot is
        simply not merged this time. A file that vanishes mid-read
        re-lists the dir. Two concurrent folds of the SAME dir — two
        compact() calls on one store, or a compact racing the update
        that folds that chunk — are not supported.

        Returns the number of chunk dirs compacted. NOTE for changefeed
        consumers: the merged file is a NEW file, so a running
        ``readStream`` re-emits compacted chunks (CDC re-emission, same
        as any fold).

        Maintenance cadence: each compact() pass also runs the
        age-gated :meth:`gc_temps` (``gc_temp_age_sec``; 0 disables) —
        commit-time temp GC is scoped to each write's own job id, so
        temps from CRASHED writers are reclaimed by nothing else; a
        deployment that compacts periodically therefore never
        accumulates invisible orphan disk. Standalone ``gc_temps()``
        remains for stores that never need compaction.

        WRITER-DURATION CONTRACT (r11 advice): the age gate assumes no
        live writer holds an uncommitted temp file longer than
        ``gc_temp_age_sec`` (default 86400 s, one day, as for
        ``gc_temps``) — a bulk write legitimately in flight past that
        horizon would have its temps reclaimed by a concurrent
        compact() and lose the write silently. Deployments
        with longer-running writers must raise ``gc_temp_age_sec``
        above their worst-case write duration, or pass 0 to make
        compact() side-effect-free and run ``gc_temps`` on their own
        schedule. The same contract governs standalone ``gc_temps``.
        """
        if gc_temp_age_sec > 0:
            self.gc_temps(max_age_sec=gc_temp_age_sec)
        dirs = [
            d
            for _, _, d in walk_chunk_dirs(self.path)
            if len(visible_chunk_files(d)) >= min_files
        ]
        if not dirs:
            return 0
        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        return int(
            sc.parallelize(dirs, n_slices).map(_merge_chunk_dir).sum()
        )

    def maintenance_stats(self) -> DataFrame:
        """Per-chunk-dir maintenance view — the table an operator
        queries to decide WHERE to compact: visible file count and
        bytes (feeds ``plans.layout.compaction_plan`` thresholds) plus
        in-flight/orphaned dot-prefixed temp count. Dir names list on
        the driver (pure metadata, same as ``compact``); per-dir stat
        work parallelizes over executors, so millions of chunk dirs
        stat at cluster width, not driver speed. Vanished files/dirs
        (concurrent delete or compact) are tolerated."""
        dirs = list(walk_chunk_dirs(self.path))
        schema = "array_id string, chunk_idx long, n_files long, bytes long, n_temp long"
        if not dirs:
            return self.spark.createDataFrame([], schema)

        def _stat(entry: tuple[str, int, str]):
            import os as _os

            array_id, chunk_idx, d = entry
            try:
                names = _os.listdir(d)
            except FileNotFoundError:
                return None
            vis = [f for f in names if is_visible_chunk_file(f)]
            n_temp = sum(1 for f in names if is_staged_chunk_file(f))
            total = 0
            for f in vis:
                try:
                    total += _os.path.getsize(_os.path.join(d, f))
                except FileNotFoundError:
                    pass
            return array_id, chunk_idx, len(vis), total, n_temp

        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        rows = sc.parallelize(dirs, n_slices).map(_stat).filter(
            lambda r: r is not None
        )
        return self.spark.createDataFrame(rows, schema)

    def gc_temps(self, max_age_sec: float = 86400.0) -> int:
        """Reclaim dot-prefixed temp files orphaned by CRASHED writes.

        Publish-time GC is scoped to each write's own write_id-stamped
        temp names (:func:`publish_staged`), so a write that dies before
        its publish leaves temps nobody else may touch — invisible to
        every reader, but disk they hold is real. This explicit
        maintenance pass removes every :func:`is_staged_chunk_file`
        temp older than ``max_age_sec``. The age gate is the safety
        contract: run it only with ``max_age_sec`` comfortably above
        the longest write a live job could still be executing (default
        one day). Distributed the same way as ``maintenance_stats`` —
        driver lists dirs (metadata), executors stat and delete."""
        dirs = [d for _, _, d in walk_chunk_dirs(self.path)]
        if not dirs:
            return 0
        cutoff = time.time() - float(max_age_sec)

        def _gc(d: str) -> int:
            import os as _os

            removed = 0
            try:
                names = _os.listdir(d)
            except FileNotFoundError:
                return 0
            for f in names:
                if not is_staged_chunk_file(f):
                    continue
                p = _os.path.join(d, f)
                try:
                    if _os.path.getmtime(p) < cutoff:
                        _os.remove(p)
                        removed += 1
                except OSError:
                    # skip-and-continue: a vanished/unreadable/undeletable
                    # file (racing writer, permissions, stale NFS handle,
                    # EIO) must not abort the whole maintenance sweep and
                    # lose the count of temps already reclaimed
                    pass
            return removed

        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        return sc.parallelize(dirs, n_slices).map(_gc).sum()

    def delete_array(self, array_id: str) -> None:
        """Drop all chunk partitions of one array (metadata-cheap: a
        directory delete, no data rewrite) and their driver-side cache
        entries."""
        import shutil

        d = chunk_dir(self.path, array_id)
        shutil.rmtree(d, ignore_errors=True)
        drop_cached(d)

    def read_slice(
        self,
        array_id: str,
        grid: ChunkGrid,
        norm: list[tuple[int, int, bool]],
        np_dtype: np.dtype,
        max_points: int = DEFAULT_MAX_POINTS,
        fill_value: float = np.nan,
    ) -> np.ndarray:
        """The box ``norm`` of one array as an ndarray, read on the
        driver with no Spark job. Isolation matches the ``deker``
        source: read-committed per chunk (see :func:`read_chunk_files`).

        Chunk dirs come through the driver-side cache
        (:func:`read_chunk_dir`): every request lists and stats each
        overlapped dir's files, and reuses the decoded runs only if
        that ``(name, size, mtime_ns, inode)`` signature is exactly the
        cached one. While the hot chunks fit ``CHUNK_CACHE_BYTES`` a
        repeated read decodes no parquet; past it a read pays the
        decode plus one ``stat`` per file. A read replays at most the
        runs of ``FOLD_FILES`` files per chunk, since an update folds a
        dir that would hold more."""
        out_shape_full = [stop - start for start, stop, _ in norm]
        n_points = math.prod(out_shape_full)
        if n_points > max_points:
            raise DekerDataPointsLimitError(
                "Requested object is too large, use smaller subset",
                limit=max_points,
                requested=n_points,
            )
        lo = [start for start, _, _ in norm]
        # cells no stored run covers read as the ARRAY'S fill value:
        # engine-created arrays materialize full chunks so this never
        # surfaces there, but the deker writer's bulk appends are
        # sparse — Deker semantics say unwritten cells ARE fill_value
        out = np.full(out_shape_full, fill_value, dtype=np.float64)
        # one chunk dir at a time: driver memory is the output, one
        # chunk's runs and the bounded chunk cache; runs in different
        # dirs never overlap
        idxs, n_runs = grid.overlapping_chunks(norm), 0
        for idx in idxs:
            runs = read_chunk_dir(chunk_dir(self.path, array_id, idx))
            n_runs += len(runs)
            place_runs(runs, lo, out)
        _count(chunk_reads=len(idxs), runs_replayed=n_runs)
        squeeze_axes = tuple(d for d, (_, _, sq) in enumerate(norm) if sq)
        if squeeze_axes:
            out = out.squeeze(axis=squeeze_axes)
        return out.astype(np_dtype)

    def update_slice(
        self,
        array_id: str,
        grid: ChunkGrid,
        norm: list[tuple[int, int, bool]],
        data: np.ndarray | float,
    ) -> None:
        """Subset update on the driver, with no Spark job: each
        overlapped chunk dir gets one new file holding the update's piece
        of it as one run (a delta run), stamped newer than every run
        before it. The pieces are staged and then published together;
        nothing is removed, so a crash leaves each chunk's delta absent
        or whole, and a concurrent reader sees each chunk before or
        after (read-committed per chunk). A write that fails before its
        publish leaves no temp behind. ``clear`` takes the same path.

        The delta costs only its piece's bytes: when the driver-side
        cache holds the listing the update saw, the entry is extended
        with the delta run, so neither this update nor the next read
        decodes the chunk. A dir left holding more than ``FOLD_FILES``
        files is folded by :func:`_merge_chunk_dir`, once per
        ``FOLD_FILES`` updates of a chunk."""
        out_shape = [stop - start for start, stop, _ in norm]
        if isinstance(data, (int, float)):
            patch = np.full(out_shape, float(data), dtype=np.float64)
        else:
            # callers pass patches in the squeezed shape (int-indexed
            # dims dropped, numpy indexing convention); broadcast there
            # first, then restore the dropped axes
            squeezed = [
                stop - start for start, stop, sq in norm if not sq
            ]
            patch = np.broadcast_to(np.asarray(data, dtype=np.float64), squeezed)
            patch = patch.reshape(out_shape)
        lo = [start for start, _, _ in norm]
        seq = next_write_seq()  # one stamp per update; the pieces are disjoint
        prefix = staged_prefix(uuid.uuid4().hex[:16])
        idxs = grid.overlapping_chunks(norm)
        deltas = []
        try:
            for idx in idxs:
                box = [
                    (max(a, start), min(b, stop))
                    for (a, b), (start, stop, _) in zip(grid.chunk_box(idx), norm)
                ]
                # a private C-order copy: the cache may keep it, read-only
                piece = np.array(patch[tuple(slice(a - l, b - l) for (a, b), l in zip(box, lo))])
                piece.setflags(write=False)
                run = (seq, np.array([a for a, _ in box], np.int64), piece.shape, piece.ravel())
                d = chunk_dir(self.path, array_id, idx)
                before = _signature(visible_chunk_files(d))
                tmp = stage_chunk_file(d, encode_runs([run]), f"{prefix}{idx}.parquet")
                deltas.append((d, before, tmp, run))
            publish_staged([(tmp, appended_name(tmp)) for _, _, tmp, _ in deltas], prefix)
        except BaseException:
            discard_staged([chunk_dir(self.path, array_id, idx) for idx in idxs], prefix)
            raise
        _count(delta_appends=len(deltas))
        for d, before, tmp, run in deltas:
            if before is not None:
                _cache_append(d, before, appended_name(tmp), run)
            if len(visible_chunk_files(d)) > FOLD_FILES:
                _merge_chunk_dir(d)

    def _chunks_with_overlapping_runs(self, array_ids: Sequence[str] | None) -> dict[str, list[int]]:
        """Per array id, the chunk indices whose runs overlap, read on
        the driver from only the ``origin``/``shape`` columns of each
        chunk dir's files (every array's dirs when ``array_ids`` is
        None). A dir a fold rewrites under the read counts as
        overlapping: the resolving plan is right for any dir."""
        out: dict[str, list[int]] = {}
        for array_id, idx, d in walk_chunk_dirs(self.path, array_ids):
            origins, shapes = [], []
            try:
                for p in visible_chunk_files(d):
                    with pq.ParquetFile(p) as f:
                        t = f.read(columns=["origin", "shape"])
                    if t.num_rows:
                        origins.append(_list_rows(t.column("origin")))
                        shapes.append(_list_rows(t.column("shape")))
            except FileNotFoundError:
                origins = shapes = None
            if origins is None or (
                origins and runs_overlap(np.concatenate(origins), np.concatenate(shapes))
            ):
                out.setdefault(array_id, []).append(idx)
        return out

    def cell_df(self, array_ids: Sequence[str] | None, dim_names: Sequence[str]) -> DataFrame:
        """Long-format view of the arrays ``array_ids`` (every array of
        the collection when None): one ``(array_id, dims..., value)``
        row per written cell, pure-JVM index math (each run's ``data``
        exploded with its positions, then div/mod over the run shape) —
        no Python in the path, so arrays compose with SQL at full
        codegen speed. The ids filter the ``array_id`` partition
        column, so the scan reads only those arrays' dirs.

        Each cell resolves LAST-WRITE-WINS, as in ``read_data``. Chunk
        dirs whose runs do not overlap
        (:meth:`_chunks_with_overlapping_runs`, a driver-side read of
        the run boxes) keep the plain plan, with no shuffle. Only dirs
        with overlapping runs (delta runs of updates not yet folded,
        overlapping ``deker`` appends) take a ``max_by(value, (seq,
        file name, row))`` aggregate over the array id and cell
        coordinates — ``read_slice``'s placement order — and the two
        plans are unioned."""
        df = self.spark.read.schema(CHUNK_SCHEMA).parquet(self.path)
        if array_ids is not None:
            df = df.filter(F.col("array_id").isin(list(array_ids)))
        overlapping = self._chunks_with_overlapping_runs(array_ids)
        n = len(dim_names)
        strides = []
        for d in range(n):
            expr = "1L"
            for d2 in range(d + 1, n):
                expr = f"{expr} * shape[{d2}]"
            strides.append(expr)
        cols = [
            (F.expr(f"origin[{d}] + (pos DIV ({strides[d]})) % shape[{d}]")).alias(dim_names[d])
            for d in range(n)
        ]
        cells = F.posexplode("data").alias("pos", "value")
        plain = df
        if overlapping:
            in_overlap = functools.reduce(
                operator.or_,
                [(F.col("array_id") == a) & F.col("chunk_idx").isin(idxs) for a, idxs in overlapping.items()],
            )
            plain = df.filter(~in_overlap)
        plain = plain.select("array_id", "origin", "shape", cells).select("array_id", *cols, "value")
        if not overlapping:
            return plain
        placed = F.struct(
            F.coalesce(F.col("seq"), F.lit(-1)),
            F.col("_metadata.file_name"),
            F.col("_metadata.row_index"),
        )
        resolved = (
            df.filter(in_overlap)
            .select("array_id", "origin", "shape", placed.alias("__placed"), cells)
            .select("array_id", *cols, "value", "__placed")
            .groupBy("array_id", *dim_names)
            .agg(F.max_by("value", "__placed").alias("value"))
        )
        return plain.unionByName(resolved)
