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
  any set of arrays, planned from the directory listing alone;
- *run replay*: ``ordered_runs`` is the one placement order, and
  ``place_runs`` places a chunk's runs into a box, last write winning,
  for ``read_slice``; ``replay_runs`` resolves a whole chunk that way
  for the fold, and ``chunk_cells`` turns it into a dir's written
  cells for ``cell_df`` and the ``deker`` batch reader alike.

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
  stage per task and publish at commit. Cells that are not a whole
  chunk become runs through one encoder, ``written_runs``: one run
  when the written cells fill their bounding box, else one run per
  segment along the last dimension. The ``deker`` writers and the fold
  both use it.
- A subset write appends, also on the driver with no Spark job: each
  overlapped chunk dir gets one new file holding the update's piece of
  it as one run stamped newest (a *delta run*), the log-structured form
  of Deker's subset PUT (reference base.py:272-303). Nothing is
  removed, so an update has no crash window. Once a dir holds more than
  ``FOLD_FILES`` files, the update *folds* it: ``_merge_chunk_dir``
  replays the dir's runs last-write-wins (``place_runs``) and rewrites
  it as one file of the replayed cells, encoded by ``written_runs`` (no
  two runs overlap; a dense chunk folds to one run). ``compact`` runs
  the same fold on executors.
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
  It is last-write-wins like ``read_data``. A file's runs never overlap
  (:func:`encode_runs`), so only a chunk dir of two or more files can
  hold a cell twice: the driver picks those dirs from the listing,
  without opening a file, and replays each one in a ``mapInArrow``
  task (:func:`chunk_cells`); every other dir keeps the plain,
  shuffle-free plan.
- One store format is read: the one every writer above produces, in
  which every run carries a ``seq`` and the runs of one file are
  pairwise disjoint. Chunk stores written before that format held are
  unsupported.
- ``stats()`` snapshots the module's counters: cache hits, misses,
  evictions and cached bytes, delta appends, folds, and the chunk reads
  and runs they replayed.
"""

from __future__ import annotations

import math
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
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deker_server_adapters_spark.core.errors import (
    DekerDataPointsLimitError,
    DekerSessionRequiredError,
    DekerSubsetError,
)
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
        # writer stamps it (next_write_seq: a ~ms clock, one stamp per
        # write event or writer task, whose runs are disjoint), so
        # ordering is explicit in the data — not derived from file names,
        # which neither Spark's scan (size-packed splits) nor compaction
        # (merged files) preserves. Write events that land in the same
        # ~ms on different writers are mutually unordered, same as any
        # two uncoordinated appends.
        StructField("seq", LongType(), False),
    ]
)

_SEQ_COUNTER_BITS = 20
_SEQ_LOCK = threading.Lock()
_SEQ_LAST = 0


def next_write_seq() -> int:
    """Placement stamp for one write event: wall-clock nanoseconds with
    the ``_SEQ_COUNTER_BITS`` low bits cleared, ~ms granularity. Fits
    int64 until ~year 2150.

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
    dot-prefixed, so every reader, compaction and stat skips them until
    a rename publishes them."""
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
    """(offsets, flat values) of a list column as zero-copy NumPy views."""
    return col.offsets.to_numpy(), col.values.to_numpy()


def chunk_runs(table: pa.Table) -> Iterator[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """``(seq, origin, shape, values)`` for each run row of one chunk
    file, in row order. ``values`` is a flat, read-only view of the
    file's ``data`` list."""
    for batch in table.to_batches():
        seqs = batch.column("seq").to_numpy().tolist()
        o_off, o_val = _list_parts(batch.column("origin"))
        s_off, s_val = _list_parts(batch.column("shape"))
        d_off, d_val = _list_parts(batch.column("data"))
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
    order) in LAST-WRITE-WINS placement order: ascending ``(seq, file
    name, row index)``. Runs that share a stamp come from one write
    event or one fold, and are disjoint, except across a fold's crash
    window, where the (file, row) order keeps the fold's output, which
    sorts last, over the files it replaces. Runs in different chunk dirs
    never overlap, so per-dir replay equals one global sort."""
    runs = [run for t in tables for run in chunk_runs(t)]
    runs.sort(key=_run_seq)  # stable: ties keep (file, row) order
    return runs


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


def replay_runs(runs: Sequence[tuple]) -> tuple[list[int], np.ndarray, np.ndarray]:
    """``(lo, values, written)``: one chunk dir's placement-ordered
    ``runs`` (:func:`ordered_runs`, at least one) replayed by
    :func:`place_runs` into a buffer over their bounding box at ``lo``,
    at most the chunk's extent, with the mask of the cells they write.
    The fold and :func:`chunk_cells` resolve a chunk's cells through
    here."""
    origins = np.array([r[1] for r in runs], np.int64)
    ends = origins + np.array([r[2] for r in runs], np.int64)
    lo = origins.min(axis=0).tolist()
    values = np.empty(ends.max(axis=0) - lo)
    written = np.zeros(values.shape, bool)
    place_runs(runs, lo, values, written)
    return lo, values, written


def chunk_cells(paths: Sequence[str]) -> tuple[np.ndarray, np.ndarray] | None:
    """``(coords, values)``: the cells one chunk dir's files ``paths``
    write, each once with its last-written value — ``coords`` the
    ``(ndim, n)`` absolute cell indices. The files are read through
    :func:`read_chunk_files` and replayed through :func:`replay_runs`;
    None when the dir holds no run (deleted or emptied since its
    listing). ``cell_df`` and the ``deker`` batch reader resolve a dir
    through here."""
    runs = ordered_runs(read_chunk_files(paths)[1])
    if not runs:
        return None
    lo, values, written = replay_runs(runs)
    return np.argwhere(written).T + np.asarray(lo, np.int64)[:, None], values[written]


def written_runs(seq: int, lo: Sequence[int], values: np.ndarray, written: np.ndarray) -> list:
    """The one cells-to-runs encoder: the cells of ``values``, the box at
    ``lo``, that the boolean ``written`` marks, as pairwise disjoint runs
    stamped ``seq`` — one run over the bounding box of the written cells
    when they fill it, else one run per maximal segment along the last
    dimension. Run values are read-only views of ``values`` (a copy only
    when a dense run's box is not contiguous in it). The fold and the
    ``deker`` writer both encode through here."""
    box = []
    for d in range(written.ndim):
        hit = np.flatnonzero(written.any(axis=tuple(a for a in range(written.ndim) if a != d)))
        if not len(hit):
            return []
        box.append(slice(int(hit[0]), int(hit[-1]) + 1))
    values, written = values[tuple(box)], written[tuple(box)]
    lo = np.array([int(a) + b.start for a, b in zip(lo, box)], np.int64)
    if written.all():
        values = np.ascontiguousarray(values)
        values.setflags(write=False)
        return [(seq, lo, values.shape, values.ravel())]
    values.setflags(write=False)
    # +1 where a segment starts along the last dimension, -1 past its end
    pad = [(0, 0)] * (written.ndim - 1) + [(1, 1)]
    edges = np.diff(np.pad(written, pad).astype(np.int8), axis=-1)
    starts, stops = np.argwhere(edges == 1), np.argwhere(edges == -1)[:, -1]
    ones = (1,) * (written.ndim - 1)
    return [
        (seq, lo + at, ones + (stop - at[-1],), values[tuple(at[:-1])][at[-1] : stop])
        for at, stop in zip(starts.tolist(), stops.tolist())
    ]


def _list_array(parts: list, type_: pa.DataType) -> pa.ListArray:
    offsets = np.cumsum([0] + [len(p) for p in parts], dtype=np.int32)
    flat = np.concatenate(parts) if parts else []
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, type_))


def encode_runs(runs: Iterable[tuple[int, Sequence[int], Sequence[int], np.ndarray]]) -> pa.Table:
    """The one chunk-file encoding: a row per ``(seq, origin, shape,
    values)`` run, ``values`` flat in C order — what :func:`chunk_runs`
    reads back. Every writer of chunk files encodes through here.

    Invariant: the runs of one file are pairwise disjoint. Each writer
    passes one dense run, one delta run or the :func:`written_runs` of
    one box, so a cell is written at most once per file, and only a
    chunk dir holding two or more files can hold a cell twice — the
    one kind of dir ``cell_df`` replays."""
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
    a crash. Other dotfiles are not."""
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
    """Fold one chunk-partition dir of two or more files into a single
    file — the one rewrite. An update runs it on the driver once the dir
    holds more than ``FOLD_FILES`` files; ``compact`` runs it on
    executors. Returns 1 if the dir was rewritten.

    - The fold *replays* the dir's runs last-write-wins with
      :func:`replay_runs` into one buffer over the runs' bounding box
      (at most the chunk's extent) and encodes the written cells with
      :func:`written_runs`: no two output runs overlap, and a chunk the
      runs fill, such as a dense chunk with its deltas or a ``deker``
      chunk written row by row, folds to one run.
    - Every output run is stamped with the oldest ``seq`` the fold
      replaces, as if the newer runs were written into the oldest one.
      Race window: a write stamped before the fold lists the dir but
      published after it is newer than the output, so it overrides the
      output's cells, even those a replaced run newer than that write
      held (a long ``deker`` append racing updates that fold the chunk).
      Keeping each cell's own ``seq`` would close it.
    - The runs come from the driver-side cache when it holds this
      listing (the update that folds just extended it), and the output
      is then written through; otherwise the files are read through
      ``read_chunk_files``, so a file that vanishes mid-read re-lists
      the dir, and only the files actually read are replaced.
    - Publish order: the output is staged and published whole like
      every chunk file, then the replaced files go. A reader that sees
      both (mid-fold, or after a crash before the removal) replays the
      replaced runs and the output's runs; the output sorts after every
      replaced file and every run newer than an output run is still
      there, so each cell resolves to its last write, and the next fold
      heals the dir. A crashed fold's temp is GC'd by the next fold of
      the dir.
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
    if runs:
        runs = written_runs(runs[0][0], *replay_runs(runs))  # the oldest seq replaced
    out = os.path.join(d, _rewrite_name(paths))
    tmp = stage_chunk_file(d, encode_runs(runs), f".{os.path.basename(out)}.tmp")
    publish_staged([(tmp, out)], _REWRITE_TMP)
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    _count(folds=1)
    sig = _signature([out])
    if hit and sig is not None:
        _cache_put(d, sig, runs)
    return 1


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def _sql_in(expr: str, values: Iterable[str]) -> Column:
    """``expr IN (values...)`` as one SQL expression, each value a
    Spark SQL string literal: one Py4J call however many values, where
    ``Column.isin`` makes one per value. Over partition columns it is a
    static partition filter, like ``isin``'s."""
    literals = ["'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values]
    if not literals:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(literals)})")


def require_session(spark: SparkSession | None, op: str) -> SparkSession:
    """``spark``, or an error naming ``op``: the one check each op that
    runs Spark makes, since the request path serves a ``Warehouse``
    built with no session."""
    if spark is None:
        raise DekerSessionRequiredError(f"{op} needs a SparkSession; this Warehouse has none")
    return spark


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
        driver: the dir's runs are replayed last-write-wins and encoded
        again, so a compacted dir holds no two overlapping runs, and a
        chunk its runs fill holds one. Placement semantics
        survive because run precedence is the explicit ``seq`` column,
        not file order.
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
        sc = require_session(self.spark, "compact").sparkContext
        if gc_temp_age_sec > 0:
            self.gc_temps(max_age_sec=gc_temp_age_sec)
        dirs = [
            d
            for _, _, d in walk_chunk_dirs(self.path)
            if len(visible_chunk_files(d)) >= max(min_files, 2)
        ]
        if not dirs:
            return 0
        n_slices = min(len(dirs), sc.defaultParallelism)
        return int(sc.parallelize(dirs, n_slices).map(_merge_chunk_dir).sum())

    def maintenance_stats(self) -> DataFrame:
        """Per-chunk-dir maintenance view — the table an operator
        queries to decide WHERE to compact: visible file count and
        bytes (feeds ``plans.layout.compaction_plan`` thresholds) plus
        in-flight/orphaned dot-prefixed temp count. The driver lists
        and stats every dir, as ``compact`` lists them. Vanished
        files/dirs (concurrent delete or compact) are tolerated."""
        spark = require_session(self.spark, "maintenance_stats")
        rows = []
        for array_id, chunk_idx, d in walk_chunk_dirs(self.path):
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                continue
            vis = [f for f in names if is_visible_chunk_file(f)]
            total = 0
            for f in vis:
                try:
                    total += os.path.getsize(os.path.join(d, f))
                except FileNotFoundError:
                    pass
            rows.append((array_id, chunk_idx, len(vis), total, sum(map(is_staged_chunk_file, names))))
        return spark.createDataFrame(
            rows, "array_id string, chunk_idx long, n_files long, bytes long, n_temp long"
        )

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
        one day). Pure file I/O on the driver, like ``compact``'s
        listing."""
        cutoff = time.time() - float(max_age_sec)
        removed = 0
        for _, _, d in walk_chunk_dirs(self.path):
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                continue
            for f in filter(is_staged_chunk_file, names):
                p = os.path.join(d, f)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed += 1
                except OSError:
                    # skip-and-continue: a vanished/unreadable/undeletable
                    # file (racing writer, permissions, stale NFS handle,
                    # EIO) must not abort the whole maintenance sweep and
                    # lose the count of temps already reclaimed
                    pass
        return removed

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

    def cell_df(self, array_ids: Sequence[str] | None, dim_names: Sequence[str]) -> DataFrame:
        """Long-format view of the arrays ``array_ids`` (every array of
        the collection when None): one ``(array_id, dims..., value)``
        row per written cell, each resolved LAST-WRITE-WINS as in
        ``read_data``.

        The driver lists the chunk dirs (``walk_chunk_dirs``, pruned to
        the given ids) and their visible files, and opens none. A file's
        runs never overlap (:func:`encode_runs`), so a dir of one file
        takes the plain plan: a scan of the chunk dataset, each run's
        ``data`` exploded with its positions and div/mod over the run
        shape — pure-JVM index math, no Python and no shuffle, with the
        ids as an ``array_id`` partition filter. A dir of two or more
        files (unfolded update deltas, ``deker`` appends) is left out of
        that scan by a second partition filter and replayed instead: one
        ``mapInArrow`` over the ``(array_id, files)`` table, each task
        resolving one dir at a time through :func:`chunk_cells`, as the
        ``deker`` source does. A task holds one dir's runs and one
        buffer of at most the chunk's extent. The two plans are unioned.

        Both plans read the listing made here, so a re-executed
        DataFrame reads each chunk as planned, or, where a fold has
        removed a planned file since, as the fold left it
        (``read_chunk_files`` re-lists)."""
        with _LISTING_LOCK:
            # list on the driver, as walk_chunk_dirs does: past 32
            # paths Spark lists in a job of one task per array dir.
            # Only for this read; measured on a local filesystem.
            conf = self.spark.conf
            was = conf.get(_LISTING_THRESHOLD, None)
            conf.set(_LISTING_THRESHOLD, str(2**31 - 1))
            try:
                df = self.spark.read.schema(CHUNK_SCHEMA).parquet(self.path)
            finally:
                if was is None:
                    conf.unset(_LISTING_THRESHOLD)
                else:
                    conf.set(_LISTING_THRESHOLD, was)
        if array_ids is not None:
            df = df.filter(_sql_in("array_id", array_ids))
        replayed = [
            (array_id, idx, files)
            for array_id, idx, d in walk_chunk_dirs(self.path, array_ids)
            if len(files := visible_chunk_files(d)) > 1
        ]
        if replayed:
            # a chunk index holds no "/", so a key names one dir
            key = "concat_ws('/', array_id, CAST(chunk_idx AS STRING))"
            df = df.filter(~_sql_in(key, [f"{a}/{i}" for a, i, _ in replayed]))
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
        plain = df.select("array_id", "origin", "shape", F.posexplode("data").alias("pos", "value"))
        plain = plain.select("array_id", *cols, "value")
        if not replayed:
            return plain
        schema = StructType(
            [StructField("array_id", StringType())]
            + [StructField(name, LongType()) for name in dim_names]
            + [StructField("value", DoubleType())]
        )

        def replay(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for array_id, files in zip(batch.column("array_id").to_pylist(), batch.column("files").to_pylist()):
                    cells = chunk_cells(files)
                    if cells is None:
                        continue
                    coords, values = cells
                    yield pa.RecordBatch.from_arrays(
                        [pa.repeat(pa.scalar(array_id), len(values))]
                        + [pa.array(c) for c in coords]
                        + [pa.array(values)],
                        names=schema.names,
                    )

        dirs = self.spark.createDataFrame(
            [(a, files) for a, _, files in replayed], "array_id string, files array<string>"
        )
        return plain.unionByName(dirs.mapInArrow(replay, schema))
