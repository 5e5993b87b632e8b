"""Chunked-parquet storage for N-d arrays.

Layout (one dataset per collection):

    {collection}/chunks/array_id=<id>/chunk_idx=<k>/*.parquet
        origin: array<long>   -- grid origin of this chunk (per dim)
        shape:  array<long>   -- chunk shape (per dim)
        data:   array<double> -- C-order flattened cells

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
- A subset write is copy-on-write at chunk granularity, also on the
  driver with no Spark job: each overlapped chunk dir is rewritten as
  one new file holding its patched runs, published by rename before
  the files it replaces are removed, mirroring Deker's subset PUT
  (reference base.py:272-303). ``compact`` runs the same rewrite,
  without a patch, on executors.
- Decoded chunk dirs stay in one process-wide LRU cache on the driver
  (the role of HDF5's raw-data chunk cache), bounded at
  ``CHUNK_CACHE_BYTES`` of ``pa.Table.nbytes``; a dir larger than the
  budget is not cached. Every request lists and stats the dir's
  visible files and hits only on an identical ``(name, size,
  mtime_ns, inode)`` signature, so any writer, in this process or
  another, makes the next request miss; array and collection deletes
  drop their entries only to free memory. Only the driver's
  ``read_slice`` and ``update_slice`` use it; ``compact`` and the
  ``deker`` source read uncached on executors.
- ``cell_df`` exposes any array as a long-format DataFrame
  (dim indices + value) with pure-JVM index arithmetic, so arrays
  join/aggregate with relational tables in one Catalyst plan.
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

    A planned file that vanishes before it is opened means ``compact``
    or an update rewrote the dir, or ``delete_array`` dropped the
    chunk. Skipping it would silently drop its cells, so the dir is
    re-listed (with backoff, so a steady rewrite cadence can drain) and
    the CURRENT visible set is read — the rewritten file carries every
    removed run. A read racing writers is therefore read-committed per
    chunk, not a snapshot; a dir that is gone reads as empty."""
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


# The driver-side chunk cache (see the module docstring). Entries are
# keyed by absolute dir path at module level, so every ChunkStore in
# the process shares them: ``Array`` builds a new adapter per call.
# Cached tables are only ever read: ``chunk_runs`` hands out read-only
# views and ``_patched`` copies before it writes.
CHUNK_CACHE_BYTES = 256 << 20  # budget in pa.Table.nbytes
_CACHE_LOCK = threading.Lock()
_CACHE: OrderedDict[str, tuple[tuple, list[pa.Table], int]] = OrderedDict()
_cache_nbytes = 0


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


def _cache_put(d: str, sig: tuple, tables: list[pa.Table]) -> None:
    """Cache ``tables`` as dir ``d`` under ``sig``, evicting least
    recently used dirs past the budget; a dir larger than the whole
    budget is not cached (and its stale entry goes)."""
    global _cache_nbytes
    nbytes = sum(t.nbytes for t in tables)
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        old = _CACHE.pop(key, None)
        if old is not None:
            _cache_nbytes -= old[2]
        if nbytes > CHUNK_CACHE_BYTES:
            return
        _CACHE[key] = (sig, tables, nbytes)
        _cache_nbytes += nbytes
        while _cache_nbytes > CHUNK_CACHE_BYTES:
            _cache_nbytes -= _CACHE.popitem(last=False)[1][2]


def drop_cached(d: str) -> None:
    """Drop the cache entries of dir ``d`` and of every dir under it —
    the memory of a deleted array or collection."""
    global _cache_nbytes
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        for k in [k for k in _CACHE if k == key or k.startswith(key + os.sep)]:
            _cache_nbytes -= _CACHE.pop(k)[2]


def read_chunk_dir(d: str) -> tuple[list[str], list[pa.Table]]:
    """:func:`read_chunk_files` of dir ``d``'s current listing, through
    the driver-side cache. The signature is taken before the files are
    read, so an entry never holds tables older than its signature. A
    miss is cached only when the files read are exactly the listing; a
    file gone by the stat falls back to the relisting read, uncached."""
    paths = visible_chunk_files(d)
    sig = _signature(paths)
    if sig is None:
        return read_chunk_files(paths)
    key = os.path.abspath(d)
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if hit is not None and hit[0] == sig:
            _CACHE.move_to_end(key)
            return paths, hit[1]
    read, tables = read_chunk_files(paths)
    if paths and read == paths:
        _cache_put(d, sig, tables)
    return read, tables


def _list_parts(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, flat values) of a list column as NumPy views; null
    elements (none of the engine's writers produce them) read as NaN."""
    values = col.values
    return col.offsets.to_numpy(), values.to_numpy(zero_copy_only=values.null_count == 0)


def chunk_runs(table: pa.Table) -> Iterator[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """``(seq, origin, shape, values)`` for each run row of one chunk
    file, in row order. ``values`` is a flat, read-only, zero-copy view
    of the file's ``data`` list; ``seq`` is -1 for legacy seq-less rows
    (the oldest)."""
    for batch in table.to_batches():
        seqs = (
            batch.column("seq").fill_null(-1).to_numpy().tolist()
            if "seq" in batch.schema.names
            else [-1] * batch.num_rows
        )
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


def ordered_runs(tables: Sequence[pa.Table]) -> list[tuple[int, np.ndarray, tuple, np.ndarray]]:
    """Every run of one chunk dir's files (given in ascending file-name
    order) in LAST-WRITE-WINS placement order: ascending
    ``(coalesce(seq, -1), file name, row index)``. Stamped runs order by
    ``seq`` alone (the within-task counter makes them strictly
    increasing); legacy -1 runs fall back to sorted-file-name rank,
    the same rank ``_merge_chunk_dir`` synthesizes, so a rewrite never
    changes which legacy run wins. Runs in different chunk dirs never
    overlap, so per-dir replay equals one global sort."""
    runs = [run for t in tables for run in chunk_runs(t)]
    runs.sort(key=lambda run: run[0])  # stable: ties keep (file, row) order
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


def _patched(runs: list, origin: Sequence[int], values: np.ndarray) -> list:
    """``runs`` with the box ``values`` at ``origin`` written into each
    run's overlap, every ``seq`` kept. Cells of the box that no run
    holds (a sparse ``deker`` append) make the whole box one more run,
    stamped newest, so an update never drops a write."""
    hi = [a + n for a, n in zip(origin, values.shape)]
    covered = np.zeros(values.shape, dtype=bool)
    out = []
    for seq, run_origin, shape, data in runs:
        hit = _overlap(run_origin.tolist(), shape, origin, hi)
        if hit is not None:
            data = data.copy()  # chunk_runs hands out read-only views
            data.reshape(shape)[hit[0]] = values[hit[1]]
            covered[hit[1]] = True
        out.append((seq, run_origin, shape, data))
    if not covered.all():
        out.append((next_write_seq(), np.asarray(origin), values.shape, values.ravel()))
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


def _merge_chunk_dir(d: str, patch: tuple[Sequence[int], np.ndarray] | None = None) -> int:
    """Rewrite one chunk-partition dir as a single file — the one
    copy-on-write primitive. ``compact`` calls it on executors with no
    ``patch`` (a dir with fewer than two files is left alone);
    ``update_slice`` calls it on the driver with ``patch``, a box's
    origin and its values, inside this chunk. Returns 1 if the dir was
    rewritten.

    - Placement order survives because it lives in the explicit ``seq``
      column, kept for every run; a legacy run without ``seq`` gets its
      rank in sorted-file-name order (the legacy visit-order
      convention), so it stays older than every stamped run and keeps
      its precedence among legacy runs.
    - Runs are read through ``read_chunk_files``, so a file that
      vanishes mid-read re-lists the dir; only the files actually read
      are replaced.
    - Publish order: the output is staged and published whole like
      every chunk file, then the replaced files go, each after its
      Hadoop ``.crc`` companion (stores written by Spark's parquet
      writer have them). The output name sorts after every replaced
      file, so a reader that sees both (mid-rewrite, or after a crash
      before the removal) resolves equal-``seq`` runs to the rewritten
      values, and so does the next rewrite, which heals the dir. A
      crashed rewrite's temp is GC'd by the next rewrite of the dir.
    - In-flight writer temps are never touched, and a file committed
      after the listing is kept. Two concurrent rewrites of the SAME
      dir (an update racing ``compact``) are unsupported.
    """
    if patch is None:
        paths, tables = read_chunk_files(visible_chunk_files(d))
        if len(paths) < 2:
            return 0
    else:
        paths, tables = read_chunk_dir(d)
    runs = [
        (rank if seq < 0 else seq, origin, shape, data)
        for rank, t in enumerate(tables)
        for seq, origin, shape, data in chunk_runs(t)
    ]
    if patch is not None:
        runs = _patched(runs, *patch)
    merged = encode_runs(runs)
    out = os.path.join(d, _rewrite_name(paths))
    tmp = stage_chunk_file(d, merged, f".{os.path.basename(out)}.tmp")
    publish_staged([(tmp, out)], _REWRITE_TMP)
    for p in paths:
        # the companion first: a crash in between leaves a file without
        # its checksum (read unverified), never a checksum without a file
        for q in (os.path.join(d, f".{os.path.basename(p)}.crc"), p):
            try:
                os.remove(q)
            except FileNotFoundError:
                pass
    if patch is not None:
        # write-through: the next request for this chunk is a hit while
        # the rewrite's file is all the dir holds
        sig = _signature([out])
        if sig is not None:
            _cache_put(d, sig, [merged])
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

    def scan(self, array_id: str, chunk_idxs: list[int] | None = None) -> DataFrame:
        df = self.spark.read.schema(CHUNK_SCHEMA).parquet(self.path)
        df = df.filter(F.col("array_id") == array_id)
        if chunk_idxs is not None:
            df = df.filter(F.col("chunk_idx").isin([int(i) for i in chunk_idxs]))
        return df

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
        each dir is rewritten independently (bounded by one chunk's
        bytes) by ``_merge_chunk_dir``, the same rewrite a subset update
        runs on the driver, here without a patch. Placement semantics
        survive the merge because run precedence is the explicit ``seq``
        column, not file order (legacy seq-less rows get a synthesized
        rank). Crash window: a failure between publishing the merged
        file and removing the inputs leaves duplicate RUNS; the merged
        file sorts last, so reads resolve to its values, and the next
        rewrite of the dir heals it.

        Concurrency: safe alongside an active ``writeStream`` — a
        writer task's in-flight dot-prefixed temp files are invisible
        here (and to every reader) until its commit renames them, and a
        committed file that appears after this pass's listing snapshot
        is simply not merged this time. A file that vanishes mid-read
        re-lists the dir. Two concurrent compact() calls on the SAME
        store, or a compact racing an update of the same chunk, are not
        supported.

        Returns the number of chunk dirs compacted. NOTE for changefeed
        consumers: the merged file is a NEW file, so a running
        ``readStream`` re-emits compacted chunks (CDC re-emission, same
        as any COW rewrite).

        Maintenance cadence: each compact() pass also runs the
        age-gated :meth:`gc_temps` (``gc_temp_age_sec``; 0 disables) —
        commit-time temp GC is scoped to each write's own job id, so
        temps from CRASHED writers are reclaimed by nothing else; a
        deployment that compacts periodically therefore never
        accumulates invisible orphan disk. Standalone ``gc_temps()``
        remains for stores that never need compaction.

        WRITER-DURATION CONTRACT (r11 advice): the age gate assumes no
        live writer holds an uncommitted temp file longer than
        ``gc_temp_age_sec`` (default 1 h) — a bulk write legitimately
        in flight past that horizon would have its temps reclaimed by
        a concurrent compact() and lose the write silently. Deployments
        with longer-running writers must raise ``gc_temp_age_sec``
        above their worst-case write duration, or pass 0 to make
        compact() side-effect-free and run ``gc_temps`` on their own
        schedule. The same contract governs standalone ``gc_temps``.
        """
        import glob as _glob

        if gc_temp_age_sec > 0:
            self.gc_temps(max_age_sec=gc_temp_age_sec)
        dirs = [
            d
            for d in _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
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
        import glob as _glob

        dirs = _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
        if not dirs:
            return self.spark.createDataFrame(
                [],
                "array_id string, chunk_idx long, n_files long, "
                "bytes long, n_temp long",
            )

        def _stat(d: str):
            import os as _os

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
            parts = dict(
                p.split("=", 1) for p in d.split(_os.sep)[-2:] if "=" in p
            )
            return (
                unescape_path_name(parts.get("array_id", "")),
                int(parts.get("chunk_idx", -1)),
                len(vis),
                total,
                n_temp,
            )

        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        rows = sc.parallelize(dirs, n_slices).map(_stat).filter(
            lambda r: r is not None
        )
        return self.spark.createDataFrame(
            rows,
            "array_id string, chunk_idx long, n_files long, "
            "bytes long, n_temp long",
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
        one day). Distributed the same way as ``maintenance_stats`` —
        driver lists dirs (metadata), executors stat and delete."""
        import glob as _glob
        import time as _time

        dirs = _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
        if not dirs:
            return 0
        cutoff = _time.time() - float(max_age_sec)

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
        overlapped dir's files, and reuses the decoded tables only if
        that ``(name, size, mtime_ns, inode)`` signature is exactly the
        cached one. While the hot chunks fit ``CHUNK_CACHE_BYTES`` a
        repeated read decodes no parquet; past it a read pays the
        decode plus one ``stat`` per file."""
        out_shape_full = [stop - start for start, stop, _ in norm]
        n_points = math.prod(out_shape_full)
        if n_points > max_points:
            raise DekerDataPointsLimitError(
                "Requested object is too large, use smaller subset",
                limit=max_points,
                requested=n_points,
            )
        lo = [start for start, _, _ in norm]
        hi = [stop for _, stop, _ in norm]
        # cells no stored run covers read as the ARRAY'S fill value:
        # engine-created arrays materialize full chunks so this never
        # surfaces there, but the deker writer's bulk appends are
        # sparse — Deker semantics say unwritten cells ARE fill_value
        out = np.full(out_shape_full, fill_value, dtype=np.float64)
        # one chunk dir at a time: driver memory is the output, one
        # chunk's runs and the bounded chunk cache; runs in different
        # dirs never overlap
        for idx in grid.overlapping_chunks(norm):
            _, tables = read_chunk_dir(chunk_dir(self.path, array_id, idx))
            for _, origin, shape, values in ordered_runs(tables):
                hit = _overlap(origin.tolist(), shape, lo, hi)
                if hit is not None:
                    out[hit[1]] = values.reshape(shape)[hit[0]]
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
        """Copy-on-write subset update on the driver, with no Spark job:
        each overlapped chunk dir is rewritten by ``_merge_chunk_dir``
        with its part of the patch. A concurrent reader sees each chunk
        whole, before or after (read-committed per chunk).

        The rewrite reads each dir through the same signature-checked
        driver-side cache as :meth:`read_slice` and writes its output
        through to it, so a read (or another update) right after an
        update of the chunk decodes no parquet."""
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
        for idx in grid.overlapping_chunks(norm):
            box = [
                (max(a, start), min(b, stop))
                for (a, b), (start, stop, _) in zip(grid.chunk_box(idx), norm)
            ]
            piece = patch[tuple(slice(a - l, b - l) for (a, b), l in zip(box, lo))]
            _merge_chunk_dir(
                chunk_dir(self.path, array_id, idx), ([a for a, _ in box], piece)
            )

    def cell_df(
        self, array_id: str, dim_names: Sequence[str], dedup: bool = False
    ) -> DataFrame:
        """Long-format view: one row per cell, pure-JVM index math
        (posexplode + div/mod over the chunk shape) — no Python in the
        path, so arrays compose with SQL at full codegen speed.

        ``dedup=False`` (default) is the append-log view: overlapping
        runs each emit their row, matching the ``deker`` source's
        default. ``dedup=True`` resolves per-cell LAST-WRITE-WINS
        (``read_data``'s semantics) as a ``max_by(value, (seq, file))``
        aggregate over the cell coordinates — still pure JVM, but it
        costs one shuffle on the dims; at scale prefer the datasource's
        ``.option("dedup_cells", "true")``, which resolves inside each
        chunk partition with zero shuffle. Tie order mirrors
        ``read_slice``'s (seq, file-name) sort; the one divergence is
        two overlapping runs in the SAME pre-seq legacy file, where the
        aggregate has no row-order tiebreak (no engine writer produces
        that layout)."""
        df = self.scan(array_id)
        if dedup:
            df = df.select(
                "origin",
                "shape",
                F.coalesce(F.col("seq"), F.lit(-1)).alias("seq"),
                F.col("_metadata.file_name").alias("fname"),
                F.posexplode("data").alias("pos", "value"),
            )
        else:
            df = df.select(
                "origin", "shape", F.posexplode("data").alias("pos", "value")
            )
        strides = []
        n = len(dim_names)
        for d in range(n):
            expr = "1L"
            for d2 in range(d + 1, n):
                expr = f"{expr} * shape[{d2}]"
            strides.append(expr)
        cols = [
            (F.expr(f"origin[{d}] + (pos DIV ({strides[d]})) % shape[{d}]")).alias(dim_names[d])
            for d in range(n)
        ]
        if dedup:
            return (
                df.select(*cols, "value", "seq", "fname")
                .groupBy(*[F.col(d) for d in dim_names])
                .agg(
                    F.max_by("value", F.struct("seq", "fname")).alias("value")
                )
            )
        return df.select(*cols, F.col("value"))
