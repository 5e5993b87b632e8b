"""``spark.read.format("deker")`` — the array warehouse as a Spark table.

The Python Data Source API (Spark 4) front door for the chunked array
engine in ``core/``: any collection reads as a long-format cell table

    array_id string, <dim name> bigint ..., value double

with the scan parallelized one task per stored CHUNK (Spark's
parallelism aligns with the storage grid, exactly like the pruned
parquet scan inside ``ChunkStore``) and filter pushdown at two levels:

- ``array_id`` equality/IN prunes whole chunk DIRECTORIES at planning
  time (no file even listed for other arrays);
- dimension-range predicates prune non-overlapping chunks at planning
  time via the collection's chunk grid, then mask cells inside the
  surviving chunks with vectorized NumPy — both are consumed, so Spark
  re-evaluates neither.

``value`` predicates (and anything else) are left for Spark.

A batch read is LAST-WRITE-WINS per cell, like the engine's
``read_data`` and ``cell_df``: each task resolves its chunk's runs
(``core.storage.chunk_cells``) and emits each written cell once, with
its latest value, so an update's delta runs and overlapping appends are
never counted twice. ``readStream`` keeps the append-log changefeed,
one row per stored run cell.

Every storage decision comes from ``core.storage``, none is repeated
here: the chunk-dir walk (``walk_chunk_dirs``), the grid
(``ChunkGrid.for_schema`` of the collection's schema), the file codec
and the cell resolver (``chunk_cells``). Partition planning walks the
chunk directory tree on the driver — O(surviving chunks) after
pruning, the same cost class as Spark's own file-source listing. A
100 TB deployment swaps the walk for a manifest/metastore lookup; the
partition contract stays identical.

Reference parity: this is the "DataFrame I/O for multidimensional
arrays via a custom data source" surface — the reference adapter's
read path (base.py:111-205) exposed through Spark's own reader API
instead of an HTTP client. Reads are Arrow ``RecordBatch`` streams, so
cells never pass through per-row Python objects.

Writes: ``df.write.format("deker").mode("append")`` is BULK CELL
INGEST (the reference create+write flow, base.py:111-160) — each task
packs its cells of each chunk into runs and stages them as one file
per owning chunk directory, shuffle-free and append-only; the commit
publishes them. Runs, files, staging and publishing come from the
engine's one chunk writer (``core.storage``: ``written_runs``,
``encode_runs``, ``stage_chunk_file``, ``publish_staged``).
``cells.writeStream.format("deker")`` is the STREAMING form of the same
ingest (per-micro-batch append, deterministic batch-named files for
idempotent replay — see ``DekerStreamWriter``).
Subset updates/clears stay on the engine's delta-append
API (``core/storage.py``), which Spark's writer contract cannot
express (subset PUT semantics, 413 limits); ``mode("overwrite")`` is
rejected for the same reason.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deker_server_adapters_spark.core.array import meta_file_name, write_meta
from deker_server_adapters_spark.core.schema import collection_schema
from deker_server_adapters_spark.core.storage import (
    ChunkGrid,
    appended_name,
    chunk_cells,
    chunk_dir,
    discard_staged,
    encode_runs,
    ordered_runs,
    publish_staged,
    stage_chunk_file,
    staged_prefix,
    visible_chunk_files,
    walk_chunk_dirs,
)


def register(spark) -> None:
    """Register the source and enable Python-source filter pushdown
    (Spark refuses to plan a pushFilters() reader without the conf)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DekerDataSource)


def _load_collection_meta(root: str, collection: str) -> dict:
    meta_path = os.path.join(root, "collections", collection, "collection.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"deker: no collection {collection!r} under {root!r} "
            f"(expected {meta_path})"
        )
    with open(meta_path) as f:
        return json.load(f)


@dataclass
class DekerChunkPartition(InputPartition):
    array_id: str
    chunk_idx: int
    files: tuple[str, ...]


def _dim_meta(meta: dict) -> dict[str, dict]:
    """Per-dim label / time decoration for ``labels=true`` reads."""
    from datetime import datetime, timezone

    out: dict[str, dict] = {}
    for d in meta["schema"]["dimensions"]:
        m: dict = {}
        if "labels" in d:
            m["labels"] = list(d["labels"])
        if d.get("start_iso"):
            start = datetime.fromisoformat(d["start_iso"])
            if start.tzinfo is None:
                start = start.replace(tzinfo=timezone.utc)
            m["start_us"] = int(start.timestamp() * 1_000_000)
            m["step_us"] = int(d["step_seconds"] * 1_000_000)
        out[d["name"]] = m
    return out


def _chunk_cell_batches(
    partition: DekerChunkPartition,
    grid: ChunkGrid,
    dim_names: Sequence[str],
    bounds: Sequence[Sequence[int]],
    read_cols: Sequence[str],
    dim_meta: dict[str, dict] | None = None,
    batch: bool = False,
):
    """Expand one chunk partition's parquet rows into Arrow cell
    batches — shared by the batch and stream readers.

    ``batch=True`` (the batch reader): LAST-WRITE-WINS per cell. The
    chunk is resolved by ``core.storage.chunk_cells``, the one cell
    resolver ``cell_df`` also uses, and each written cell emits once
    with its latest value. Memory for that replay is at most one
    chunk's dense extent (the storage design unit) plus the run list. A
    planned file that vanished is re-listed (``read_chunk_files``).
    ``batch=False`` (the stream reader's changefeed): append-log
    semantics — one row per materialized RUN cell, so a cell re-written
    by a later write appears once per write; a vanished file is
    skipped."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not partition.files:
        return
    shape = grid.shape
    ndim = len(shape)
    dim_meta = dim_meta or {}
    dim_pos = {n: i for i, n in enumerate(dim_names)}

    def emit(idx: "np.ndarray", values: "np.ndarray"):
        mask = np.ones(values.shape[0], dtype=bool)
        for d, (lo, hi) in enumerate(bounds):
            if lo > 0 or hi < shape[d]:
                mask &= (idx[d] >= lo) & (idx[d] < hi)
        if not mask.any():
            return None
        midx, mvalues = idx[:, mask], values[mask]
        cols, names = [], []
        for name in read_cols:
            if name == "array_id":
                cols.append(
                    pa.array([partition.array_id] * mvalues.shape[0], pa.string())
                )
            elif name in dim_pos:
                cols.append(pa.array(midx[dim_pos[name]], pa.int64()))
            elif name.endswith("_label") and name[:-6] in dim_pos:
                lab = np.asarray(dim_meta[name[:-6]]["labels"], dtype=object)
                cols.append(pa.array(lab[midx[dim_pos[name[:-6]]]], pa.string()))
            elif name.endswith("_ts") and name[:-3] in dim_pos:
                m = dim_meta[name[:-3]]
                micros = m["start_us"] + midx[dim_pos[name[:-3]]] * m["step_us"]
                cols.append(
                    pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
                )
            else:  # value
                cols.append(pa.array(mvalues, pa.float64()))
            names.append(name)
        return pa.RecordBatch.from_arrays(cols, names=names)

    if batch:
        # BATCH semantics: a batch query has no "next batch" to heal a
        # vanished file, so chunk_cells re-lists and reads the current
        # visible set
        resolved = chunk_cells(partition.files)
        cells = None if resolved is None else emit(*resolved)
        if cells is not None:
            yield cells
        return

    tables = []
    for path in partition.files:
        try:
            tables.append(pq.read_table(path))
        except FileNotFoundError:
            # STREAM semantics (fold race): a concurrent chunk fold
            # can delete a file between offset planning and read. The
            # deleted file's cells are superseded by the rewritten
            # chunk file the NEXT micro-batch will pick up, so
            # skipping is correct — raising would wedge a restarted
            # stream forever on a WAL offset whose files are gone.
            import warnings

            warnings.warn(f"deker chunk file vanished (fold?): {path}")

    for _, origin, run_shape, values in ordered_runs(tables):
        # absolute index per dim for every cell, vectorized
        idx = np.indices(run_shape).reshape(ndim, -1) + origin[:, None]
        cells = emit(idx, values)
        if cells is not None:
            yield cells


class DekerDataSource(DataSource):
    """Usage::

        spark.dataSource.register(DekerDataSource)
        cells = (spark.read.format("deker")
                 .option("path", warehouse_root)
                 .option("collection", "weather").load())
    """

    @classmethod
    def name(cls) -> str:
        return "deker"

    def _root_and_collection(self) -> tuple[str, str]:
        root = self.options.get("path")
        coll = self.options.get("collection")
        if not root or not coll:
            raise ValueError(
                "deker format needs .option('path', warehouse_root) and "
                ".option('collection', name)"
            )
        return root, coll

    def schema(self) -> StructType:
        root, coll = self._root_and_collection()
        meta = _load_collection_meta(root, coll)
        with_labels = str(self.options.get("labels", "false")).lower() == "true"
        fields = [StructField("array_id", StringType(), False)]
        for d in meta["schema"]["dimensions"]:
            fields.append(StructField(d["name"], LongType(), False))
            if with_labels and "labels" in d:
                fields.append(StructField(f"{d['name']}_label", StringType(), False))
            if with_labels and d.get("start_iso"):
                fields.append(StructField(f"{d['name']}_ts", TimestampType(), False))
        fields.append(StructField("value", DoubleType(), True))
        return StructType(fields)

    def reader(self, schema: StructType) -> "DekerReader":
        root, coll = self._root_and_collection()
        return DekerReader(root, coll, schema)

    def streamReader(self, schema: StructType) -> "DekerStreamReader":
        root, coll = self._root_and_collection()
        return DekerStreamReader(root, coll, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "DekerWriter":
        if overwrite:
            raise ValueError(
                "deker writes are append-only bulk ingest; subset "
                "updates/clears go through the engine's delta-append "
                "API (core/storage.py), not mode('overwrite')"
            )
        root, coll = self._root_and_collection()
        create = str(self.options.get("create_arrays", "true")).lower() == "true"
        return DekerWriter(root, coll, schema, create_arrays=create)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DekerStreamWriter":
        root, coll = self._root_and_collection()
        create = str(self.options.get("create_arrays", "true")).lower() == "true"
        return DekerStreamWriter(root, coll, schema, create_arrays=create)


class _ChunkScan:
    """The state both ``deker`` readers plan and read from: the
    collection's chunks dir, dim names and meta, chunk grid, the
    columns to emit, and per-dim [lo, hi) bounds over the whole grid
    (the batch reader tightens them by pushed filters; streams push
    nothing). The columns are the full source schema: the Python DS
    API has no projection pushdown (``DekerReader``, column-pruning
    boundary)."""

    def __init__(self, root: str, collection: str, schema: StructType):
        meta = _load_collection_meta(root, collection)
        self.chunks_dir = os.path.join(root, "collections", collection, "chunks")
        self.dim_names = [d["name"] for d in meta["schema"]["dimensions"]]
        self.dim_meta = _dim_meta(meta)
        self.grid = ChunkGrid.for_schema(collection_schema(meta))
        self.read_cols = [f.name for f in schema.fields]
        self.bounds = [[0, s] for s in self.grid.shape]


class DekerReader(_ChunkScan, DataSourceReader):
    """Batch reader over one collection's chunk store.

    Cells resolve last-write-wins, one row per written cell: each task
    resolves its chunk through ``core.storage.chunk_cells``, as
    ``cell_df`` does and as ``read_data`` places runs (see
    :func:`_chunk_cell_batches`).

    Isolation under concurrency: when a planned file vanishes mid-read
    (compact merged it, or delete_array dropped the array), the task
    re-lists the chunk dir with backoff and reads the CURRENT visible
    set — so a batch read racing writers/compaction is READ-COMMITTED
    per chunk partition, not a planning-time snapshot (a file committed
    after planning can appear in the result). Quiescent stores read
    exactly the planned snapshot.

    Column-pruning boundary (r14 verdict): this reader materializes the
    FULL cell schema regardless of the query's projection — the Python
    DataSource API (as of Spark 4.x) offers ``pushFilters`` but no
    projection-pushdown hook, so Spark prunes columns ABOVE the scan.
    Currently harmless: the cell schema is array_id + one int64 per
    dimension + value (plus opt-in label/ts columns only when
    ``labels=true`` is set), the expensive inputs (parquet run files)
    are read column-complete anyway because every run column
    participates in cell expansion, and the per-cell emit cost is a few
    fixed Arrow arrays. If the schema ever widens (e.g. per-cell
    attribute columns), revisit: ``read_cols`` (consumed by
    ``_chunk_cell_batches``) is already the single seam — populating it
    from a pruned schema is the only change the emit path needs."""

    def __init__(self, root: str, collection: str, schema: StructType):
        super().__init__(root, collection, schema)
        self.array_ids: set[str] | None = None  # None = all arrays

    # -- pushdown ---------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        dim_pos = {n: i for i, n in enumerate(self.dim_names)}
        for f in filters:
            col = f.attribute[0] if len(getattr(f, "attribute", ())) == 1 else None
            if col == "array_id" and isinstance(f, (EqualTo, In)):
                ids = set(f.value if isinstance(f, In) else (f.value,)) - {None}
                self.array_ids = ids if self.array_ids is None else self.array_ids & ids
            elif col in dim_pos and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                d, b = dim_pos[col], self.bounds[dim_pos[col]]
                v = int(f.value)
                if isinstance(f, EqualTo):
                    b[0], b[1] = max(b[0], v), min(b[1], v + 1)
                elif isinstance(f, GreaterThan):
                    b[0] = max(b[0], v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    b[0] = max(b[0], v)
                elif isinstance(f, LessThan):
                    b[1] = min(b[1], v)
                else:  # LessThanOrEqual
                    b[1] = min(b[1], v + 1)
            else:
                yield f  # value predicates etc. stay with Spark

    # -- planning ---------------------------------------------------------

    def _chunk_overlaps(self, chunk_idx: int) -> bool:
        box = self.grid.chunk_box(chunk_idx)
        return all(
            lo < hi and lo < b_stop and b_start < hi  # empty range -> no chunk
            for (b_start, b_stop), (lo, hi) in zip(box, self.bounds)
        )

    def partitions(self) -> list[DekerChunkPartition]:
        parts: list[DekerChunkPartition] = []
        # directory-level prune by the pushed array ids, then grid-level
        for array_id, chunk_idx, d in walk_chunk_dirs(self.chunks_dir, self.array_ids):
            if self._chunk_overlaps(chunk_idx):
                files = tuple(visible_chunk_files(d))
                if files:
                    parts.append(DekerChunkPartition(array_id, chunk_idx, files))
        # an empty store or prune: one no-op task
        return parts or [DekerChunkPartition("", -1, ())]

    # -- execution --------------------------------------------------------

    def read(self, partition: DekerChunkPartition):
        yield from _chunk_cell_batches(
            partition, self.grid, self.dim_names, self.bounds, self.read_cols,
            self.dim_meta, batch=True,
        )


class DekerStreamReader(_ChunkScan, DataSourceStreamReader):
    """Chunk CHANGEFEED: each micro-batch emits the cells of chunk
    files that appeared since the last offset — a freshly created array
    streams once; a subset update streams just its delta run's cells;
    a fold (an update's, or ``compact``'s) streams the folded chunk
    again (downstream recompute semantics, like a CDC feed of chunk
    versions). Append-log rows: a cell appears once per write.

    Offsets are the seen-file set (parquet part files are immutable;
    updates and folds create NEW files), stored as a sorted list of paths
    RELATIVE to the chunks dir to keep the serialized offset small.
    The set still grows with the store, and Spark re-serializes the
    full offset into the offset/commit log EVERY micro-batch — an
    O(total files ever) write per trigger. That is the same tradeoff
    Structured Streaming's built-in file source makes (its seen-file
    map exists because mtime watermarks lose races with slow writers);
    at 100 TB you'd swap the directory walk for a manifest/commit log
    whose offsets are monotonic commit ids, keeping this exact offset
    contract with O(1) offsets."""

    def _current_files(self) -> list[str]:
        return sorted(
            os.path.relpath(p, self.chunks_dir)
            for _, _, d in walk_chunk_dirs(self.chunks_dir)
            for p in visible_chunk_files(d)
        )

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._current_files()}

    def partitions(self, start: dict, end: dict) -> list[DekerChunkPartition]:
        seen = set(start.get("files", ()))
        by_dir: dict[str, list[str]] = {}
        for p in end.get("files", ()):
            if p not in seen:
                by_dir.setdefault(os.path.dirname(p), []).append(os.path.join(self.chunks_dir, p))
        # the walk names each fresh file's chunk; the files of a dir
        # deleted since the offset (delete_array) are gone and plan none
        parts = [
            DekerChunkPartition(aid, cidx, tuple(sorted(by_dir[rel])))
            for aid, cidx, d in walk_chunk_dirs(self.chunks_dir)
            if (rel := os.path.relpath(d, self.chunks_dir)) in by_dir
        ]
        # a deletion-only offset change (delete_array between triggers)
        # plans a batch with no fresh files: ship one no-op partition
        # rather than zero, mirroring the batch reader's empty-store
        # guard
        return parts or [DekerChunkPartition("", -1, ())]

    def read(self, partition: DekerChunkPartition):
        # CDC semantics by design: every run of every new file emits
        # (no last-write-wins resolution — a changefeed consumer wants
        # writes)
        yield from _chunk_cell_batches(
            partition, self.grid, self.dim_names, self.bounds, self.read_cols,
            self.dim_meta,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from immutable files; nothing to ack


@dataclass
class DekerWriteCommit(WriterCommitMessage):
    files: tuple[str, ...]  # staged temp paths
    array_ids: tuple[str, ...]


def _staged(message) -> tuple[str, ...]:
    """A task's staged files; a task that failed sends no message."""
    return getattr(message, "files", ()) or ()


class DekerWriter(DataSourceArrowWriter):
    """Bulk cell ingest: ``cells_df.write.format("deker")``.

    Input schema must be the cell table (array_id, <dims...>, value).
    Each task, independently and WITHOUT any imposed shuffle:

    1. assigns every cell its owning chunk via the same mixed-radix
       grid arithmetic the engine stores with (imported geometry, so
       writer and reader can never drift);
    2. groups its cells by (array_id, chunk) with a stable sort, keeping
       the LAST row of a cell the task got twice (in one Arrow batch or
       across batches), places each group into a buffer over its
       bounding box and encodes it with ``core.storage.written_runs``:
       one run when the cells fill that box (a task that covers a whole
       chunk writes one dense run), else one run per segment along the
       last dimension — the run form ``read_slice`` and the batch/stream
       readers place by origin/shape, so a chunk assembled from many
       tasks' runs reads back exactly;
    3. appends one parquet file per (array_id, chunk) it touched —
       staged under a dot-prefixed TEMP name (invisible to every
       reader) and published by ``commit``'s rename to its task-UUID
       name (``core.storage.publish_staged``), so a crashed job
       orphans nothing visible; never overwrites.
       Every run of a task carries one placement ``seq`` stamp
       (``next_write_seq``; the task's runs are disjoint), so a cell
       another write re-writes resolves LAST-WRITE-WINS through
       ``read_data``.

    Memory per task is its input cells (the same class as a shuffle
    writer's buffer) plus one group's bounding-box buffer at a time, at
    most one chunk's extent — the bound the batch reader's replay has.
    Chunk-ALIGNED input (e.g. ``df.repartition("array_id")`` or a
    full-array partition per task) yields one file and one run per
    chunk; scattered input still writes correctly, just with more runs
    and more files.

    Append-only contract: writing a cell that already exists in the
    collection appends a NEWER run — ``read_data``, ``cell_df`` and the
    batch cell-table SCAN resolve it last-write-wins by ``seq`` (the
    ``readStream`` changefeed shows one row per materialized run) — bulk
    ingest targets NEW array ids, which
    ``commit`` registers in the catalog (``create_arrays`` option,
    default true) with empty attributes; pre-created arrays keep their
    metadata. ``abort`` removes every file the failed write produced.
    Sparse appends are first-class: cells never written read back as
    the schema's ``fill_value`` through ``read_data`` (property-tested
    over random subsets/partitionings); the cell-table SCAN emits only
    materialized cells.

    Reference parity: create+write flow of base.py:111-160; the subset
    PUT path (base.py:272-311) deliberately stays on the engine API.
    """

    def __init__(
        self, root: str, collection: str, schema: StructType, create_arrays: bool
    ):
        meta = _load_collection_meta(root, collection)
        self.root = root
        self.collection = collection
        self.collection_dir = os.path.join(root, "collections", collection)
        self.chunks_dir = os.path.join(self.collection_dir, "chunks")
        self.dim_names = [d["name"] for d in meta["schema"]["dimensions"]]
        self.grid = ChunkGrid.for_schema(collection_schema(meta))
        self.create_arrays = create_arrays
        # per-WRITE job id, minted driver-side and serialized into
        # every task: temp files carry it, and commit-time GC removes
        # ONLY this write's own temp names — two concurrent writers
        # (or a writer racing a streaming sink) can no longer GC each
        # other's in-flight attempts
        import uuid as _uuid

        self.write_id = _uuid.uuid4().hex[:16]
        cols = [f.name for f in schema.fields]
        expected = ["array_id", *self.dim_names, "value"]
        if sorted(cols) != sorted(expected):
            raise ValueError(
                f"deker writer needs cell-table columns {expected}, got {cols}"
            )

    def write(self, iterator) -> DekerWriteCommit:
        import uuid

        import numpy as np
        import pyarrow as pa

        from deker_server_adapters_spark.core.storage import next_write_seq, written_runs

        grid = self.grid
        ndim = len(grid.shape)
        aids, coords, vals = [], [], []
        for batch in iterator:
            c = np.stack([np.asarray(batch.column(n), dtype=np.int64) for n in self.dim_names])
            for d in range(ndim):
                bad = (c[d] < 0) | (c[d] >= grid.shape[d])
                if bad.any():
                    j = int(np.argmax(bad))
                    raise ValueError(
                        f"cell {self.dim_names[d]}={int(c[d][j])} outside "
                        f"dimension size {grid.shape[d]}"
                    )
            aids.append(batch.column("array_id"))
            coords.append(c)
            vals.append(np.asarray(batch.column("value"), dtype=np.float64))
        if not sum(map(len, vals)):
            return DekerWriteCommit(files=(), array_ids=())
        # ids stay Arrow strings: one Python str per distinct id, not per cell
        ids = pa.concat_arrays(aids).dictionary_encode()
        aid_codes, remap = np.unique(ids.dictionary.to_pylist(), return_inverse=True)
        aid = remap[ids.indices.to_numpy()]
        coords, vals = np.concatenate(coords, axis=1), np.concatenate(vals)
        chunk_idx = np.zeros(len(vals), dtype=np.int64)
        flat = np.zeros(len(vals), dtype=np.int64)
        for d in range(ndim):
            chunk_idx = chunk_idx * grid.splits[d] + coords[d] // grid.chunk_shape[d]
            flat = flat * grid.shape[d] + coords[d]
        # a stable sort by (array, chunk, cell) keeps a task's rows of one
        # cell in arrival order, so keeping the last of them lets the
        # later row win
        order = np.lexsort((flat, chunk_idx, aid))
        aid, chunk_idx, flat = aid[order], chunk_idx[order], flat[order]
        last = np.ones(len(order), dtype=bool)
        last[:-1] = (aid[1:] != aid[:-1]) | (flat[1:] != flat[:-1])
        order, aid, chunk_idx = order[last], aid[last], chunk_idx[last]
        starts = np.flatnonzero(
            np.r_[True, (aid[1:] != aid[:-1]) | (chunk_idx[1:] != chunk_idx[:-1])]
        )
        task_id = uuid.uuid4().hex
        # one stamp for the task: its runs are pairwise disjoint
        seq = next_write_seq()
        files, array_ids = [], set()
        for a, b in zip(starts.tolist(), [*starts[1:].tolist(), len(order)]):
            array_id, cidx = str(aid_codes[aid[a]]), int(chunk_idx[a])
            cells = coords[:, order[a:b]]
            lo = cells.min(axis=1)
            box = np.empty(cells.max(axis=1) + 1 - lo)
            written = np.zeros(box.shape, dtype=bool)
            at = tuple(cells - lo[:, None])
            box[at], written[at] = vals[order[a:b]], True
            files.append(
                stage_chunk_file(
                    chunk_dir(self.chunks_dir, array_id, cidx),
                    encode_runs(written_runs(seq, lo.tolist(), box, written)),
                    f"{staged_prefix(self.write_id)}{task_id}.parquet",
                )
            )
            array_ids.add(array_id)
        return DekerWriteCommit(files=tuple(files), array_ids=tuple(sorted(array_ids)))

    def _register_meta(self, messages) -> None:
        """Register written array ids in the catalog (pure JSON file
        I/O — the commit hook runs without a SparkSession). Arrays
        created elsewhere keep their metadata."""
        if not self.create_arrays:
            return
        meta_dir = os.path.join(self.collection_dir, "meta")
        os.makedirs(meta_dir, exist_ok=True)
        for m in messages:
            for array_id in getattr(m, "array_ids", ()):
                if not os.path.exists(os.path.join(meta_dir, meta_file_name(array_id))):
                    write_meta(
                        meta_dir,
                        {"id": array_id, "primary_attributes": {}, "custom_attributes": {}},
                    )

    def commit(self, messages) -> None:
        """Publish every task's staged files under APPEND_PREFIX names.
        The publish then removes the temps of THIS write only (names
        carrying ``self.write_id``) left in the touched dirs — failed
        or superseded task attempts — so a concurrent writer's in-flight
        temps survive and two live writers on one collection can both
        commit. Temps of a CRASHED write stay invisible and are
        reclaimed by the age-gated ``ChunkStore.gc_temps``."""
        publish_staged(
            [(p, appended_name(p)) for m in messages for p in _staged(m)],
            staged_prefix(self.write_id),
        )
        self._register_meta(messages)

    def abort(self, messages) -> None:
        discard_staged(
            {os.path.dirname(p) for m in messages for p in _staged(m)},
            staged_prefix(self.write_id),
        )


class DekerStreamWriter(DataSourceStreamArrowWriter):
    """Streaming cell ingest: ``cells.writeStream.format("deker")`` —
    the sink half of the chunk-changefeed loop (``readStream`` emits
    chunk versions; this appends new cells per micro-batch).

    Each task hands its Arrow record batches straight to the batch
    ``DekerWriter`` core (same per-chunk run packing, same geometry
    import). Tasks write dot-prefixed TEMP files (invisible to every
    reader); ``commit`` RENAMES them to deterministic
    ``part-b{batch}-p{part}-{i}`` names and garbage-collects any temp
    file a failed/crashed attempt left in the touched chunk dirs.
    Failure accounting:

    - task retry within a batch: the failed attempt's file is a temp
      file — never visible, removed at this batch's commit;
    - driver crash BEFORE commit: every written file is still
      temp-named, so readers, the changefeed, and ``compact`` see
      nothing; later commits of the SAME query run GC them (shared
      write_id), and orphans of an abandoned run are reclaimed by the
      age-gated ``ChunkStore.gc_temps`` maintenance path — no
      double-counting in cell scans or downstream aggregates;
    - driver crash AFTER commit but before the checkpoint records the
      offset: the replayed batch regenerates the same cells under the
      SAME final names and ``os.replace`` overwrites in place
      (effective exactly-once; only the placement ``seq`` stamps
      differ, and the replay's stamps are newer than every earlier
      write, so last-write-wins placement is unchanged).

    ``abort`` removes the failed batch's temp files. Commit-time GC is
    scoped to this query's own write_id-stamped temp names, so a
    concurrent batch writer or second sink on the same collection is
    safe (r10). The chunks dir must be shared storage, as for every
    other path in this engine.

    Reference parity: the continuous-ingest counterpart of the
    create+write flow (base.py:111-160); subset PUT stays on the
    engine's delta-append API, same as the batch writer.
    """

    def __init__(
        self, root: str, collection: str, schema: StructType, create_arrays: bool
    ):
        self._core = DekerWriter(root, collection, schema, create_arrays)

    def write(self, iterator) -> DekerWriteCommit:
        return self._core.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        publish_staged(
            [
                (
                    p,
                    os.path.join(
                        os.path.dirname(p), f"part-b{batchId:08d}-p{pid:05d}-{i:03d}.parquet"
                    ),
                )
                for pid, m in enumerate(messages)
                for i, p in enumerate(_staged(m))
            ],
            staged_prefix(self._core.write_id),
        )
        self._core._register_meta(messages)

    def abort(self, messages, batchId: int) -> None:
        self._core.abort(messages)
