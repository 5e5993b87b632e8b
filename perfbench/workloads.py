"""The two workloads. Each is a closed loop with one client.

- ``arrays``: the array engine. Bulk I/O once in set-up (engine ingest,
  a ``deker`` writer append, a pruned ``deker`` scan, a ``cell_df``
  reduce, compaction), then the Deker client's request path
  (subset reads, COW updates, catalog lookups, metadata reads) over the
  forecast cubes.
- ``pipelines``: the LLM-data operators, checked against their DuckDB
  oracles.

Each workload repeats a fixed round of requests (``round_mix``: the
requests of each kind in one round): arrays one block of the request
mix, pipelines one pass over its ops. Set-up runs one whole round
untimed, so that the clock starts on warm request paths. ``rounds``
holds the wall time of each whole round and ``by_kind`` the latency of
every request by kind, in seconds; ``ops`` counts every timed request.
The bounded end-to-end metrics come from the per-kind medians alone
(``end_to_end``), so every workload reports the same names;
``workload_metrics`` gives the figures named per workload.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from perfbench.inputs import (
    BLOCK,
    CHUNK_T,
    DIMS,
    READ_KINDS,
    REQUEST_KINDS,
    SHAPE,
    Cube,
    Tally,
    cubes,
    op_order,
    primary_attributes,
    same_array,
    same_sum,
    serving_requests,
)


def cube_schema():
    from deker_server_adapters_spark.core import ArraySchema, AttributeSchema, DimensionSchema

    return ArraySchema(
        dtype="float64",
        dimensions=tuple(DimensionSchema(n, s) for n, s in zip(DIMS, SHAPE)),
        attributes=(
            AttributeSchema("model", "string", primary=True),
            AttributeSchema("member", "int", primary=True),
        ),
    )


def cells_df(spark, cube: Cube, parts: int | None = None, times: tuple[int, int] = (0, SHAPE[0])):
    """A cube's cells at time steps ``times`` as a long-format DataFrame
    (time, lat, lon, value), C-ordered over ``spark.range`` in ``parts``
    partitions."""
    _, nl, no = SHAPE
    return spark.range(times[0] * nl * no, times[1] * nl * no, 1, parts).select(
        F.expr(f"id DIV {nl * no}").alias("time"),
        F.expr(f"(id DIV {no}) % {nl}").alias("lat"),
        F.expr(f"id % {no}").alias("lon"),
    ).select(*DIMS, F.expr(cube.value_sql()).alias("value"))


def _ms(values) -> float:
    return 1000.0 * statistics.median(values) if values else 0.0


def _p90_ms(values) -> float:
    return 1000.0 * float(np.percentile(values, 90)) if values else 0.0


def _mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def _dir_files(d: str) -> list[str]:
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return [os.path.join(d, f) for f in names if f.endswith(".parquet") and not f.startswith(".")]


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in _dir_files(d))


def _subdirs(path: str, prefix: str) -> list[str]:
    return [os.path.join(path, d) for d in sorted(os.listdir(path)) if d.startswith(prefix)]


def store_stats(chunks_path: str) -> tuple[int, int, int]:
    """(chunk dirs, visible parquet files, their bytes) of one store."""
    dirs = files = size = 0
    for adir in _subdirs(chunks_path, "array_id="):
        for cdir in _subdirs(adir, "chunk_idx="):
            found = _dir_files(cdir)
            dirs += 1
            files += len(found)
            size += sum(os.path.getsize(p) for p in found)
    return dirs, files, size


# Sub-millisecond requests (read_meta reads one JSON file) vary several
# fold from run to run with the interpreter's thread switches, which
# would swamp the geometric mean; below this floor a median is noise.
GEOMEAN_FLOOR_S = 0.001


class Workload:
    """Shared plumbing: the tally, optional tracer and Spark counters,
    and the timed-request bookkeeping."""

    name = ""
    round_mix: dict[str, int] = {}

    def __init__(self, spark, seed: int, work: str, tally: Tally, tracer=None, counters=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tally = tally
        self.tracer = tracer
        self.counters = counters
        self.setup_end: float | None = None  # set when set-up ends before setup() returns
        self.rounds: list[float] = []
        self.by_kind: dict[str, list[float]] = {}
        self.ops = 0
        self.wall = 0.0
        self.spark_counts: dict[str, list[dict]] = {}
        self.setup_parts: dict[str, float] = {}
        self._part_start = time.perf_counter()

    def part(self, name: str) -> None:
        """Close the set-up part that began at the previous call (or at
        construction) under ``name``."""
        now = time.perf_counter()
        self.setup_parts[name] = now - self._part_start
        self._part_start = now

    def timed(self, kind: str, fn, check, span: str | None = None) -> float | None:
        """Run one request: time ``fn()``, then judge its result with
        ``check(result)`` outside the timed region. Returns the latency,
        or None when the request raised. Traced runs record the request
        as one span, ``span`` or ``request.<kind>``, in its own job group."""
        req = f"{kind}-{self.ops}"
        self.ops += 1
        counts: dict = {}
        try:
            if self.tracer is not None:
                self.tracer.request = req
                with self.counters.group(kind, counts), self.tracer.span(span or f"request.{kind}"):
                    t0 = time.perf_counter()
                    out = fn()
                    dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception:
            self.tally.record(False, f"{req}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if self.tracer is not None:
                self.tracer.request = None
                self.spark_counts.setdefault(kind, []).append(counts)
        try:
            ok = check(out)
        except Exception:
            ok = False
        self.tally.record(ok, f"{req}: wrong answer")
        return dt

    def request(self, kind: str, fn, check) -> None:
        """One timed request of a round."""
        dt = self.timed(kind, fn, check)
        if dt is not None:
            self.by_kind.setdefault(kind, []).append(dt)

    def untraced(self):
        """A context in which wrapped layer methods record no spans."""
        return self.tracer.paused() if self.tracer is not None else contextlib.nullcontext()

    def end_to_end(self) -> dict:
        """The bounded metrics, both made of each request kind's median
        latency, so that a request the host slowed moves neither:
        ``round_s``, the time of one round at those medians (each kind's
        median times its requests per round), and ``kind_geomean_ms``,
        their geometric mean over the kinds, which a change to any one
        kind moves by its k-th root whatever that kind's share of the
        round. In the geometric mean, medians under ``GEOMEAN_FLOOR_S``
        count as that floor."""
        medians = {k: statistics.median(v) for k, v in self.by_kind.items()}
        return {
            "round_s": sum(n * medians[k] for k, n in self.round_mix.items()),
            "kind_geomean_ms": 1000.0
            * statistics.geometric_mean([max(GEOMEAN_FLOOR_S, m) for m in medians.values()]),
        }

    def workload_metrics(self) -> dict:
        """The figures named for this workload (declared as per-layer
        metrics: the contract bounds only metrics every workload has)."""
        return {}

    def notes(self) -> dict:
        """Run details printed beside the result: samples and median
        latency per request kind."""
        return {
            "setup_parts_s": {k: round(v, 3) for k, v in self.setup_parts.items()},
            "round_wall_s": [round(r, 3) for r in self.rounds],
            "samples": {k: len(v) for k, v in sorted(self.by_kind.items())},
            "p50_ms": {k: round(_ms(v), 3) for k, v in sorted(self.by_kind.items())},
        }

    def instrument(self) -> None:
        """Wrap the layer methods this workload drives (traced runs)."""

    def verify(self) -> None:
        """Checks made after the clock stops."""

    def jobs(self, *kinds: str) -> float:
        return _mean([c.get("jobs", 0) for k in kinds for c in self.spark_counts.get(k, [])])

    def self_s(self, span: str) -> float:
        return self.tracer.self_median(span)


# the bounded end-to-end metrics every workload reports besides set-up
# time and memory; traced runs repeat them as ``traced.<name>``
ROUND_METRICS = ("round_s", "kind_geomean_ms")


def _touched(store, array_id, grid, norm):
    idxs = grid.overlapping_chunks(norm)
    dirs = [os.path.join(store.path, f"array_id={array_id}", f"chunk_idx={i}") for i in idxs]
    cells = sum(math.prod(b - a for a, b in grid.chunk_box(i)) for i in idxs)
    return idxs, dirs, cells


def _read_slice_counts(store, array_id, grid, norm, *args, **kwargs) -> dict:
    idxs, dirs, cells = _touched(store, array_id, grid, norm)
    return {
        "chunks": len(idxs),
        "bytes": sum(_dir_bytes(d) for d in dirs),
        "cells_touched": cells,
        "cells_out": math.prod(b - a for a, b, _ in norm),
    }


def _update_slice_counts(store, array_id, grid, norm, *args, **kwargs) -> dict:
    _, dirs, _ = _touched(store, array_id, grid, norm)
    return {
        "bytes_rewritten": sum(_dir_bytes(d) for d in dirs),
        "bytes_patched": 8 * math.prod(b - a for a, b, _ in norm),
    }


# the span each I/O step records in traced runs
_STEP_SPANS = {
    "ingest_engine": "step.ingest_engine",
    "ingest_writer": "sources.deker_datasource.write",
    "scan_pruned": "sources.deker_datasource.scan_pruned",
    "reduce": "core.storage.cell_df",
    "compact": "step.compact",
}
# the writer's input partitions: each writes its own file into every
# chunk dir its cells reach, so chunk dirs hold several files whatever
# the core count
WRITER_TASKS = 4
WRITER_ID = "ingested"
# the appended cube is sparse: time steps 8-23, half in each chunk
WRITER_TIMES = (CHUNK_T // 2, CHUNK_T + CHUNK_T // 2)
SPACE = tuple((0, n) for n in SHAPE[1:])

# The op ROADMAP's first operator items target: the CC loop and its
# lineage cuts. The run-time budget has room for no more (Lloyd's
# embeddings_kmeans would add ~15 s to every run).
PIPELINE_OPS = ("dedup_components",)
CORPUS_SCALE = 0.1  # relative to sf0.1: an sf0.01-sized corpus


def _oracle_frames(corpus: str, sqls: dict[str, str]) -> dict:
    """Runs in a spawned process: every op's DuckDB oracle result."""
    from tests.oracle_utils import duckdb_con

    con = duckdb_con(corpus)
    con.execute("SET threads TO 1")
    return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}


class _Collected:
    """An already collected result, in the shape ``compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Arrays(Workload):
    """The array engine, with the operators idle. Set-up ingests the
    forecast cubes and runs each bulk I/O step once; one round is one
    block of the request mix."""

    name = "arrays"
    round_mix = BLOCK
    N_ARRAYS = 2  # each build is a Spark job of several seconds; set-up must stay short
    N_BLOCKS = 200  # far more than one run consumes
    MIN_ROUNDS = 2

    def setup(self) -> None:
        from deker_server_adapters_spark.core import Warehouse
        from deker_server_adapters_spark.sources.deker_datasource import register

        self.root = os.path.join(self.work, "warehouse")
        register(self.spark)
        wh = Warehouse(self.spark, self.root)
        self.collection = wh.collections.create("forecast", cube_schema())
        self.adapter = self.collection.arrays
        self.steps: dict[str, list[tuple[float, int]]] = {}
        self.part("start")
        self.arrays, self.shadow = [], []
        *served, ingested = cubes(self.seed, self.N_ARRAYS + 1)
        for k, cube in enumerate(served):
            def build(k=k, cube=cube):
                self.arrays.append(
                    self.adapter.create_from_cells(
                        cells_df(self.spark, cube), primary_attributes=primary_attributes(k)
                    )
                )

            if k == 0:
                with self.untraced():  # the first build pays Spark's first-use costs
                    build()
            else:
                self.step("ingest_engine", build, lambda _: len(self.arrays) == k + 1, math.prod(SHAPE))
            self.shadow.append(cube.full())
        self.part("build")
        self.bulk_io(ingested)
        self.part("bulk_io")
        self.blocks = serving_requests(self.seed, self.N_ARRAYS, self.N_BLOCKS)
        self.updated: list[tuple[int, tuple]] = []
        # the first block, untimed, warms every request path
        with self.untraced():
            for req in self.blocks[0]:
                if not self.check(req, self.call(req)()):
                    raise RuntimeError(f"warm-up {req.kind} returned a wrong answer")
        self.part("warm_round")

    def bulk_io(self, cube: Cube) -> None:
        """Each bulk I/O step once, on the forecast collection: append
        half of one more cube (``WRITER_TIMES``) through the ``deker``
        writer, scan it with a filter that prunes its first chunk, reduce
        a served array over ``cell_df``, compact. The appended cube is not
        served; its scan is checked against a closed form."""
        from deker_server_adapters_spark.core.storage import ChunkStore

        store = ChunkStore(self.spark, self.collection.path)
        n_cells = math.prod(b - a for a, b in (WRITER_TIMES, *SPACE))
        pruned = ((CHUNK_T, WRITER_TIMES[1]), *SPACE)
        n_pruned = math.prod(b - a for a, b in pruned)

        def write():
            (
                cells_df(self.spark, cube, parts=WRITER_TASKS, times=WRITER_TIMES)
                .select(F.lit(WRITER_ID).alias("array_id"), *DIMS, "value")
                .write.format("deker")
                .mode("append")
                .option("path", self.root)
                .option("collection", self.collection.name)
                .save()
            )

        self.step("ingest_writer", write, lambda _: True, n_cells)
        written = _subdirs(os.path.join(store.path, f"array_id={WRITER_ID}"), "chunk_idx=")
        self.writer_dirs = len(written)
        self.written_files = sum(len(_dir_files(c)) for c in written)
        dirs, files, size = store_stats(store.path)
        self.store_before_compact = (dirs, files, size / (self.N_ARRAYS * math.prod(SHAPE) + n_cells))
        self.step(
            "scan_pruned",
            lambda: self.scan(CHUNK_T),
            lambda row: same_sum(n_pruned, cube.box_sum(pruned), row["n"], row["s"]),
            n_pruned,
        )
        self.step(
            "reduce",
            lambda: self.arrays[0].reduce("time", "sum")
            .agg(F.count("sum").alias("n"), F.sum("sum").alias("s"))
            .collect()[0],
            lambda row: same_sum(SHAPE[1] * SHAPE[2], self.shadow[0].sum(), row["n"], row["s"]),
        )
        # only the appended cube's chunk dirs hold several files: one per
        # writer task whose cells reach the chunk
        self.step("compact", store.compact, lambda n: n == self.writer_dirs)

    def step(self, kind: str, fn, check, cells: int = 0) -> None:
        dt = self.timed(kind, fn, check, span=_STEP_SPANS[kind])
        if dt is not None:
            self.steps.setdefault(kind, []).append((dt, cells))

    def scan(self, prune_t: int):
        """Count and sum the appended cube's cells from time step
        ``prune_t`` on, through the ``deker`` source."""
        # a fresh reader per scan: a pushed filter must not outlive its query
        df = (
            self.spark.read.format("deker")
            .option("path", self.root)
            .option("collection", self.collection.name)
            .load()
            .filter((F.col("array_id") == WRITER_ID) & (F.col("time") >= prune_t))
        )
        return df.agg(F.count("value").alias("n"), F.sum("value").alias("s")).collect()[0]

    def call(self, req):
        """The request as a thunk. Updates are applied to the NumPy
        shadow at the same time as to the store."""
        arr = self.arrays[req.array]
        if req.kind in READ_KINDS:
            return lambda: arr.read_data(req.bounds)
        if req.kind == "update":
            def update():
                arr.update(req.bounds, req.patch)
                self.shadow[req.array][req.bounds] = req.patch
                self.updated.append((req.array, req.bounds))
            return update
        if req.kind == "lookup":
            return lambda: self.adapter.get_by_primary_attributes(primary_attributes(req.array))
        return lambda: self.adapter.read_meta(arr)

    def check(self, req, out) -> bool:
        arr = self.arrays[req.array]
        if req.kind in READ_KINDS:
            return same_array(self.shadow[req.array][req.bounds], out)
        if req.kind == "lookup":
            return out is not None and out.id == arr.id
        if req.kind == "read_meta":
            return out == arr.meta()
        return True  # updates are checked by later reads and verify()

    def instrument(self) -> None:
        from deker_server_adapters_spark.core.array import ArrayAdapter
        from deker_server_adapters_spark.core.storage import ChunkStore

        t = self.tracer
        t.wrap(ArrayAdapter, "read_data", "core.array.read_data")
        t.wrap(ArrayAdapter, "update", "core.array.update")
        t.wrap(ArrayAdapter, "get_by_primary_attributes", "core.array.lookup")
        t.wrap(ArrayAdapter, "read_meta", "core.array.read_meta")
        t.wrap(ChunkStore, "read_slice", "core.storage.read_slice", count=_read_slice_counts)
        t.wrap(ChunkStore, "update_slice", "core.storage.update_slice", count=_update_slice_counts)
        t.wrap(ChunkStore, "write_from_cells", "core.storage.write_from_cells")
        t.wrap(ChunkStore, "compact", "core.storage.compact")

    def measure(self, seconds: float) -> None:
        """Whole blocks of requests until ``seconds`` have passed, and at
        least ``MIN_ROUNDS``, so that every request kind has a median of
        more than one sample."""
        start = time.perf_counter()
        for block in self.blocks[1:]:
            if len(self.rounds) >= self.MIN_ROUNDS and time.perf_counter() - start >= seconds:
                break
            r0 = time.perf_counter()
            for req in block:
                self.request(req.kind, self.call(req), lambda out, req=req: self.check(req, out))
            self.rounds.append(time.perf_counter() - r0)
        self.wall = time.perf_counter() - start

    def workload_metrics(self) -> dict:
        reads = [dt for k in READ_KINDS for dt in self.by_kind.get(k, [])]
        requests = [dt for k in REQUEST_KINDS for dt in self.by_kind.get(k, [])]

        def rate(*kinds):
            pairs = [p for k in kinds for p in self.steps.get(k, [])]
            busy = sum(dt for dt, _ in pairs)
            return sum(n for _, n in pairs) / busy if busy else 0.0

        return {
            "read_p50_ms": _ms(reads),
            "read_p90_ms": _p90_ms(reads),
            "update_p50_ms": _ms(self.by_kind.get("update", [])),
            "lookup_p50_ms": _ms(self.by_kind.get("lookup", [])),
            "serving_ops_per_s": len(requests) / sum(requests) if requests else 0.0,
            "ingest_engine_cells_per_s": rate("ingest_engine"),
            "ingest_writer_cells_per_s": rate("ingest_writer"),
            "scan_cells_per_s": rate("scan_pruned"),
        }

    def verify(self) -> None:
        """Read back every updated box once the clock has stopped."""
        for k, bounds in self.updated:
            out = self.arrays[k].read_data(bounds)
            self.tally.record(same_array(self.shadow[k][bounds], out), f"verify update {k} {bounds}")

    def layer_metrics(self) -> dict:
        reads = self.tracer.counts("core.storage.read_slice")
        updates = self.tracer.counts("core.storage.update_slice")
        dirs, files, bytes_per_cell = self.store_before_compact
        pruned = self.spark_counts.get("scan_pruned", [])
        return {
            "core.array.read_data.ms": 1000 * self.self_s("core.array.read_data"),
            "core.storage.read_slice.ms": 1000 * self.self_s("core.storage.read_slice"),
            "core.storage.read_slice.chunks": _mean([c["chunks"] for c in reads]),
            "core.storage.read_slice.bytes": _mean([c["bytes"] for c in reads]),
            "core.storage.read_slice.useful_ratio": (
                sum(c["cells_out"] for c in reads) / max(1, sum(c["cells_touched"] for c in reads))
            ),
            "core.storage.update_slice.ms": 1000 * self.self_s("core.storage.update_slice"),
            "core.storage.update_slice.write_amp": (
                sum(c["bytes_rewritten"] for c in updates)
                / max(1, sum(c["bytes_patched"] for c in updates))
            ),
            "core.array.lookup.ms": 1000 * self.self_s("core.array.lookup"),
            "core.array.read_meta.ms": 1000 * self.self_s("core.array.read_meta"),
            "spark.read.jobs": self.jobs(*READ_KINDS),
            "spark.read.tasks": _mean(
                [c.get("tasks", 0) for k in READ_KINDS for c in self.spark_counts.get(k, [])]
            ),
            "spark.update.jobs": self.jobs("update"),
            "spark.lookup.jobs": self.jobs("lookup"),
            "core.storage.files_per_chunk": files / max(1, dirs),
            "core.storage.bytes_per_cell": bytes_per_cell,
            "core.storage.write_from_cells.s": self.self_s("core.storage.write_from_cells"),
            "spark.ingest.jobs": self.jobs("ingest_engine"),
            "sources.deker_datasource.write.s": self.self_s("sources.deker_datasource.write"),
            "sources.deker_datasource.write.files": self.written_files,
            "sources.deker_datasource.scan_pruned.s": self.self_s("sources.deker_datasource.scan_pruned"),
            "sources.deker_datasource.partitions_ratio": (
                _mean([c.get("first_stage_tasks", 0) for c in pruned]) / self.writer_dirs
            ),
            "core.storage.cell_df.s": self.self_s("core.storage.cell_df"),
            "core.storage.compact.s": self.self_s("core.storage.compact"),
        }


class Pipelines(Workload):
    """The LLM-data operators, with the array engine idle. One round is
    one pass over ``PIPELINE_OPS``, each built and counted."""

    name = "pipelines"
    round_mix = dict.fromkeys(PIPELINE_OPS, 1)
    MIN_PASSES = 3
    WARM_PASSES = 3  # untimed, after the first

    def setup(self) -> None:
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        from deker_server_adapters_spark.operators import all_ops
        from deker_server_adapters_spark.tools.gen_testdata import generate

        self.corpus = os.path.join(self.work, "corpus")
        generate(self.corpus, CORPUS_SCALE, seed=self.seed)
        self.part("corpus")
        registry = all_ops()
        self.order = op_order(self.seed, list(PIPELINE_OPS))
        self.registry = {name: registry[name] for name in self.order}
        # the oracles run beside the warm-up passes, on one DuckDB thread;
        # waiting for them is not set-up time
        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
            oracles = pool.submit(
                _oracle_frames, self.corpus, {n: op.oracle for n, op in self.registry.items()}
            )
            warm = self.warm_ops()
            # each pass runs faster than the last for a while (the JVM
            # compiles Spark's planner); start the clock further down
            for _ in range(self.WARM_PASSES):
                for name, op in self.registry.items():
                    if not isinstance(warm[name], str):  # an op that raised fails its timed runs
                        op.builder(self.spark, self.corpus).count()
            self.part("warm")
            self.setup_end = time.perf_counter()
            self.oracle = oracles.result()
        self.judge(warm)

    def warm_ops(self) -> dict:
        """Each op's collected result, or the traceback it raised."""
        warm = {}
        for name, op in self.registry.items():
            try:
                warm[name] = op.builder(self.spark, self.corpus).toPandas()
            except Exception:
                warm[name] = traceback.format_exc(limit=3)
        return warm

    def judge(self, warm: dict) -> None:
        """An op whose warm-up result disagrees with its oracle fails
        each of its timed runs."""
        from tests.oracle_utils import compare

        self.wrong = {}
        for name, got in warm.items():
            if isinstance(got, str):
                self.wrong[name] = got
            else:
                ok, msg = compare(_Collected(got), self.oracle[name])
                if not ok:
                    self.wrong[name] = msg

    def layer_key(self, name: str) -> str:
        module = self.registry[name].builder.__module__.rsplit(".", 1)[-1]
        return f"operators.{module}.{name}"

    def run_op(self, name: str) -> None:
        op, key = self.registry[name], self.layer_key(name)

        def build_and_count():
            if self.tracer is None:
                return op.builder(self.spark, self.corpus).count()
            with self.tracer.span(f"{key}.builder"):
                df = op.builder(self.spark, self.corpus)
            with self.tracer.span(f"{key}.action"):
                return df.count()

        expected = len(self.oracle[name])
        self.request(name, build_and_count, lambda n: name not in self.wrong and n == expected)

    def measure(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have passed, and at least
        ``MIN_PASSES``, so that the median drops one pass the host
        slowed."""
        start = time.perf_counter()
        while len(self.rounds) < self.MIN_PASSES or time.perf_counter() - start < seconds:
            p0 = time.perf_counter()
            for name in self.order:
                self.run_op(name)
            self.rounds.append(time.perf_counter() - p0)
        self.wall = time.perf_counter() - start

    def notes(self) -> dict:
        return {**super().notes(), "oracle_mismatch": {n: m[:300] for n, m in self.wrong.items()}}

    def workload_metrics(self) -> dict:
        return {"pipeline_s": statistics.median(self.rounds) if self.rounds else 0.0}

    def layer_metrics(self) -> dict:
        out = {}
        builder = action = 0.0
        for name in self.order:
            key = self.layer_key(name)
            b = self.self_s(f"{key}.builder")
            a = self.self_s(f"{key}.action")
            out[f"{key}.builder_s"] = b
            out[f"{key}.action_s"] = a
            out[f"{key}.jobs"] = self.jobs(name)
            builder += b
            action += a
        out["operators.builder_share"] = builder / (builder + action) if builder + action else 0.0
        return out


WORKLOADS = {w.name: w for w in (Arrays, Pipelines)}
