"""spark.read.format("deker"): the array warehouse as a Spark table
with chunk-aligned partitions and planning-time pruning."""

from __future__ import annotations

import os

import numpy as np
import pytest

from deker_server_adapters_spark.core import (
    ArraySchema,
    DimensionSchema,
    Warehouse,
)
from deker_server_adapters_spark.sources.deker_datasource import (
    DekerDataSource,
    DekerReader,
    register,
)

SCHEMA = ArraySchema(
    dtype="float64",
    dimensions=(DimensionSchema("x", 20), DimensionSchema("y", 12)),
)


@pytest.fixture()
def filled(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    coll = wh.collections.create("weather", SCHEMA)
    rng = np.random.default_rng(7)
    arrays = {}
    for _ in range(2):
        data = rng.normal(size=(20, 12))
        a = coll.arrays.create(data=data)
        arrays[a.id] = data
    register(spark)
    return str(tmp_path / "wh"), arrays


def _read(spark, root):
    return (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "weather")
        .load()
    )


def test_reads_every_cell_of_every_array(spark, filled):
    root, arrays = filled
    df = _read(spark, root)
    assert df.columns == ["array_id", "x", "y", "value"]
    rows = df.collect()
    assert len(rows) == 2 * 20 * 12
    got = {}
    for r in rows:
        got.setdefault(r["array_id"], np.zeros((20, 12)))[r["x"], r["y"]] = r["value"]
    for aid, data in arrays.items():
        np.testing.assert_allclose(got[aid], data)


def test_filters_prune_and_still_answer_correctly(spark, filled):
    root, arrays = filled
    aid, data = next(iter(arrays.items()))
    df = (
        _read(spark, root)
        .filter(f"array_id = '{aid}'")
        .filter("x >= 3 AND x < 7 AND y = 5")
    )
    rows = df.collect()
    assert len(rows) == 4
    for r in rows:
        assert r["array_id"] == aid and 3 <= r["x"] < 7 and r["y"] == 5
        assert r["value"] == pytest.approx(data[r["x"], r["y"]])


def test_value_filters_are_left_to_spark(spark, filled):
    root, arrays = filled
    aid, data = next(iter(arrays.items()))
    n = _read(spark, root).filter(f"array_id = '{aid}' AND value > 0").count()
    assert n == int((data > 0).sum())


def test_reader_prunes_partitions_at_planning(filled):
    """Directory- and grid-level pruning happens in partitions(), not
    as a post-scan filter: the reader plans strictly fewer tasks once
    array_id / dim predicates are pushed."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    root, arrays = filled
    aid = next(iter(arrays))
    ds = DekerDataSource({"path": root, "collection": "weather"})
    all_parts = DekerReader(root, "weather", ds.schema()).partitions()
    assert {p.array_id for p in all_parts} == set(arrays)

    pruned = DekerReader(root, "weather", ds.schema())
    leftover = list(
        pruned.pushFilters(
            [
                EqualTo(("array_id",), aid),
                GreaterThanOrEqual(("x",), 0),
                LessThan(("x",), 1),  # first slab only
            ]
        )
    )
    assert leftover == []  # everything consumed
    parts = pruned.partitions()
    assert {p.array_id for p in parts} == {aid}
    assert len(parts) < sum(1 for p in all_parts if p.array_id == aid) or len(parts) == 1


def test_empty_collection_reads_zero_rows(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.collections.create("empty", SCHEMA)
    register(spark)
    df = (
        spark.read.format("deker")
        .option("path", str(tmp_path / "wh2"))
        .option("collection", "empty")
        .load()
    )
    assert df.count() == 0


def test_joins_with_relational_tables(spark, filled):
    """The point of the long format: array cells join/aggregate with
    ordinary tables in one Catalyst plan."""
    from pyspark.sql import functions as F

    root, _ = filled
    per_x = (
        _read(spark, root)
        .groupBy("x")
        .agg(F.round(F.avg("value"), 6).alias("mean_value"))
    )
    assert per_x.count() == 20


class TestWriter:
    """spark.write.format('deker'): bulk cell ingest, per-task
    run-packed chunk append (reference create+write flow,
    base.py:111-160)."""

    def _cells_df(self, spark, data, array_id="a1", n_parts=5):
        rows = [
            (array_id, i, j, float(data[i, j]))
            for i in range(data.shape[0])
            for j in range(data.shape[1])
        ]
        return spark.createDataFrame(
            rows, "array_id string, x long, y long, value double"
        ).repartition(n_parts)

    def test_roundtrip_scattered_input(self, spark, tmp_path):
        """Cells scattered across 5 arbitrary partitions, each task fed
        several Arrow batches, write correctly (short runs, many files)
        and read back exactly via BOTH the engine read_data path and
        the datasource reader."""
        root = str(tmp_path / "whw")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        rng = np.random.RandomState(7)
        data = rng.rand(20, 12)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        before = spark.conf.get(key)
        spark.conf.set(key, "16")
        try:
            (
                self._cells_df(spark, data).write.format("deker")
                .option("path", root).option("collection", "w")
                .mode("append").save()
            )
        finally:
            spark.conf.set(key, before)
        got = wh.collections.read("w").arrays.get_by_id("a1").read_data(
            (slice(None), slice(None))
        )
        np.testing.assert_allclose(got, data)
        pdf = (
            spark.read.format("deker").option("path", root)
            .option("collection", "w").load().toPandas()
        )
        assert len(pdf) == 240
        chk = np.full((20, 12), np.nan)
        chk[pdf["x"], pdf["y"]] = pdf["value"]
        np.testing.assert_allclose(chk, data)

    def test_aligned_input_compresses_to_runs(self, spark, tmp_path):
        """Chunk-aligned input (1 partition) that fills the chunk
        packs into one dense run: 240 cells -> one run, not one per
        x-row or per cell."""
        from deker_server_adapters_spark.core.storage import CHUNK_SCHEMA

        root = str(tmp_path / "whr")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        data = np.arange(240, dtype=np.float64).reshape(20, 12)
        (
            self._cells_df(spark, data, n_parts=1).write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )
        n_rows = (
            spark.read.schema(CHUNK_SCHEMA)
            .parquet(root + "/collections/w/chunks").count()
        )
        assert n_rows == 1  # the cells fill the chunk's box
        got = wh.collections.read("w").arrays.get_by_id("a1").read_data(
            (slice(None), slice(None))
        )
        np.testing.assert_allclose(got, data)

    def test_run_never_crosses_row_boundary(self, spark, tmp_path):
        """(x, last_max) -> (x+1, 0) is flat-index-consecutive but must
        break the run — a box spilling past the row end corrupts
        neighbors (the writer's one subtle encoding rule)."""
        root = str(tmp_path / "whb")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        data = np.zeros((20, 12))
        data[3, 11], data[4, 0] = 1.0, 2.0  # consecutive flat indices
        rows = [("a1", 3, 11, 1.0), ("a1", 4, 0, 2.0)]
        df = spark.createDataFrame(
            rows, "array_id string, x long, y long, value double"
        ).coalesce(1)
        df.write.format("deker").option("path", root).option(
            "collection", "w"
        ).mode("append").save()
        pdf = (
            spark.read.format("deker").option("path", root)
            .option("collection", "w").load().toPandas()
        )
        assert len(pdf) == 2
        assert {(r.x, r.y, r.value) for r in pdf.itertuples()} == {
            (3, 11, 1.0), (4, 0, 2.0)
        }

    def test_overwrite_mode_rejected(self, spark, tmp_path):
        root = str(tmp_path / "who")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        df = self._cells_df(spark, np.zeros((20, 12)))
        with pytest.raises(Exception, match="append-only"):
            df.write.format("deker").option("path", root).option(
                "collection", "w"
            ).mode("overwrite").save()

    def test_bad_schema_rejected(self, spark, tmp_path):
        root = str(tmp_path / "whs2")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        df = spark.createDataFrame([("a1", 0, 0.0)], "array_id string, x long, value double")
        with pytest.raises(Exception, match="cell-table columns"):
            df.write.format("deker").option("path", root).option(
                "collection", "w"
            ).mode("append").save()

    def test_out_of_bounds_cell_fails_write(self, spark, tmp_path):
        root = str(tmp_path / "whoob")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        df = spark.createDataFrame(
            [("a1", 99, 0, 1.0)], "array_id string, x long, y long, value double"
        )
        with pytest.raises(Exception, match="outside dimension"):
            df.write.format("deker").option("path", root).option(
                "collection", "w"
            ).mode("append").save()

    def test_commit_registers_arrays_and_keeps_existing_meta(self, spark, tmp_path):
        from deker_server_adapters_spark.core import AttributeSchema

        schema = ArraySchema(
            dtype="float64",
            dimensions=(DimensionSchema("x", 20), DimensionSchema("y", 12)),
            attributes=(AttributeSchema("note", "string", primary=False),),
        )
        root = str(tmp_path / "whm")
        wh = Warehouse(spark, root)
        coll = wh.collections.create("w", schema)
        coll.arrays.create(custom_attributes={"note": "pre"}, id_="pre1")
        register(spark)
        data = np.ones((20, 12))
        for aid in ("pre1", "new1"):
            (
                self._cells_df(spark, data, array_id=aid).write.format("deker")
                .option("path", root).option("collection", "w")
                .mode("append").save()
            )
        coll = wh.collections.read("w")
        assert coll.arrays.get_by_id("new1") is not None  # registered
        pre = coll.arrays.get_by_id("pre1")
        assert pre.custom_attributes == {"note": "pre"}  # untouched


@pytest.mark.slow
def test_stream_writer_ingests_cells_across_micro_batches(spark, tmp_path):
    """cells.writeStream.format('deker'): streaming cell ingest (the
    sink half of the changefeed loop). Three source files drive three
    micro-batches (maxFilesPerTrigger=1); the array must read back
    exactly via the engine path, commit must have renamed task files to
    deterministic part-b{batch}-p{part} names (idempotent replay), and
    the catalog must have registered the array."""
    import glob
    import os
    import re

    root = str(tmp_path / "whs")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(23)
    data = rng.rand(20, 12)
    src_dir = str(tmp_path / "cells_src")
    for b in range(3):  # disjoint x-stripes, one file per micro-batch
        rows = [
            ("s1", i, j, float(data[i, j]))
            for i in range(b, 20, 3)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .coalesce(1)
            .write.mode("append").parquet(src_dir)
        )
    stream = (
        spark.readStream.schema("array_id string, x long, y long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.format("deker")
        .option("path", root)
        .option("collection", "w")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    got = wh.collections.read("w").arrays.get_by_id("s1").read_data(
        (slice(None), slice(None))
    )
    np.testing.assert_allclose(got, data)
    files = glob.glob(
        os.path.join(root, "collections", "w", "chunks", "array_id=*", "chunk_idx=*", "*.parquet")
    )
    assert files and all(
        re.fullmatch(r"part-b\d{8}-p\d{5}-\d{3}\.parquet", os.path.basename(f))
        for f in files
    ), files  # commit renamed every task file deterministically
    # >=2 distinct batch ids actually flowed (multi-micro-batch ingest)
    batch_ids = {os.path.basename(f).split("-")[1] for f in files}
    assert len(batch_ids) >= 2, batch_ids
    pdf = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load().toPandas()
    )
    assert len(pdf) == 240


@pytest.mark.slow
def test_stream_sink_then_changefeed_roundtrip(spark, tmp_path):
    """End-to-end streaming loop: cells ingested through the STREAMING
    sink must come back out through the changefeed readStream — the
    sink's batch-renamed files are ordinary immutable chunk files to
    the offset tracker."""
    root = str(tmp_path / "whl")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(31)
    data = rng.rand(20, 12)
    src_dir = str(tmp_path / "cells_in")
    for b in range(2):
        rows = [
            ("a9", i, j, float(data[i, j]))
            for i in range(b, 20, 2)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .coalesce(1)
            .write.mode("append").parquet(src_dir)
        )
    (
        spark.readStream.schema("array_id string, x long, y long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.format("deker")
        .option("path", root).option("collection", "w")
        .option("checkpointLocation", str(tmp_path / "ck_in"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    (
        spark.readStream.format("deker")
        .option("path", root).option("collection", "w").load()
        .writeStream.format("memory").queryName("t_loop").outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    pdf = spark.table("t_loop").toPandas()
    assert len(pdf) == 240
    chk = np.full((20, 12), np.nan)
    chk[pdf["x"], pdf["y"]] = pdf["value"]
    np.testing.assert_allclose(chk, data)


@pytest.mark.slow
def test_compaction_bounds_file_count_across_micro_batches(spark, tmp_path):
    """VERDICT r6 item 7: repeated appends (the micro-batch / streaming
    sink pattern — one file per chunk per task per batch) must not grow
    the chunk store without bound. After N disjoint appends,
    ``ChunkStore.compact()`` brings every chunk partition back to ONE
    file, with both the engine read path and the datasource read
    unchanged."""
    import glob
    import os

    from deker_server_adapters_spark.core.storage import ChunkStore

    root = str(tmp_path / "whc")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(11)
    data = rng.rand(20, 12)
    n_batches = 6
    for b in range(n_batches):  # disjoint x-stripes, like micro-batches
        rows = [
            ("a1", i, j, float(data[i, j]))
            for i in range(b, 20, n_batches)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .repartition(3)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )
    chunks_dir = os.path.join(root, "collections", "w", "chunks")
    files_before = glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*", "*.parquet"))
    chunk_dirs = glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*"))
    assert len(files_before) > len(chunk_dirs)  # growth actually happened

    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    n_multi = len(
        [
            d
            for d in chunk_dirs
            if len([f for f in os.listdir(d) if f.endswith(".parquet")]) >= 2
        ]
    )
    assert store.compact() == n_multi  # every multi-file dir merged
    files_after = glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*", "*.parquet"))
    assert len(files_after) == len(chunk_dirs)  # bounded: ONE file per chunk

    got = wh.collections.read("w").arrays.get_by_id("a1").read_data(
        (slice(None), slice(None))
    )
    np.testing.assert_allclose(got, data)
    pdf = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load().toPandas()
    )
    assert len(pdf) == 240
    chk = np.full((20, 12), np.nan)
    chk[pdf["x"], pdf["y"]] = pdf["value"]
    np.testing.assert_allclose(chk, data)
    assert store.compact() == 0  # idempotent: nothing left to merge


def test_chunk_read_tolerates_vanished_file(spark, tmp_path):
    """COW race tolerance: a chunk file deleted between offset planning
    and read is skipped with a warning (its cells are superseded by the
    rewritten chunk the next batch picks up) — a raise here would wedge
    a restarted stream forever on a WAL offset whose files are gone
    (ADVICE r5)."""
    import warnings

    from deker_server_adapters_spark.core.storage import ChunkGrid
    from deker_server_adapters_spark.sources.deker_datasource import (
        DekerChunkPartition,
        _chunk_cell_batches,
    )

    wh = Warehouse(spark, str(tmp_path / "whv"))
    coll = wh.collections.create("weather", SCHEMA)
    data = np.arange(20 * 12, dtype=np.float64).reshape(20, 12)
    coll.arrays.create(data=data)
    chunks_dir = tmp_path / "whv" / "collections" / "weather" / "chunks"
    files = sorted(str(p) for p in chunks_dir.rglob("*.parquet"))
    assert files
    part = DekerChunkPartition(
        array_id="whatever",
        chunk_idx=0,
        files=(str(tmp_path / "gone.parquet"), *files),
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        batches = list(
            _chunk_cell_batches(
                part, ChunkGrid((20, 12), (1, 1)), ["x", "y"], [(0, 20), (0, 12)],
                ["array_id", "x", "y", "value"],
            )
        )
    assert any("vanished" in str(x.message) for x in w)
    assert sum(b.num_rows for b in batches) == 20 * 12


def test_stream_reader_chunk_changefeed(spark, tmp_path):
    """readStream over the warehouse: a new array streams its cells in
    the next micro-batch; a subset update streams just the cells it
    wrote, its delta run (changefeed semantics)."""
    wh = Warehouse(spark, str(tmp_path / "whs"))
    coll = wh.collections.create("weather", SCHEMA)
    data = np.arange(20 * 12, dtype=np.float64).reshape(20, 12)
    arr = coll.arrays.create(data=data)
    register(spark)

    stream = (
        spark.readStream.format("deker")
        .option("path", str(tmp_path / "whs"))
        .option("collection", "weather")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("deker_feed")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.table("deker_feed").count()
        assert first == 20 * 12

        arr.update((slice(0, 2), slice(0, 12)), np.full((2, 12), -1.0))
        q.processAllAvailable()
        rows = spark.table("deker_feed").collect()
    finally:
        q.stop()
    # the update streamed its 2x12 patched cells, and only those
    assert len(rows) > first
    assert len(rows) == first + 2 * 12
    latest = {}
    for r in rows:  # later duplicates overwrite: memory sink appends in order
        latest[(r["array_id"], r["x"], r["y"])] = r["value"]
    for y in range(12):
        assert latest[(arr.id, 0, y)] == -1.0
        assert latest[(arr.id, 19, y)] == data[19, y]


def test_labeled_and_time_dims_decorated(spark, tmp_path):
    """option('labels','true'): labeled dims gain a <dim>_label string
    column, time dims a <dim>_ts timestamp column — Deker's dimension
    model surfaced as real queryable columns."""
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema

    schema = ArraySchema(
        dtype="float64",
        dimensions=(
            DimensionSchema("t", 4, start_iso="2024-01-01T00:00:00", step_seconds=3600),
            DimensionSchema("layer", 3, labels=("surface", "mid", "high")),
        ),
    )
    wh = Warehouse(spark, str(tmp_path / "whl"))
    coll = wh.collections.create("weather", schema)
    data = np.arange(12, dtype=np.float64).reshape(4, 3)
    coll.arrays.create(data=data)
    register(spark)
    df = (
        spark.read.format("deker")
        .option("path", str(tmp_path / "whl"))
        .option("collection", "weather")
        .option("labels", "true")
        .load()
    )
    assert df.columns == ["array_id", "t", "t_ts", "layer", "layer_label", "value"]
    rows = {(r["t"], r["layer"]): r for r in df.collect()}
    assert len(rows) == 12
    r = rows[(2, 1)]
    assert r["layer_label"] == "mid"
    assert r["t_ts"].isoformat().startswith("2024-01-01T02:00:00")
    assert r["value"] == data[2, 1]
    # label columns are queryable like any other column
    n = df.filter("layer_label = 'surface' AND t_ts >= '2024-01-01 01:00:00'").count()
    assert n == 3


def test_varray_collection_multi_chunk(spark, tmp_path):
    """A varray collection reads through format('deker') with one scan
    partition per vgrid chunk (the multi-chunk geometry path: splits
    from the vgrid, not default_chunk_grid) and reassembles exactly."""
    from deker_server_adapters_spark.core import DimensionSchema, VArraySchema

    vschema = VArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("x", 12), DimensionSchema("y", 8)),
        vgrid=(3, 2),
    )
    wh = Warehouse(spark, str(tmp_path / "whv"))
    coll = wh.collections.create("grid", vschema)
    data = np.arange(96, dtype=np.float64).reshape(12, 8)
    va = coll.varrays.create(data=data)
    register(spark)

    ds = DekerDataSource({"path": str(tmp_path / "whv"), "collection": "grid"})
    parts = DekerReader(str(tmp_path / "whv"), "grid", ds.schema()).partitions()
    assert len(parts) == 6  # 3x2 vgrid -> one partition per chunk

    df = (
        spark.read.format("deker")
        .option("path", str(tmp_path / "whv"))
        .option("collection", "grid")
        .load()
    )
    got = np.zeros((12, 8))
    for r in df.collect():
        got[r["x"], r["y"]] = r["value"]
    np.testing.assert_allclose(got, data)
    # dim-range pushdown prunes to the chunks overlapping one vgrid row
    pruned = DekerReader(str(tmp_path / "whv"), "grid", ds.schema())
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    list(pruned.pushFilters([GreaterThanOrEqual(("x",), 0), LessThan(("x",), 4)]))
    assert len(pruned.partitions()) == 2  # first vgrid row: 1x2 chunks


def test_writer_property_random_subsets_roundtrip(spark, tmp_path):
    """Property: ANY subset of cells, in ANY partitioning, written
    through the deker writer (possibly across several appends) reads
    back exactly — absent cells stay at the schema fill value. Seeded
    randomized cases rather than hypothesis so each case reuses one
    warehouse-per-case Spark roundtrip."""
    import numpy as np

    rng = np.random.RandomState(99)
    for case in range(4):
        root = str(tmp_path / f"whp{case}")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        data = rng.rand(20, 12)
        all_cells = [(i, j) for i in range(20) for j in range(12)]
        rng.shuffle(all_cells)
        keep = all_cells[: rng.randint(1, len(all_cells) + 1)]
        n_appends = rng.randint(1, 4)
        chunks = np.array_split(np.arange(len(keep)), n_appends)
        for part in chunks:
            if not len(part):
                continue
            rows = [("p1", int(keep[k][0]), int(keep[k][1]), float(data[keep[k]])) for k in part]
            (
                spark.createDataFrame(rows, "array_id string, x long, y long, value double")
                .repartition(rng.randint(1, 6))
                .write.format("deker")
                .option("path", root).option("collection", "w")
                .mode("append").save()
            )
        got = wh.collections.read("w").arrays.get_by_id("p1").read_data(
            (slice(None), slice(None))
        )
        want = np.zeros((20, 12))  # schema fill value
        for (i, j) in keep:
            want[i, j] = data[i, j]
        np.testing.assert_allclose(got, want, err_msg=f"case {case}")


def test_rewritten_cell_resolves_last_write_wins(spark, tmp_path):
    """ADVICE r7: run precedence must be the explicit ``seq`` column,
    not file-name order (Spark's scan packs splits by size, and
    compaction renames files). Append a full array, then re-write a
    block of cells in a second bulk append: ``read_data`` returns the
    NEW values everywhere, before AND after ``compact()``."""
    import os

    from deker_server_adapters_spark.core.storage import ChunkStore

    root = str(tmp_path / "whlw")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(3)
    base = rng.rand(20, 12)
    rows = [
        ("a1", i, j, float(base[i, j]))
        for i in range(20)
        for j in range(12)
    ]
    for payload in (rows, None):  # second pass built below
        if payload is None:
            payload = [("a1", i, j, float(100 + i + j)) for i in range(5) for j in range(12)]
        (
            spark.createDataFrame(payload, "array_id string, x long, y long, value double")
            .repartition(4)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )
    want = base.copy()
    for i in range(5):
        for j in range(12):
            want[i, j] = 100 + i + j
    arr = wh.collections.read("w").arrays.get_by_id("a1")
    np.testing.assert_allclose(arr.read_data((slice(None), slice(None))), want)
    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    assert store.compact() >= 1
    np.testing.assert_allclose(arr.read_data((slice(None), slice(None))), want)


def test_compact_merges_engine_and_writer_files(spark, tmp_path):
    """ADVICE r7: Spark-written chunk files name list items ``element``
    while the pyarrow-writing deker sink uses ``item``; compact() must
    cast both to one canonical schema instead of failing concat, and
    the append must still resolve over the engine base afterwards."""
    import glob as _glob
    import os

    from deker_server_adapters_spark.core.storage import ChunkStore

    root = str(tmp_path / "whmix")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    rng = np.random.RandomState(5)
    base = rng.rand(20, 12)
    a = coll.arrays.create(data=base)  # engine (Spark) files
    register(spark)
    patch_rows = [(a.id, 2, j, float(500 + j)) for j in range(12)]
    (
        spark.createDataFrame(patch_rows, "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")  # pyarrow files into the SAME chunk dirs
        .option("path", root).option("collection", "w")
        .option("create_arrays", "false")
        .mode("append").save()
    )
    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    assert store.compact() >= 1  # mixed-schema dirs merged, not raised
    chunks_dir = os.path.join(root, "collections", "w", "chunks")
    for d in _glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*")):
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1
    want = base.copy()
    want[2, :] = [500 + j for j in range(12)]
    np.testing.assert_allclose(a.read_data((slice(None), slice(None))), want)


@pytest.mark.slow
def test_orphaned_temp_files_are_invisible_and_gcd(spark, tmp_path):
    """ADVICE r7: a crashed writer attempt leaves only a dot-prefixed
    temp file. Readers (engine + datasource + changefeed listing) and
    compact() must not see it, and the next committed write touching
    the dir garbage-collects it — so orphans can never double-count in
    scans or become permanent through compaction."""
    import glob as _glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from deker_server_adapters_spark.core.storage import TMP_PREFIX, ChunkStore
    from deker_server_adapters_spark.sources.deker_datasource import DekerStreamReader

    root = str(tmp_path / "whorph")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    data = np.arange(240, dtype=np.float64).reshape(20, 12)
    rows = [("a1", i, j, float(data[i, j])) for i in range(20) for j in range(12)]
    (
        spark.createDataFrame(rows, "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    chunks_dir = os.path.join(root, "collections", "w", "chunks")
    some_dir = sorted(_glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*")))[0]
    # plant the orphan: a structurally valid run that would poison cell
    # (0, 0) with 9999 if any reader ever visited it
    orphan = os.path.join(some_dir, f"{TMP_PREFIX}deadbeef.parquet")
    pq.write_table(
        pa.table(
            {
                "origin": pa.array([[0, 0]], pa.list_(pa.int64())),
                "shape": pa.array([[1, 1]], pa.list_(pa.int64())),
                "data": pa.array([[9999.0]], pa.list_(pa.float64())),
                "seq": pa.array([2**62], pa.int64()),  # "newest" — must still lose
            }
        ),
        orphan,
    )
    arr = wh.collections.read("w").arrays.get_by_id("a1")
    np.testing.assert_allclose(arr.read_data((slice(None), slice(None))), data)
    pdf = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load().toPandas()
    )
    assert len(pdf) == 240 and float(pdf[(pdf.x == 0) & (pdf.y == 0)].value.iloc[0]) == 0.0
    reader = DekerStreamReader(root, "w", spark.read.format("deker")
                               .option("path", root).option("collection", "w").load().schema)
    assert not any(TMP_PREFIX in f for f in reader._current_files())
    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    store.compact()
    assert os.path.exists(orphan)  # compact never touches in-flight temps
    # r10: a committed FOREIGN write must NOT GC the orphan — for all
    # this writer knows, it is another live writer's in-flight attempt
    # (the r9 two-writer mutual-GC hazard). It stays invisible.
    (
        spark.createDataFrame([("a1", 0, 1, 7.0)], "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    assert os.path.exists(orphan)
    got = arr.read_data((slice(None), slice(None)))
    assert got[0, 0] == 0.0 and got[0, 1] == 7.0
    # reclamation belongs to the explicit age-gated maintenance path:
    # young temps survive (could be in-flight), aged ones are removed
    assert store.gc_temps(max_age_sec=3600) == 0
    assert os.path.exists(orphan)
    assert store.gc_temps(max_age_sec=0) == 1
    assert not os.path.exists(orphan)


def test_gc_temps_skips_undeletable_entries_and_runs_from_compact(spark, tmp_path):
    """r11 (ADVICE r10): one undeletable/unstatable entry must not
    abort the whole gc_temps sweep and lose the reclaim count — the
    per-file delete catches OSError broadly, skip-and-continue. Also
    pins the maintenance cadence: compact() runs the age-gated
    gc_temps itself, so a deployment that compacts periodically never
    accumulates crashed-writer orphans."""
    import glob as _glob
    import os

    from deker_server_adapters_spark.core.storage import TMP_PREFIX, ChunkStore

    root = str(tmp_path / "whgc")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rows = [("a1", i, j, 1.0) for i in range(20) for j in range(12)]
    (
        spark.createDataFrame(rows, "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    dirs = sorted(_glob.glob(os.path.join(store.path, "array_id=*", "chunk_idx=*")))
    # an aged orphan that must be reclaimed...
    orphan = os.path.join(dirs[0], f"{TMP_PREFIX}dead-0.parquet")
    open(orphan, "wb").write(b"x")
    os.utime(orphan, (1.0, 1.0))
    # ...next to an entry os.remove will refuse (a DIRECTORY wearing a
    # temp name raises IsADirectoryError, an OSError the sweep must eat)
    trap = os.path.join(dirs[0], f"{TMP_PREFIX}trap-0.parquet")
    os.makedirs(trap)
    os.utime(trap, (1.0, 1.0))
    assert store.gc_temps(max_age_sec=0) == 1
    assert not os.path.exists(orphan) and os.path.isdir(trap)
    os.rmdir(trap)
    # cadence: compact()'s own age-gated pass reclaims a crashed
    # writer's aged temp (and spares a young one)
    aged = os.path.join(dirs[0], f"{TMP_PREFIX}aged-0.parquet")
    open(aged, "wb").write(b"x")
    os.utime(aged, (1.0, 1.0))
    young = os.path.join(dirs[0], f"{TMP_PREFIX}young-0.parquet")
    open(young, "wb").write(b"x")
    store.compact(gc_temp_age_sec=3600.0)
    assert not os.path.exists(aged) and os.path.exists(young)


@pytest.mark.slow
def test_batch_read_resolves_last_write_wins(spark, tmp_path):
    """The batch reader emits each written cell ONCE with its
    seq-latest value — the engine's read_data resolution through the
    datasource surface — after a second write re-wrote some cells.
    Pruning filters still apply."""
    root = str(tmp_path / "whdd")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    base = [("a1", i, j, float(10 * i + j)) for i in range(4) for j in range(12)]
    rewrite = [("a1", 0, j, float(900 + j)) for j in range(12)]
    for payload in (base, rewrite):
        (
            spark.createDataFrame(payload, "array_id string, x long, y long, value double")
            .coalesce(1)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )

    dd = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w")
        .load().toPandas()
    )
    assert len(dd) == len(base)  # one row per written cell
    got_row0 = dd[dd.x == 0].sort_values("y").value.tolist()
    assert got_row0 == [900.0 + j for j in range(12)]  # latest wins
    got_row1 = dd[dd.x == 1].sort_values("y").value.tolist()
    assert got_row1 == [10.0 + j for j in range(12)]  # untouched cells keep v1
    # engine read agrees with the deduped surface
    arr = wh.collections.read("w").arrays.get_by_id("a1")
    import numpy as np

    eng = arr.read_data((slice(0, 4), slice(None)))
    chk = np.zeros((4, 12))
    chk[dd.x, dd.y] = dd.value
    np.testing.assert_allclose(chk, eng)
    # pushdown still prunes under the resolution
    one = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w")
        .load().filter("x = 0").toPandas()
    )
    assert len(one) == 12 and set(one.x) == {0}


@pytest.mark.slow
def test_batch_read_survives_concurrent_compaction(spark, tmp_path):
    """A batch plan whose file snapshot is invalidated by compact()
    (files merged + removed between planning and read) must re-list
    and return the chunk's FULL data from the merged file — skipping
    would silently drop committed cells (batch has no 'next batch')."""
    import os

    from deker_server_adapters_spark.core.storage import ChunkStore
    from deker_server_adapters_spark.sources.deker_datasource import DekerReader

    root = str(tmp_path / "whrace")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    data = np.arange(240, dtype=np.float64).reshape(20, 12)
    for stripe in (0, 1):  # two writes -> multi-file chunk dirs
        rows = [
            ("a1", i, j, float(data[i, j]))
            for i in range(stripe, 20, 2)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .coalesce(1)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )
    schema = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load().schema
    )
    reader = DekerReader(root, "w", schema)
    parts = reader.partitions()
    assert any(len(p.files) >= 2 for p in parts)
    # the race: compaction merges + removes the planned files
    assert ChunkStore(spark, os.path.join(root, "collections", "w")).compact() >= 1
    got = np.full((20, 12), np.nan)
    for p in parts:
        for batch in reader.read(p):
            pdf = batch.to_pandas()
            got[pdf["x"], pdf["y"]] = pdf["value"]
    np.testing.assert_allclose(got, data)  # nothing dropped


def test_write_seq_is_monotonic_within_process():
    """Same-tick or clock-regressed write events must still stamp
    strictly increasing placement seqs (the last-write-wins guarantee
    for back-to-back engine writes)."""
    from deker_server_adapters_spark.core.storage import next_write_seq

    seqs = [next_write_seq() for _ in range(2000)]
    assert all(b > a for a, b in zip(seqs, seqs[1:]))


@pytest.mark.slow
def test_changefeed_composes_with_hll_sketch_twin(spark, tmp_path):
    """Custom source x sketch twin composition: an HLL register table
    maintained INCREMENTALLY over the chunk changefeed (distinct cells
    seen, keyed by cell identity) must equal the batch HLL over the
    batch cell read — the 'sketch an array stream' shape, where the
    state for an unbounded cell domain stays <=512 max-merged rows."""
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.operators.events import hll_registers_df

    root = str(tmp_path / "whsk")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(17)
    data = rng.rand(20, 12)
    for b in range(3):  # three appends -> three changefeed batches' files
        rows = [
            ("a1", i, j, float(data[i, j]))
            for i in range(b, 20, 3)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .coalesce(1)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )

    def cell_key(df):
        return df.select(
            F.concat_ws(":", "array_id", "x", "y").alias("user_id")
        )

    feed = (
        spark.readStream.format("deker")
        .option("path", root).option("collection", "w").load()
    )
    (
        hll_registers_df(cell_key(feed))
        .writeStream.format("memory").queryName("t_sk").outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = (
        spark.table("t_sk")
        .groupBy("reg")
        .agg(F.max("max_rank").alias("max_rank"))
        .toPandas()
        .sort_values("reg")
        .reset_index(drop=True)
    )
    batch_cells = cell_key(
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load()
    )
    want = hll_registers_df(batch_cells).toPandas().sort_values("reg").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) <= 512


@pytest.mark.slow
def test_writer_property_overlapping_writes_last_wins(spark, tmp_path):
    """Property (the r8 seq semantics): a SEQUENCE of random overlapping
    cell writes — arbitrary subsets, arbitrary partitioning, arbitrary
    re-writes of already-written cells — reads back as if applied in
    write order (numpy reference), before AND after compact(). Within
    one append a duplicated cell keeps arbitrary-but-valid semantics,
    so cases write distinct cells per append but freely overlap across
    appends."""
    import os

    import numpy as np

    from deker_server_adapters_spark.core.storage import ChunkStore

    rng = np.random.RandomState(4242)
    for case in range(3):
        root = str(tmp_path / f"wlw{case}")
        wh = Warehouse(spark, root)
        wh.collections.create("w", SCHEMA)
        register(spark)
        want = np.zeros((20, 12))
        written: set[tuple[int, int]] = set()
        all_cells = [(i, j) for i in range(20) for j in range(12)]
        for write_i in range(rng.randint(2, 5)):
            rng.shuffle(all_cells)
            chosen = all_cells[: rng.randint(1, 120)]
            vals = rng.rand(len(chosen)) * 100
            rows = [
                ("p1", int(i), int(j), float(v))
                for (i, j), v in zip(chosen, vals)
            ]
            (
                spark.createDataFrame(rows, "array_id string, x long, y long, value double")
                .repartition(rng.randint(1, 5))
                .write.format("deker")
                .option("path", root).option("collection", "w")
                .mode("append").save()
            )
            for (i, j), v in zip(chosen, vals):
                want[i, j] = v
                written.add((i, j))
        arr = wh.collections.read("w").arrays.get_by_id("p1")
        got = arr.read_data((slice(None), slice(None)))
        np.testing.assert_allclose(got, want, err_msg=f"case {case} pre-compact")

        def check_dedup_view(tag: str) -> None:
            # engine-side LWW long view must agree with read_data on
            # every written cell and emit each exactly once
            rows = arr.cell_df().collect()
            assert len(rows) == len(written), (tag, len(rows), len(written))
            for r in rows:
                np.testing.assert_allclose(
                    r["value"], want[r["x"], r["y"]], err_msg=f"{tag} {r}"
                )

        check_dedup_view(f"case {case} pre-compact")
        ChunkStore(spark, os.path.join(root, "collections", "w")).compact()
        got2 = arr.read_data((slice(None), slice(None)))
        np.testing.assert_allclose(got2, want, err_msg=f"case {case} post-compact")
        check_dedup_view(f"case {case} post-compact")


def test_maintenance_stats_pre_and_post_compact(spark, tmp_path):
    """ChunkStore.maintenance_stats() must report the task-layout facts
    the oracled deker_compact_stats op deliberately omits: multi-file
    dirs and nonzero bytes before compact, exactly one file per dir and
    zero temps after (SURVEY §7 r9 maintenance-op entry)."""
    import os

    from pyspark.sql import functions as F

    from deker_server_adapters_spark.core.storage import ChunkStore

    root = str(tmp_path / "whmx")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    rng = np.random.default_rng(11)
    a = coll.arrays.create(data=rng.normal(size=(20, 12)))
    # second write pass into the same chunks -> every dir gets >=2 files
    a.update((slice(0, 20), slice(0, 12)), rng.normal(size=(20, 12)))
    register(spark)
    patch_rows = [(a.id, x, 0, float(x)) for x in range(20)]
    (
        spark.createDataFrame(
            patch_rows, "array_id string, x long, y long, value double"
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root)
        .option("collection", "w")
        .option("create_arrays", "false")
        .mode("append")
        .save()
    )
    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    pre = store.maintenance_stats()
    pre_rows = {r["chunk_idx"]: r for r in pre.collect()}
    assert pre_rows, "no chunk dirs found"
    assert all(r["bytes"] > 0 for r in pre_rows.values())
    assert any(r["n_files"] >= 2 for r in pre_rows.values())
    compacted = store.compact()
    assert compacted >= 1
    post = store.maintenance_stats()
    assert post.filter(F.col("n_files") != 1).count() == 0
    assert post.filter(F.col("n_temp") != 0).count() == 0
    assert post.count() == len(pre_rows)


def test_compact_publishes_atomically_and_gcs_stale_tmp(spark, tmp_path):
    """ADVICE r8 (medium): compact's merged output must appear via a
    dot-prefixed temp + os.replace — never as a partially-written file
    under its final visible name — and a crashed compact's leftover
    temp is GC'd by the next compact of that dir."""
    import glob as _glob
    import os

    from deker_server_adapters_spark.core.storage import ChunkStore, _merge_chunk_dir

    root = str(tmp_path / "whatomic")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 12))
    a = coll.arrays.create(data=base)
    register(spark)
    (
        spark.createDataFrame(
            [(a.id, 1, j, float(j)) for j in range(12)],
            "array_id string, x long, y long, value double",
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root)
        .option("collection", "w")
        .option("create_arrays", "false")
        .mode("append")
        .save()
    )
    chunks = os.path.join(root, "collections", "w", "chunks")
    d = next(
        d
        for d in _glob.glob(os.path.join(chunks, "array_id=*", "chunk_idx=*"))
        if len([f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")]) >= 2
    )
    # plant a stale crashed-compact temp; a real crash leaves exactly this
    stale = os.path.join(d, ".part-compact-deadbeef.parquet.tmp")
    with open(stale, "wb") as f:
        f.write(b"garbage")
    assert _merge_chunk_dir(d) == 1
    names = os.listdir(d)
    assert not any(n.endswith(".tmp") for n in names), names  # temp GC'd + none left
    vis = [n for n in names if n.endswith(".parquet") and not n.startswith(".")]
    assert len(vis) == 1 and vis[0].startswith("part-compact-")
    # the published file is complete and readable
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(d, vis[0]))
    assert len(t) >= 1 and "seq" in t.schema.names


def test_update_writes_cells_no_run_covers(spark, tmp_path):
    """A sparse deker append covers part of an update's box. The update
    must write every cell of the box, not only the appended ones, and
    leave the cells outside it at the fill value."""
    root = str(tmp_path / "whsparse")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    (
        spark.createDataFrame(
            [("s1", 1, j, float(j)) for j in range(6)],
            "array_id string, x long, y long, value double",
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root)
        .option("collection", "w")
        .mode("append")
        .save()
    )
    arr = wh.collections.read("w").arrays.get_by_id("s1")
    arr.update((slice(0, 3), slice(0, 12)), 9.0)
    want = np.full((20, 12), SCHEMA.fill_value)
    want[0:3, :] = 9.0
    np.testing.assert_array_equal(arr.read_data(), want)


def test_analytic_views_resolve_overlapping_runs_last_write_wins(spark, tmp_path):
    """A deker append of rows 0-1 of a 4x4 array, then an update of
    rows 1-2, leaves overlapping runs. ``reduce``, ``cell_df`` and the
    default ``deker`` scan must agree with ``read_data``: 12 written
    cells, 11 per column, 44 in all. Then a created array with two
    overlapping updates: ``cell_df`` has one row per cell and sums to
    the array's."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "whlww")
    wh = Warehouse(spark, root)
    small = ArraySchema(
        dtype="float64", dimensions=(DimensionSchema("x", 4), DimensionSchema("y", 4))
    )
    coll = wh.collections.create("w", small)
    register(spark)
    (
        spark.createDataFrame(
            [("r6", x, y, 1.0) for x in range(2) for y in range(4)],
            "array_id string, x long, y long, value double",
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    arr = coll.arrays.get_by_id("r6")
    arr.update((slice(1, 3), slice(0, 4)), 5.0)

    data = arr.read_data()
    np.testing.assert_array_equal(data[:3].sum(axis=0), [11.0] * 4)
    sums = {r["y"]: r["sum"] for r in arr.reduce("x", "sum").collect()}
    assert sums == {y: 11.0 for y in range(4)}
    cells = arr.cell_df().toPandas()
    assert len(cells) == 12 and cells.value.sum() == 44.0
    got = np.zeros((4, 4))
    got[cells.x, cells.y] = cells.value
    np.testing.assert_array_equal(got, data)
    scan = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load()
        .agg(F.count("value").alias("n"), F.sum("value").alias("s"))
        .first()
    )
    assert (scan["n"], scan["s"]) == (12, 44.0)

    base = np.arange(16, dtype=np.float64).reshape(4, 4)
    b = coll.arrays.create(data=base)
    b.update((slice(0, 3), slice(0, 3)), -1.0)
    b.update((slice(2, 4), slice(1, 4)), 2.0)
    want = base.copy()
    want[0:3, 0:3] = -1.0
    want[2:4, 1:4] = 2.0
    np.testing.assert_array_equal(b.read_data(), want)
    row = b.cell_df().agg(F.count("value").alias("n"), F.sum("value").alias("s")).first()
    assert (row["n"], row["s"]) == (16, want.sum())


def test_cells_df_resolves_last_write_wins_like_cell_df(spark, tmp_path):
    """``ArrayAdapter.cells_df`` is the same last-write-wins view as
    ``Array.cell_df`` and ``read_data``: after an update of one array
    and an overlapping ``deker`` append to another, it has one row per
    cell, holding the cell's latest value, equal to NumPy."""
    root = str(tmp_path / "whcells")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    register(spark)
    base = np.arange(240, dtype=np.float64).reshape(20, 12)
    a = coll.arrays.create(id_="a", data=base)
    b = coll.arrays.create(id_="b", data=-base)
    a.update((slice(2, 5), slice(3, 6)), 1000.0)
    (
        spark.createDataFrame(
            [("b", 7, y, 500.0 + y) for y in range(12)],
            "array_id string, x long, y long, value double",
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    want = {"a": base.copy(), "b": -base}
    want["a"][2:5, 3:6] = 1000.0
    want["b"][7, :] = 500.0 + np.arange(12)

    def dense(pdf):
        got = np.full((20, 12), np.nan)
        got[pdf.x, pdf.y] = pdf.value
        return got

    cells = coll.arrays.cells_df(["a", "b"]).toPandas()
    assert list(cells.columns) == ["array_id", "x", "y", "value"]
    for aid, arr in (("a", a), ("b", b)):
        mine = cells[cells.array_id == aid]
        assert len(mine) == 240  # one row per cell, not one per run cell
        np.testing.assert_array_equal(dense(mine), want[aid])
        np.testing.assert_array_equal(dense(arr.cell_df().toPandas()), want[aid])
        np.testing.assert_array_equal(arr.read_data(), want[aid])
    everything = coll.arrays.cells_df().toPandas()  # no ids: every array
    assert len(everything) == 480
    assert everything.value.sum() == want["a"].sum() + want["b"].sum()


def test_cells_df_excludes_overlapping_dirs_of_many_arrays(spark, tmp_path):
    """The plain plan excludes every multi-file dir through one set of
    dir keys, not a term per array: a per-array OR tree overflowed the
    JVM stack while the filter was built. 2000 arrays whose one chunk
    holds an unfolded update (copies of one updated array's dir) read
    one row per cell, each with its latest value, beside an array
    without an update."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from deker_server_adapters_spark.core.storage import chunk_dir, visible_chunk_files

    root = str(tmp_path / "whmany")
    wh = Warehouse(spark, root)
    small = ArraySchema(
        dtype="float64", dimensions=(DimensionSchema("x", 4), DimensionSchema("y", 4))
    )
    coll = wh.collections.create("w", small)
    base = np.arange(16, dtype=np.float64).reshape(4, 4)
    a = coll.arrays.create(id_="a", data=base)
    a.update((slice(1, 3), slice(1, 4)), -1.0)
    coll.arrays.create(id_="plain", data=base)
    chunks = os.path.join(root, "collections", "w", "chunks")
    assert len(visible_chunk_files(chunk_dir(chunks, "a", 0))) == 2
    for i in range(2000):
        shutil.copytree(chunk_dir(chunks, "a"), chunk_dir(chunks, f"c{i:04d}"))
    want = base.copy()
    want[1:3, 1:4] = -1.0

    cells = coll.arrays.cells_df()
    per_array = cells.groupBy("array_id").agg(F.count("value").alias("n"), F.sum("value").alias("s"))
    got = {r["array_id"]: (r["n"], r["s"]) for r in per_array.collect()}
    assert got.pop("plain") == (16, base.sum())
    assert got == {aid: (16, want.sum()) for aid in ["a", *(f"c{i:04d}" for i in range(2000))]}
    mine = cells.filter(F.col("array_id") == "c1999").toPandas()
    dense = np.full((4, 4), np.nan)
    dense[mine.x, mine.y] = mine.value
    np.testing.assert_array_equal(dense, want)


def test_cell_df_build_opens_no_chunk_file(spark, tmp_path, monkeypatch):
    """Building ``cell_df`` over an updated array plans from the
    directory listing alone: no chunk file is opened on the driver
    while the DataFrame is built. The view still resolves the update."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "whnoopen"))
    coll = wh.collections.create("w", SCHEMA)
    base = np.arange(240, dtype=np.float64).reshape(20, 12)
    a = coll.arrays.create(id_="a", data=base)
    a.update((slice(2, 5), slice(3, 6)), -1.0)
    want = base.copy()
    want[2:5, 3:6] = -1.0

    def opened(*args, **kwargs):
        raise AssertionError(f"chunk file opened on the driver: {args}")

    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", opened)
        df = a.cell_df()
    cells = df.toPandas()
    assert len(cells) == 240
    got = np.full((20, 12), np.nan)
    got[cells.x, cells.y] = cells.value
    np.testing.assert_array_equal(got, want)


def test_cell_df_plan_resolves_without_an_aggregate(spark, tmp_path):
    """``cell_df`` over an array with an unfolded update replays the
    multi-file dir in a ``mapInArrow`` task, as ``read_data`` replays it:
    its physical plan holds no ``max_by`` and no aggregate keyed on the
    cell coordinates, and no shuffle."""
    from deker_server_adapters_spark.plans.explain import physical_plan

    wh = Warehouse(spark, str(tmp_path / "whnoagg"))
    coll = wh.collections.create("w", SCHEMA)
    a = coll.arrays.create(id_="a", data=np.zeros((20, 12)))
    a.update((slice(0, 2), slice(0, 2)), 1.0)
    plan = physical_plan(a.cell_df())
    for node in ("max_by", "Aggregate", "Exchange"):
        assert node not in plan, plan
    assert "MapInArrow" in plan, plan


def test_cell_df_build_starts_no_listing_job(spark, tmp_path):
    """Past 32 paths Spark lists a file source in a job of one task per
    path, and a chunk store holds one dir per array. ``cell_df`` lists
    its own scan on the driver instead, in any session, and leaves the
    session's listing threshold as it found it."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    wh = Warehouse(spark, str(tmp_path / "whlisting"))
    coll = wh.collections.create("w", SCHEMA)
    for k in range(40):
        coll.arrays.create(id_=f"a{k:02d}", data=np.full((20, 12), float(k)))
    sc = spark.sparkContext
    before = spark.conf.get(key, None)
    sc.setJobGroup("cell_df_build", "cell_df build")
    try:
        df = coll.arrays.cells_df(None)
        jobs = sc.statusTracker().getJobIdsForGroup("cell_df_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert spark.conf.get(key, None) == before
    assert df.count() == 40 * 240


def test_cell_df_id_filters_are_partition_filters(spark, tmp_path):
    """``cell_df``'s id filter and its filter of the replayed dirs are
    each one SQL IN-list over partition columns. Ids holding ``'``,
    ``\\`` and ``/`` select exactly their arrays, and both predicates sit
    in the scan's ``PartitionFilters``, so pruning stays static."""
    import re

    from deker_server_adapters_spark.core.storage import ChunkGrid, ChunkStore, normalize_bounds
    from deker_server_adapters_spark.plans.explain import formatted_plan

    store = ChunkStore(spark, str(tmp_path / "whquote"))
    grid = ChunkGrid((20, 12), (2, 1))
    ids = ["it's", "back\\slash", "a/b", "plain", "q\\'x"]
    for k, aid in enumerate(ids):
        store.write_array(aid, grid, np.full((20, 12), float(k)))
    for aid in ("a/b", "it's"):  # a second file in chunk 0
        store.update_slice(aid, grid, normalize_bounds((slice(0, 2), slice(0, 2)), (20, 12)), -1.0)
    df = store.cell_df(ids[:4], ["x", "y"])
    (filters,) = [line for line in formatted_plan(df).splitlines() if "PartitionFilters" in line]
    assert re.search(r"array_id#\d+ IN \(it's,back\\slash,a/b,plain\)", filters), filters
    assert re.search(
        r"NOT concat_ws\(/, array_id#\d+, cast\(chunk_idx#\d+L as string\)\) IN \(a/b/0,it's/0\)", filters
    ), filters
    cells = df.toPandas()
    assert sorted(set(cells.array_id)) == sorted(ids[:4])
    for k, aid in enumerate(ids[:4]):
        want = np.full((20, 12), float(k))
        if aid in ("a/b", "it's"):
            want[0:2, 0:2] = -1.0
        mine = cells[cells.array_id == aid]
        got = np.full((20, 12), np.nan)
        got[mine.x, mine.y] = mine.value
        np.testing.assert_array_equal(got, want, err_msg=aid)


def test_filled_box_append_writes_one_run_per_file(spark, tmp_path):
    """Each writer task whose cells fill a box (whole rows of a range
    of x) stages one run, not one per row; ``compact`` folds the
    chunk's files into one file of one run, since together they fill
    the chunk."""
    import pyarrow.parquet as pq

    from deker_server_adapters_spark.core.storage import ChunkStore, visible_chunk_files

    root = str(tmp_path / "whbox")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    register(spark)
    data = np.arange(240, dtype=np.float64).reshape(20, 12)
    (
        spark.createDataFrame(
            [("a1", i, j, float(data[i, j])) for i in range(20) for j in range(12)],
            "array_id string, x long, y long, value double",
        )
        .repartitionByRange(4, "x")
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .mode("append").save()
    )
    (d,) = [
        os.path.join(dp, n)
        for dp, dirs, _ in os.walk(os.path.join(root, "collections", "w", "chunks"))
        for n in dirs
        if n.startswith("chunk_idx=")
    ]
    files = visible_chunk_files(d)
    assert len(files) > 1
    assert [pq.read_metadata(f).num_rows for f in files] == [1] * len(files)
    ChunkStore(spark, os.path.join(root, "collections", "w")).compact()
    (folded,) = visible_chunk_files(d)
    assert pq.read_metadata(folded).num_rows == 1
    np.testing.assert_array_equal(coll.arrays.get_by_id("a1").read_data(), data)


def test_writer_task_keeps_the_later_row_of_a_cell(spark, tmp_path):
    """A writer task given one cell twice, within one Arrow batch or
    across two, stores the later row. Every file a task writes holds
    pairwise disjoint runs (the ``encode_runs`` invariant ``cell_df``
    rests on), also for scattered cells given many times over."""
    import pyarrow as pa

    from deker_server_adapters_spark.core.storage import visible_chunk_files, walk_chunk_dirs
    from deker_server_adapters_spark.sources.deker_datasource import DekerWriter
    from tests.test_storage_properties import file_runs_disjoint

    root = str(tmp_path / "whdup")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)

    def batch(rows):
        x, y, v = zip(*rows)
        return pa.record_batch(
            {
                "array_id": pa.array(["d1"] * len(rows)),
                "x": pa.array(x, pa.int64()),
                "y": pa.array(y, pa.int64()),
                "value": pa.array(v, pa.float64()),
            }
        )

    schema = spark.createDataFrame([], "array_id string, x long, y long, value double").schema
    writer = DekerWriter(root, "w", schema, create_arrays=True)
    first = [(0, 0, 1.0), (3, 4, 5.0), (0, 1, 2.0), (0, 0, 3.0), (0, 0, 4.0)]
    second = [(0, 1, 6.0), (3, 5, 7.0), (3, 4, 8.0)]
    writer.commit([writer.write(iter([batch(first), batch(second)]))])
    want = np.zeros((20, 12))
    want[0, 0], want[0, 1], want[3, 4], want[3, 5] = 4.0, 6.0, 8.0, 7.0
    np.testing.assert_array_equal(coll.arrays.get_by_id("d1").read_data(), want)

    rng = np.random.RandomState(7)
    rows = list(zip(rng.randint(0, 20, 300).tolist(), rng.randint(0, 12, 300).tolist(), rng.rand(300).tolist()))
    writer = DekerWriter(root, "w", schema, create_arrays=True)
    writer.commit([writer.write(iter([batch(rows[:150]), batch(rows[150:])]))])
    for x, y, v in rows:
        want[x, y] = v
    np.testing.assert_array_equal(coll.arrays.get_by_id("d1").read_data(), want)
    chunks = os.path.join(root, "collections", "w", "chunks")
    files = [f for _, _, d in walk_chunk_dirs(chunks) for f in visible_chunk_files(d)]
    assert len(files) == 2 and all(file_runs_disjoint(f) for f in files)


def test_walk_chunk_dirs_names_and_prunes(tmp_path):
    """The one chunk-dir walker: ``(array_id, chunk_idx, path)`` by id,
    then chunk index (numeric, not by name), unescaping ids; given ids,
    only their dirs, and none for an id with no dir or a missing root."""
    import os

    from deker_server_adapters_spark.core.storage import chunk_dir, walk_chunk_dirs

    root = str(tmp_path / "chunks")
    for aid, idx in (("b", 10), ("b", 2), ("a#1/x", 0), ("c", 1)):
        os.makedirs(chunk_dir(root, aid, idx))
    os.makedirs(os.path.join(root, ".array_id=tmp"))  # not a chunk dir
    assert list(walk_chunk_dirs(root)) == [
        ("a#1/x", 0, chunk_dir(root, "a#1/x", 0)),
        ("b", 2, chunk_dir(root, "b", 2)),
        ("b", 10, chunk_dir(root, "b", 10)),
        ("c", 1, chunk_dir(root, "c", 1)),
    ]
    assert [(a, i) for a, i, _ in walk_chunk_dirs(root, ["c", "a#1/x", "gone"])] == [
        ("a#1/x", 0),
        ("c", 1),
    ]
    assert list(walk_chunk_dirs(str(tmp_path / "missing"))) == []


def test_array_counters_count_a_fixed_sequence(spark, tmp_path, monkeypatch, empty_chunk_cache):
    """``storage.stats()`` counts cache hits, misses, evictions and
    cached bytes, delta appends, folds, chunk reads and the runs they
    replayed — exactly, for a fixed sequence on one-chunk arrays, with
    one fold every ``FOLD_FILES`` updates of the chunk."""
    storage = empty_chunk_cache
    wh = Warehouse(spark, str(tmp_path / "whcount"))
    coll = wh.collections.create("w", SCHEMA)
    a = coll.arrays.create(data=np.zeros((20, 12)))
    dense = 20 * 12 * 8  # bytes of the one dense run
    delta = 2 * 2 * 8  # bytes of one 2x2 delta run

    def counted(fn):
        before = storage.stats()
        fn()
        after = storage.stats()
        return {
            k: after[k] - before[k]
            for k in after
            if k not in ("cached_bytes", "cached_dirs") and after[k] != before[k]
        }

    # a cold read decodes and caches the chunk; a warm one hits
    assert counted(a.read_data) == {"cache_misses": 1, "chunk_reads": 1, "runs_replayed": 1}
    assert counted(a.read_data) == {"cache_hits": 1, "chunk_reads": 1, "runs_replayed": 1}
    assert storage.stats()["cached_bytes"] == dense

    # an update appends one delta run and extends the cached entry
    def update(k):
        return lambda: a.update((slice(2 * (k % 10), 2 * (k % 10) + 2), slice(0, 2)), float(k))

    assert counted(update(0)) == {"delta_appends": 1}
    assert storage.stats()["cached_bytes"] == dense + delta
    assert counted(a.read_data) == {"cache_hits": 1, "chunk_reads": 1, "runs_replayed": 2}

    # the FOLD_FILES-th update of the chunk folds it; the fold reads the
    # entry the update just extended and resolves every delta into the
    # dense run
    n = storage.FOLD_FILES
    for k in range(1, n - 1):
        assert counted(update(k)) == {"delta_appends": 1}
    assert counted(update(n - 1)) == {"delta_appends": 1, "folds": 1, "cache_hits": 1}
    assert storage.stats()["cached_bytes"] == dense
    assert counted(a.read_data) == {"cache_hits": 1, "chunk_reads": 1, "runs_replayed": 1}
    for k in range(n, 2 * n - 1):
        assert counted(update(k)) == {"delta_appends": 1}
    assert counted(update(2 * n - 1)) == {"delta_appends": 1, "folds": 1, "cache_hits": 1}

    # a budget of one chunk: caching a second chunk evicts the first
    monkeypatch.setattr(storage, "CHUNK_CACHE_BYTES", dense)
    b = coll.arrays.create(data=np.ones((20, 12)))
    assert counted(b.read_data) == {
        "cache_misses": 1, "cache_evictions": 1, "chunk_reads": 1, "runs_replayed": 1,
    }
    assert storage.stats()["cached_bytes"] == dense and storage.stats()["cached_dirs"] == 1


def test_update_crash_before_removal_keeps_updated_values(spark, tmp_path, monkeypatch):
    """An update appends a delta run and removes nothing; the fold that
    later resolves the dir publishes its file before it removes the
    files it replaces. If the fold dies in between, reads must already
    return the updated values (the new file sorts after every file it
    replaces), and a following compact() must keep them."""
    import glob as _glob
    import os

    from deker_server_adapters_spark.core.storage import (
        ChunkStore,
        _merge_chunk_dir,
        is_visible_chunk_file,
        visible_chunk_files,
    )

    root = str(tmp_path / "whcrash")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    base = np.random.RandomState(4).rand(20, 12)
    a = coll.arrays.create(data=base)
    (d,) = _glob.glob(os.path.join(root, "collections", "w", "chunks", "array_id=*", "chunk_idx=*"))
    register(spark)
    (
        spark.createDataFrame(
            [(a.id, 2, j, -1.0) for j in range(12)],
            "array_id string, x long, y long, value double",
        )
        .coalesce(1)
        .write.format("deker")
        .option("path", root)
        .option("collection", "w")
        .option("create_arrays", "false")
        .mode("append")
        .save()
    )
    want = base.copy()
    want[2, :] = -1.0
    assert len(visible_chunk_files(d)) == 2
    a.update((slice(0, 4), slice(3, 9)), np.full((4, 6), 5.0))
    want[0:4, 3:9] = 5.0
    replaced = visible_chunk_files(d)
    assert len(replaced) == 3  # the update appended its delta run

    real_remove = os.remove

    def crash(path):
        name = os.path.basename(path)
        if is_visible_chunk_file(name):
            raise OSError("crash before removal")
        real_remove(path)

    with monkeypatch.context() as m:
        m.setattr(os, "remove", crash)
        with pytest.raises(OSError, match="crash before removal"):
            _merge_chunk_dir(d)
    after = visible_chunk_files(d)
    assert after[:-1] == replaced and after[-1] not in replaced  # sorts last
    np.testing.assert_array_equal(a.read_data(), want)

    assert ChunkStore(spark, os.path.join(root, "collections", "w")).compact() == 1
    assert len(visible_chunk_files(d)) == 1
    np.testing.assert_array_equal(a.read_data(), want)


def test_seq_overflow_reserves_global_range(spark, tmp_path, monkeypatch):
    """ADVICE r8: a later next_write_seq() in the same process must
    stamp NEWER than every run a writer task wrote, or last-write-wins
    inverts. Counter bits shrink to 2 and the clock freezes, so every
    stamp comes from the process-global monotonic branch."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from deker_server_adapters_spark.core import storage
    from deker_server_adapters_spark.sources import deker_datasource as dds

    root = str(tmp_path / "whovf")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    monkeypatch.setattr(storage, "_SEQ_COUNTER_BITS", 2)
    # frozen clock: every next_write_seq() takes the monotonic branch
    monkeypatch.setattr(time, "time_ns", lambda: 0)
    struct = StructType(
        [
            StructField("array_id", StringType()),
            StructField("x", LongType()),
            StructField("y", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    writer = dds.DekerWriter(root, "w", struct, create_arrays=True)
    # 24 single-cell runs (gapped y)
    cells = [(x, y) for x in range(4) for y in range(0, 12, 2)]
    batch = pa.record_batch(
        {
            "array_id": pa.array(["a1"] * len(cells)),
            "x": pa.array([c[0] for c in cells], pa.int64()),
            "y": pa.array([c[1] for c in cells], pa.int64()),
            "value": pa.array([float(i) for i in range(len(cells))]),
        }
    )
    commit = writer.write(iter([batch]))
    max_seq = max(max(pq.read_table(f)["seq"].to_pylist()) for f in commit.files)
    assert storage.next_write_seq() > max_seq


def test_two_concurrent_writers_both_commit(spark, tmp_path):
    """r10 (VERDICT r9 item 4): two writers interleaved on ONE
    collection — each writes its task files, then both commit. With
    the old any-temp GC, the first commit deleted the second writer's
    still-temp files and its commit crashed (os.replace on a vanished
    source) or silently lost data. Scoped write_id GC must let both
    commits land: all cells visible, no temp left behind."""
    import glob as _glob
    import os

    import pyarrow as pa

    from deker_server_adapters_spark.core.storage import TMP_PREFIX
    from deker_server_adapters_spark.sources.deker_datasource import DekerWriter

    root = str(tmp_path / "wh2w")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    read_schema = (
        spark.createDataFrame(
            [("a1", 0, 0, 0.0)], "array_id string, x long, y long, value double"
        ).schema
    )

    def batch(rows):
        return pa.RecordBatch.from_pylist(
            [dict(array_id=a, x=x, y=y, value=v) for a, x, y, v in rows]
        )

    w1 = DekerWriter(root, "w", read_schema, create_arrays=True)
    w2 = DekerWriter(root, "w", read_schema, create_arrays=True)
    assert w1.write_id != w2.write_id
    # both writers target the SAME chunk dir (cells in chunk 0)
    m1 = w1.write(iter([batch([("a1", 0, 0, 1.0), ("a1", 0, 1, 2.0)])]))
    m2 = w2.write(iter([batch([("a1", 1, 0, 3.0), ("a1", 1, 1, 4.0)])]))
    # writer 1 commits while writer 2's files are still temp-named
    w1.commit([m1])
    for path in m2.files:
        assert os.path.exists(path), "w1's commit GC'd w2's in-flight temp"
    w2.commit([m2])
    pdf = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load().toPandas()
    )
    got = {(r.x, r.y): r.value for r in pdf.itertuples()}
    assert got == {(0, 0): 1.0, (0, 1): 2.0, (1, 0): 3.0, (1, 1): 4.0}
    chunks_dir = os.path.join(root, "collections", "w", "chunks")
    leftovers = [
        f
        for d in _glob.glob(os.path.join(chunks_dir, "array_id=*", "chunk_idx=*"))
        for f in os.listdir(d)
        if f.startswith(TMP_PREFIX)
    ]
    assert leftovers == []


@pytest.mark.slow
def test_changefeed_compact_read_maintenance_cycle(spark, tmp_path):
    """r15 (r14 verdict item 7): the composed maintenance loop a
    production owner actually runs — changefeed readStream accumulating
    incremental per-cell state, then ``compact()``, then the steady
    -state dedup batch read — pinned end to end on one store:

      1. pre-compact, the changefeed-accumulated cells (dedup by cell
         identity) equal the last-write-wins batch read;
      2. ``compact()`` merges the multi-file chunk dirs (>0 dirs);
      3. the SAME stream/checkpoint resumed after compact re-emits the
         merged chunks (the documented CDC re-emission contract,
         storage.py compact() note) — accumulated state must STILL
         equal the post-compact batch dedup read (re-emission carries
         identical values, so idempotent consumers converge).
    """
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.core.storage import ChunkStore

    root = str(tmp_path / "whcc")
    wh = Warehouse(spark, root)
    wh.collections.create("w", SCHEMA)
    register(spark)
    rng = np.random.RandomState(11)
    data = rng.rand(20, 12)
    # three disjoint appends -> multi-file chunk dirs + 3 feed batches
    for b in range(3):
        rows = [
            ("a1", i, j, float(data[i, j]))
            for i in range(b, 20, 3)
            for j in range(12)
        ]
        (
            spark.createDataFrame(rows, "array_id string, x long, y long, value double")
            .coalesce(2)
            .write.format("deker")
            .option("path", root).option("collection", "w")
            .mode("append").save()
        )

    sink = str(tmp_path / "feed_sink")
    ck = str(tmp_path / "feed_ck")

    def run_feed_pass():
        (
            spark.readStream.format("deker")
            .option("path", root).option("collection", "w").load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    def accumulated():
        return (
            spark.read.parquet(sink)
            .groupBy("array_id", "x", "y")
            # disjoint appends: every emission of a cell carries the
            # same value, so any order-free pick is the cell's value
            .agg(F.max("value").alias("value"))
            .toPandas()
            .sort_values(["array_id", "x", "y"])
            .reset_index(drop=True)
        )

    def batch_dedup():
        return (
            spark.read.format("deker")
            .option("path", root).option("collection", "w").load()
            .toPandas()
            .sort_values(["array_id", "x", "y"])
            .reset_index(drop=True)
        )

    run_feed_pass()
    pre = accumulated()
    pd.testing.assert_frame_equal(pre, batch_dedup(), check_dtype=False)
    n_raw_pre = len(spark.read.parquet(sink).collect())

    store = ChunkStore(spark, os.path.join(root, "collections", "w"))
    assert store.compact() > 0  # the appends left multi-file dirs

    run_feed_pass()  # same checkpoint: merged files are NEW -> re-emit
    n_raw_post = len(spark.read.parquet(sink).collect())
    assert n_raw_post > n_raw_pre  # CDC re-emission actually happened
    pd.testing.assert_frame_equal(accumulated(), batch_dedup(), check_dtype=False)


def test_read_data_relists_a_file_compacted_mid_read(spark, tmp_path, monkeypatch):
    """read_data lists a chunk dir, then compaction merges and removes
    the listed files before they are opened. The read must re-list and
    return the exact array from the merged file — no fill-value holes
    where the vanished files' runs were."""
    import os

    from deker_server_adapters_spark.core import storage

    root = str(tmp_path / "whvanish")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    base = np.random.RandomState(8).rand(20, 12) + 1.0  # fill is 0.0
    a = coll.arrays.create(data=base)
    register(spark)
    patch = [(a.id, i, j, float(-i - j)) for i in (3, 11) for j in range(12)]
    (
        spark.createDataFrame(patch, "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .option("create_arrays", "false")
        .mode("append").save()
    )
    want = base.copy()
    for _, i, j, v in patch:
        want[i, j] = v
    np.testing.assert_allclose(a.read_data(), want)
    # that read cached the chunk; start cold so the next read opens files
    storage.drop_cached(storage.chunk_dir(os.path.join(coll.path, "chunks"), a.id))

    real_read = storage._read_parquet
    vanished = []

    def read_after_compact(path):
        if not vanished:  # compaction races the first open
            vanished.append(path)
            assert storage._merge_chunk_dir(os.path.dirname(path)) == 1
        return real_read(path)

    monkeypatch.setattr(storage, "_read_parquet", read_after_compact)
    np.testing.assert_allclose(a.read_data(), want)
    assert vanished and not os.path.exists(vanished[0])
    # the tables came from a relisting, not the listing the stat signed
    assert os.path.abspath(os.path.dirname(vanished[0])) not in storage._CACHE


def _append_cells(spark, root, cells):
    """A sparse ``deker`` append of ``(array_id, x, y, value)`` cells
    into collection ``w`` as one file per touched chunk."""
    (
        spark.createDataFrame(cells, "array_id string, x long, y long, value double")
        .coalesce(1)
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .option("create_arrays", "false")
        .mode("append").save()
    )


def test_read_data_relists_a_file_removed_before_its_stat(spark, tmp_path, monkeypatch):
    """read_data lists a chunk dir, then compaction removes the listed
    files before the cache signature stats them. The read must re-list
    and return the merged file's values, and cache nothing from the
    stale listing."""
    import os

    from deker_server_adapters_spark.core import storage

    root = str(tmp_path / "whstat")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    base = np.random.RandomState(10).rand(20, 12) + 1.0
    a = coll.arrays.create(data=base)
    register(spark)
    patch = [(a.id, i, j, float(-i - j)) for i in (2, 9) for j in range(12)]
    _append_cells(spark, root, patch)
    want = base.copy()
    for _, i, j, v in patch:
        want[i, j] = v
    d = storage.chunk_dir(os.path.join(coll.path, "chunks"), a.id, 0)
    storage.drop_cached(d)

    real_list = storage.visible_chunk_files
    compacted = []

    def list_then_compact(path):
        listed = real_list(path)
        if not compacted:  # compaction lands between listing and stat
            compacted.append(listed)
            assert storage._merge_chunk_dir(path) == 1
        return listed

    monkeypatch.setattr(storage, "visible_chunk_files", list_then_compact)
    np.testing.assert_allclose(a.read_data(), want)
    assert len(compacted[0]) == 2 and not any(map(os.path.exists, compacted[0]))
    assert os.path.abspath(d) not in storage._CACHE


def test_chunk_cache_stays_coherent_with_every_writer(spark, tmp_path):
    """A chunk cached by a read is then changed behind the cache by a
    sparse deker append, compact(), delete + re-create under the same
    id and an in-place rewrite of an existing file. Each following read
    must equal NumPy. An update of a warm chunk that an append changed
    after it was cached must keep the appended cells."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from deker_server_adapters_spark.core import storage

    root = str(tmp_path / "whcoherent")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    rng = np.random.RandomState(11)
    want = rng.rand(20, 12) + 1.0
    a = coll.arrays.create(data=want)
    register(spark)
    d = storage.chunk_dir(os.path.join(coll.path, "chunks"), a.id, 0)
    np.testing.assert_allclose(a.read_data(), want)

    # a sparse deker append
    cells = [(a.id, 4, j, float(100 + j)) for j in range(0, 12, 2)]
    _append_cells(spark, root, cells)
    for _, i, j, v in cells:
        want[i, j] = v
    np.testing.assert_allclose(a.read_data(), want)

    # compact() on executors: same values, and the cache now holds the
    # compacted file's signature, not the two files it replaced
    assert storage.ChunkStore(spark, coll.path).compact() == 1
    np.testing.assert_allclose(a.read_data(), want)
    (only,) = storage.visible_chunk_files(d)
    assert [e[0] for e in storage._CACHE[os.path.abspath(d)][0]] == [os.path.basename(only)]

    # delete + re-create under the same id
    coll.arrays.delete(a)
    want = rng.rand(20, 12) + 2.0
    a = coll.arrays.create(id_=a.id, data=want)
    np.testing.assert_allclose(a.read_data(), want)

    # an in-place rewrite of an existing file name, one run longer
    (path,) = storage.visible_chunk_files(d)
    table = pq.read_table(path)
    extra = pa.table(
        {
            "origin": [[7, 0]],
            "shape": [[1, 12]],
            "data": [[-7.0] * 12],
            "seq": [storage.next_write_seq()],
        },
        schema=table.schema,
    )
    pq.write_table(pa.concat_tables([table, extra]), path)
    want[7, :] = -7.0
    np.testing.assert_allclose(a.read_data(), want)

    # an update of a warm chunk that an append changed after it was cached
    cells = [(a.id, 15, j, float(-j)) for j in range(12)]
    _append_cells(spark, root, cells)
    for _, i, j, v in cells:
        want[i, j] = v
    a.update((slice(0, 3), slice(0, 12)), 9.0)
    want[0:3, :] = 9.0
    np.testing.assert_allclose(a.read_data(), want)


VSCHEMA_KW = dict(
    dtype="float64",
    dimensions=(DimensionSchema("x", 12), DimensionSchema("y", 8)),
    vgrid=(3, 2),
)


@pytest.fixture()
def empty_chunk_cache(monkeypatch):
    """A private, empty chunk cache for one test."""
    from collections import OrderedDict

    from deker_server_adapters_spark.core import storage

    monkeypatch.setattr(storage, "_CACHE", OrderedDict())
    monkeypatch.setattr(storage, "_cache_nbytes", 0)
    return storage


def test_chunk_cache_hits_write_through_and_budget(spark, tmp_path, monkeypatch, empty_chunk_cache):
    """Repeated reads and reads after an update decode no parquet; with
    a small budget a hot set past it still reads right, the cached
    bytes stay within the budget and a chunk larger than it is not
    cached; reads and updates from threads on disjoint chunks agree
    with the shadow and leave the byte count consistent."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from deker_server_adapters_spark.core import VArraySchema

    storage = empty_chunk_cache
    wh = Warehouse(spark, str(tmp_path / "whcache"))
    coll = wh.collections.create("v", VArraySchema(**VSCHEMA_KW))
    shadow = np.arange(96, dtype=np.float64).reshape(12, 8)
    va = coll.varrays.create(data=shadow)

    decoded = []
    real_read = storage._read_parquet
    monkeypatch.setattr(storage, "_read_parquet", lambda p: decoded.append(p) or real_read(p))

    np.testing.assert_array_equal(va.read_data(), shadow)
    assert len(decoded) == 6  # cold: one file per chunk
    decoded.clear()
    np.testing.assert_array_equal(va.read_data((slice(1, 3), 5)), shadow[1:3, 5])
    np.testing.assert_array_equal(va.read_data(), shadow)
    assert decoded == []
    # the update's own read is a hit, and its output is written through
    va.update((slice(0, 2), slice(0, 2)), -1.0)
    shadow[0:2, 0:2] = -1.0
    np.testing.assert_array_equal(va.read_data((slice(0, 4), slice(0, 4))), shadow[0:4, 0:4])
    assert decoded == []

    # a hot set of 6 chunks through a budget of 2.5 of them
    entry = max(e[2] for e in storage._CACHE.values())
    monkeypatch.setattr(storage, "CHUNK_CACHE_BYTES", int(2.5 * entry))
    storage.drop_cached(coll.path)
    for _ in range(2):
        np.testing.assert_array_equal(va.read_data(), shadow)
        assert 0 < storage._cache_nbytes <= storage.CHUNK_CACHE_BYTES
        assert 0 < len(storage._CACHE) < 6

    # a chunk larger than the whole budget is not cached, and evicts
    # none of the chunks that fit
    monkeypatch.setattr(storage, "CHUNK_CACHE_BYTES", 3 * entry)
    storage.drop_cached(coll.path)
    np.testing.assert_array_equal(va.read_data((slice(0, 4), slice(0, 4))), shadow[0:4, 0:4])
    small = list(storage._CACHE)
    big = wh.collections.create("w", SCHEMA).arrays.create(data=np.ones((20, 12)))
    decoded.clear()
    for _ in range(2):
        np.testing.assert_array_equal(big.read_data(), np.ones((20, 12)))
    assert len(decoded) == 2 and list(storage._CACHE) == small

    # threads on disjoint chunks, through the same budget of 3 chunks

    def work(box):
        out = []
        for k in range(4):
            value = float(100 * box[0].start + 10 * box[1].start + k)
            va.update(box, value)
            shadow[box] = value
            out.append(np.array_equal(va.read_data(box), shadow[box]))
        return all(out)

    boxes = [(slice(i, i + 4), slice(j, j + 4)) for i in (0, 4, 8) for j in (0, 4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(boxes)) as pool:
            assert all(pool.map(work, boxes, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    np.testing.assert_array_equal(va.read_data(), shadow)
    assert storage._cache_nbytes == sum(e[2] for e in storage._CACHE.values())
    assert storage._cache_nbytes <= storage.CHUNK_CACHE_BYTES


def test_deletes_drop_chunk_cache_entries(spark, tmp_path, empty_chunk_cache):
    """Cache memory does not outlive its data: array delete, varray
    delete, collection clear and collection delete each drop the cache
    entries of the dirs they remove, and only those."""
    import os

    from deker_server_adapters_spark.core import VArraySchema

    storage = empty_chunk_cache
    wh = Warehouse(spark, str(tmp_path / "whdrop"))

    def cached_under(path):
        root = os.path.abspath(path) + os.sep
        return [k for k in storage._CACHE if k.startswith(root)]

    coll = wh.collections.create("w", SCHEMA)
    a, b = (coll.arrays.create(data=np.full((20, 12), float(i))) for i in (1, 2))
    vcoll = wh.collections.create("v", VArraySchema(**VSCHEMA_KW))
    va = vcoll.varrays.create(data=np.ones((12, 8)))
    for arr in (a, b, va):
        arr.read_data()
    assert len(cached_under(coll.path)) == 2 and len(cached_under(vcoll.path)) == 6

    coll.arrays.delete(a)
    assert cached_under(coll.path) == [
        os.path.abspath(storage.chunk_dir(os.path.join(coll.path, "chunks"), b.id, 0))
    ]
    vcoll.varrays.delete(va)
    assert cached_under(vcoll.path) == []

    va = vcoll.varrays.create(data=np.ones((12, 8)))
    va.read_data()
    wh.collections.clear(vcoll)
    assert cached_under(vcoll.path) == [] and len(cached_under(coll.path)) == 1
    wh.collections.delete(coll)
    assert storage._CACHE == {} and storage._cache_nbytes == 0


def test_spark_escaped_array_id_roundtrip_and_delete(spark, tmp_path):
    """Spark escapes partition values in directory names (``#`` ->
    ``%23``, ``%`` -> ``%25``). The engine read, the deker writer and
    the source's planning must all agree on that one directory, and
    delete must remove it rather than a raw-named path that does not
    exist."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "whesc")
    wh = Warehouse(spark, root)
    coll = wh.collections.create("w", SCHEMA)
    aid = "st#1%a"
    data = np.random.RandomState(9).rand(20, 12)
    a = coll.arrays.create(id_=aid, data=data)
    np.testing.assert_allclose(a.read_data(), data)
    register(spark)
    (
        spark.createDataFrame(
            [(aid, 0, 0, -5.0)], "array_id string, x long, y long, value double"
        )
        .write.format("deker")
        .option("path", root).option("collection", "w")
        .option("create_arrays", "false")
        .mode("append").save()
    )
    data[0, 0] = -5.0
    np.testing.assert_allclose(a.read_data(), data)
    chunks = os.path.join(root, "collections", "w", "chunks")
    assert [d for d in os.listdir(chunks) if d.startswith("array_id=")] == [
        "array_id=st%231%25a"
    ]
    pdf = (
        spark.read.format("deker").option("path", root)
        .option("collection", "w").load()
        .filter(F.col("array_id") == aid).toPandas()
    )
    assert set(pdf.array_id) == {aid} and len(pdf) == 240
    got = np.full((20, 12), np.nan)
    got[pdf.x, pdf.y] = pdf.value
    np.testing.assert_allclose(got, data)

    coll.arrays.delete(a)
    assert not [d for d in os.listdir(chunks) if d.startswith("array_id=")]
    np.testing.assert_array_equal(a.read_data(), np.zeros((20, 12)))
