"""Array-engine + hash-ring operators, exercised as oracle-checked
queries.

- ``array_slice_agg``: ingest events into a dense (day x hour) array
  through the chunk store (distributed cell build), slice a sub-box
  via the long-format view, aggregate. The DuckDB oracle recomputes
  the same numbers straight from events — so the whole engine path
  (grid math, chunk build, cell_df index arithmetic, pruning) is
  value-checked, not just smoke-tested.
- ``varray_cell_table``: same through a vgrid-chunked varray.
- ``hash_ring_assignment``: the reference's ketama ring (md5 LE-uint32
  vnode keys, bisect-right wrap) expressed as a pure-SQL broadcast
  join — identical arithmetic on both engines, and the Spark plan is
  the one you'd run to route a 100 TB table: data side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deker_server_adapters_spark.functions.histogram import (
    round_ties_safe,
    round_ties_safe_sql,
)
from deker_server_adapters_spark.operators import Op
from deker_server_adapters_spark.sources.scratch import scratch_dir
from deker_server_adapters_spark.sources.tables import EVENTS_DUCK, load_table

_N_NODES = 5
_FACTOR = 40  # VNODE_FACTOR * n / total_weight with equal weights


# --- events -> dense array -> slice agg -------------------------------------

_DAY0 = "2024-01-01"
_N_DAYS = 30
_N_HOURS = 24


def _event_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.datediff(F.to_date("ts"), F.lit(_DAY0).cast("date")).alias("day"),
            F.hour("ts").alias("hour"),
            "value",
        )
        .filter((F.col("day") >= 0) & (F.col("day") < _N_DAYS))
        .groupBy("day", "hour")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 6)
            .cast("double")
            .alias("value")
        )
    )


def array_slice_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema, Warehouse

    wh = Warehouse(spark, scratch_dir("deker_spark_"))
    schema = ArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
    )
    coll = wh.collections.create("events_grid", schema)
    arr = coll.arrays.create_from_cells(_event_cells(spark, sf_dir))
    cells = arr.cell_df()
    return (
        cells.filter((F.col("day") >= 5) & (F.col("day") < 15) & (F.col("hour") < 12))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count("*").alias("n_cells"),
        )
    )


ARRAY_SLICE_SQL = f"""
WITH cells AS (
  SELECT date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) AS day, hour(ts) AS hour,
         CAST(round(sum(CAST(value AS DECIMAL(30,6))), 6) AS DOUBLE) AS value
  FROM {EVENTS_DUCK}
  WHERE date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) BETWEEN 0 AND {_N_DAYS - 1}
  GROUP BY day, hour
), grid AS (
  -- the dense array: every (day, hour) cell exists, absent cells = 0
  SELECT CAST(d.range AS BIGINT) AS day, CAST(h.range AS BIGINT) AS hour,
         coalesce(cells.value, 0.0) AS value
  FROM range({_N_DAYS}) d CROSS JOIN range({_N_HOURS}) h
  LEFT JOIN cells ON cells.day = d.range AND cells.hour = h.range
)
SELECT day,
       CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value,
       count(*) AS n_cells
FROM grid
WHERE day >= 5 AND day < 15 AND hour < 12
GROUP BY day
"""


def varray_cell_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deker_server_adapters_spark.core import DimensionSchema, VArraySchema, Warehouse

    wh = Warehouse(spark, scratch_dir("deker_spark_"))
    schema = VArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
        vgrid=(5, 4),
    )
    coll = wh.collections.create("events_vgrid", schema)
    va = coll.varrays.create_from_cells(_event_cells(spark, sf_dir))
    return (
        va.cell_df()
        .filter((F.col("hour") >= 6) & (F.col("hour") < 18))
        .groupBy("hour")
        .agg(
            round_ties_safe(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double") / F.count("value"), 4
            ).alias("mean_value"),
            F.count("*").alias("n_cells"),
        )
    )


VARRAY_CELL_SQL = f"""
WITH cells AS (
  SELECT date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) AS day, hour(ts) AS hour,
         CAST(round(sum(CAST(value AS DECIMAL(30,6))), 6) AS DOUBLE) AS value
  FROM {EVENTS_DUCK}
  WHERE date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) BETWEEN 0 AND {_N_DAYS - 1}
  GROUP BY day, hour
), grid AS (
  SELECT CAST(d.range AS BIGINT) AS day, CAST(h.range AS BIGINT) AS hour,
         coalesce(cells.value, 0.0) AS value
  FROM range({_N_DAYS}) d CROSS JOIN range({_N_HOURS}) h
  LEFT JOIN cells ON cells.day = d.range AND cells.hour = h.range
)
SELECT hour,
       {round_ties_safe_sql("CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value)", 4)} AS mean_value,
       count(*) AS n_cells
FROM grid
WHERE hour >= 6 AND hour < 18
GROUP BY hour
"""


# --- consistent hash ring as SQL ---------------------------------------------


def _le32_spark(hx: str, word: int) -> str:
    """LE uint32 of md5-hex word (Spark SQL string expr)."""
    terms = []
    for byte in range(4):
        start = 8 * word + 2 * byte + 1
        terms.append(
            f"CAST(conv(substr({hx}, {start}, 2), 16, 10) AS BIGINT) * {256 ** byte}"
        )
    return "(" + " + ".join(terms) + ")"


def _le32_duck(hx: str, word: int) -> str:
    terms = []
    for byte in range(4):
        start = 8 * word + 2 * byte + 1
        terms.append(
            f"CAST(CAST('0x' || substr({hx}, {start}, 2) AS UBIGINT) AS BIGINT) * {256 ** byte}"
        )
    return "(" + " + ".join(terms) + ")"


def ring_vnodes_df(spark: SparkSession, n_nodes: int = _N_NODES) -> DataFrame:
    nodes = spark.range(n_nodes).select(
        F.concat(F.lit("node-"), F.col("id").cast("string")).alias("node")
    )
    vn = (
        nodes.crossJoin(spark.range(_FACTOR).select(F.col("id").alias("j")))
        .withColumn("hx", F.md5(F.concat_ws("-", "node", "j")))
    )
    words = F.array(*[F.expr(_le32_spark("hx", w)) for w in range(3)])
    return vn.select("node", F.explode(words).alias("vkey"))


def hash_ring_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every customer key to its ring node: broadcast the vnode
    table, take the smallest vnode key strictly greater than the key's
    hash, wrap to the global minimum (reference hash_ring.py:79-97)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_le32_spark("md5(CAST(c_custkey AS STRING))", 0)).alias("ckey"),
    )
    vnodes = ring_vnodes_df(spark)
    sel = (
        cust.join(F.broadcast(vnodes), F.col("vkey") > F.col("ckey"), "left")
        .groupBy("c_custkey", "ckey")
        .agg(F.min("vkey").alias("sel_key"))
    )
    global_min = vnodes.agg(F.min("vkey").alias("min_vkey"))
    chosen = sel.crossJoin(F.broadcast(global_min)).select(
        "c_custkey", F.coalesce("sel_key", "min_vkey").alias("vkey")
    )
    owner = vnodes.groupBy("vkey").agg(F.min("node").alias("node"))
    return chosen.join(F.broadcast(owner), "vkey").select("c_custkey", "node")


HASH_RING_SQL = f"""
WITH nodes AS (
  SELECT 'node-' || CAST(range AS VARCHAR) AS node FROM range({_N_NODES})
), vn AS (
  SELECT node, md5(node || '-' || CAST(j.range AS VARCHAR)) AS hx
  FROM nodes CROSS JOIN range({_FACTOR}) j
), keys AS (
  SELECT node, {_le32_duck('hx', 0)} AS vkey FROM vn
  UNION ALL SELECT node, {_le32_duck('hx', 1)} FROM vn
  UNION ALL SELECT node, {_le32_duck('hx', 2)} FROM vn
), cust AS (
  SELECT c_custkey, {_le32_duck("md5(CAST(c_custkey AS VARCHAR))", 0)} AS ckey FROM customer
), sel AS (
  SELECT c_custkey, min(vkey) AS sel_key
  FROM cust LEFT JOIN keys ON vkey > ckey
  GROUP BY c_custkey
), owner AS (
  SELECT vkey, min(node) AS node FROM keys GROUP BY vkey
)
SELECT c_custkey, owner.node AS node
FROM sel
JOIN owner ON owner.vkey = coalesce(sel.sel_key, (SELECT min(vkey) FROM keys))
"""


def array_update_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write path under oracle check: build the events grid, then
    *through the engine* clear a box and overwrite another (copy-on-
    write chunk rewrites), and aggregate the result. The oracle
    recomputes the same mutations with CASE arithmetic — so subset
    update/clear semantics are value-checked, not just unit-tested."""
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema, Warehouse

    wh = Warehouse(spark, scratch_dir("deker_spark_"))
    schema = ArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
    )
    coll = wh.collections.create("events_grid_w", schema)
    arr = coll.arrays.create_from_cells(_event_cells(spark, sf_dir))
    arr.clear((slice(0, 5), slice(0, 6)))            # box 1 -> fill (0.0)
    arr.update((slice(10, 12), slice(None)), 7.25)    # box 2 -> constant
    return (
        arr.cell_df()
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value")
        )
    )


ARRAY_UPDATE_SQL = f"""
WITH cells AS (
  SELECT date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) AS day, hour(ts) AS hour,
         CAST(round(sum(CAST(value AS DECIMAL(30,6))), 6) AS DOUBLE) AS value
  FROM {EVENTS_DUCK}
  WHERE date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) BETWEEN 0 AND {_N_DAYS - 1}
  GROUP BY day, hour
), grid AS (
  SELECT CAST(d.range AS BIGINT) AS day, CAST(h.range AS BIGINT) AS hour,
         coalesce(cells.value, 0.0) AS value
  FROM range({_N_DAYS}) d CROSS JOIN range({_N_HOURS}) h
  LEFT JOIN cells ON cells.day = d.range AND cells.hour = h.range
), mutated AS (
  SELECT day, hour,
         CASE WHEN day >= 0 AND day < 5 AND hour >= 0 AND hour < 6 THEN 0.0
              WHEN day >= 10 AND day < 12 THEN 7.25
              ELSE value END AS value
  FROM grid
)
SELECT day,
       CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM mutated
GROUP BY day
"""


def deker_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same slice-aggregate as ``array_slice_agg`` but read through
    ``spark.read.format("deker")`` — value-checks the whole custom
    Python Data Source path (collection schema -> chunk-aligned
    partitions -> pushed dim filters -> Arrow cell batches) against the
    DuckDB oracle, not just the engine-internal cell_df view."""
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema, Warehouse
    from deker_server_adapters_spark.sources.deker_datasource import register

    wh = Warehouse(spark, scratch_dir("deker_spark_ds_"))
    schema = ArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
    )
    coll = wh.collections.create("events_grid", schema)
    coll.arrays.create_from_cells(_event_cells(spark, sf_dir))
    register(spark)
    cells = (
        spark.read.format("deker")
        .option("path", wh.root)
        .option("collection", "events_grid")
        .load()
    )
    return (
        cells.filter((F.col("day") >= 5) & (F.col("day") < 15) & (F.col("hour") < 12))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count("*").alias("n_cells"),
        )
    )


def _staged_datasource_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Warehouse root for the steady-state datasource READ headline,
    built once per process per ``sf_dir`` (``staged_dir`` cache) so
    repeated executions time the scan, not the grid build. Chunked on
    a (6, 2) vgrid — 12 chunk directories — so the slice predicates
    prune real partitions (a single-chunk grid would make planning-
    time pruning unobservable)."""
    from deker_server_adapters_spark.core import DimensionSchema, VArraySchema, Warehouse
    from deker_server_adapters_spark.sources.scratch import staged_dir

    root, staged = staged_dir("deker_spark_ds_read_", sf_dir)
    if not staged:
        wh = Warehouse(spark, root)
        schema = VArraySchema(
            dtype="float64",
            dimensions=(
                DimensionSchema("day", _N_DAYS),
                DimensionSchema("hour", _N_HOURS),
            ),
            vgrid=(6, 2),
        )
        coll = wh.collections.create("events_grid", schema)
        coll.varrays.create_from_cells(_event_cells(spark, sf_dir))
    return root


def deker_datasource_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state custom-source READ headline (r14): the same
    pushdown slice-aggregate as ``deker_datasource_scan``, but over a
    process-staged warehouse — so bench's warm passes time ONLY the
    ``spark.read.format("deker")`` path (planning-time partition
    pruning under the pushed dim filters + Arrow cell batches), the
    number a long-lived cluster actually sees, instead of re-paying
    the one-time grid build every pass. The pruning is plan-pinned by
    ``test_plans.py::test_datasource_read_headline_prunes_partitions``
    on this exact staged warehouse."""
    from deker_server_adapters_spark.sources.deker_datasource import register

    root = _staged_datasource_warehouse(spark, sf_dir)
    register(spark)
    cells = (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .load()
    )
    return (
        cells.filter((F.col("day") >= 5) & (F.col("day") < 15) & (F.col("hour") < 12))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count("*").alias("n_cells"),
        )
    )


def deker_write_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slice-aggregate again, but the array is ingested through the
    WRITER half of the custom data source: a dense cell DataFrame goes
    in via ``df.write.format("deker")`` (per-task run-length chunk
    append, no imposed shuffle), then reads back through the same
    pushdown reader — value-checking the full write->read loop against
    the DuckDB oracle. The input is densified (grid left-join,
    fill 0.0) because bulk ingest writes exactly the cells it is given;
    fill materialization is the engine-create path's job
    (reference create+write flow, base.py:111-160)."""
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema, Warehouse
    from deker_server_adapters_spark.sources.deker_datasource import register

    root = scratch_dir("deker_spark_wr_")
    wh = Warehouse(spark, root)
    schema = ArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
    )
    wh.collections.create("events_grid", schema)
    register(spark)
    grid = spark.range(_N_DAYS).select(F.col("id").alias("day")).crossJoin(
        spark.range(_N_HOURS).select(F.col("id").alias("hour"))
    )
    dense = grid.join(_event_cells(spark, sf_dir), ["day", "hour"], "left").select(
        F.lit("ev").alias("array_id"),
        "day",
        "hour",
        F.coalesce("value", F.lit(0.0)).alias("value"),
    )
    (
        dense.write.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .mode("append")
        .save()
    )
    cells = (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .load()
    )
    return (
        cells.filter((F.col("day") >= 5) & (F.col("day") < 15) & (F.col("hour") < 12))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count("*").alias("n_cells"),
        )
    )


def deker_dedup_read_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slice-aggregate through the ``deker`` source's LAST-WRITE-WINS
    batch read (SURVEY §7 r9): the dense grid
    is bulk-written TWICE — first a decoy pass (every value shifted by
    +1000), then the real cells — so every cell exists in two
    overlapping runs and only seq-ordered per-cell resolution can
    reproduce the oracle's numbers. If dedup failed open (append-log
    rows leak through) the row count doubles; if it resolved the WRONG
    run the +1000 shift lands in every sum — either way a hash
    mismatch, not a silent pass. Write passes are separate jobs, so
    the second pass's ~ms placement stamps are strictly newer."""
    from deker_server_adapters_spark.core import ArraySchema, DimensionSchema, Warehouse
    from deker_server_adapters_spark.sources.deker_datasource import register

    root = scratch_dir("deker_spark_dd_")
    wh = Warehouse(spark, root)
    schema = ArraySchema(
        dtype="float64",
        dimensions=(DimensionSchema("day", _N_DAYS), DimensionSchema("hour", _N_HOURS)),
    )
    wh.collections.create("events_grid", schema)
    register(spark)
    grid = spark.range(_N_DAYS).select(F.col("id").alias("day")).crossJoin(
        spark.range(_N_HOURS).select(F.col("id").alias("hour"))
    )
    dense = grid.join(_event_cells(spark, sf_dir), ["day", "hour"], "left").select(
        F.lit("ev").alias("array_id"),
        "day",
        "hour",
        F.coalesce("value", F.lit(0.0)).alias("value"),
    )
    # both write passes (decoy shift + real) derive from the same dense
    # table — a lazy cut makes the events scan + grid join evaluate once
    # at the first write instead of once per pass (and never at plan
    # build, which registry-wide plan enumeration relies on)
    dense = dense.localCheckpoint(eager=False)
    for pass_df in (dense.withColumn("value", F.col("value") + 1000.0), dense):
        (
            pass_df.write.format("deker")
            .option("path", root)
            .option("collection", "events_grid")
            .mode("append")
            .save()
        )
    cells = (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .load()
    )
    return (
        cells.filter((F.col("day") >= 5) & (F.col("day") < 15) & (F.col("hour") < 12))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.count("*").alias("n_cells"),
        )
    )


_MX_VGRID = (5, 4)  # 20 chunk dirs for the maintenance-loop op


def deker_compact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop as a queryable op (SURVEY §7 r9): bulk-
    ingest the dense event grid through the ``deker`` writer in TWO
    disjoint passes (even/odd hours — every one of the
    ``prod(_MX_VGRID)`` chunk dirs ends with ≥2 files), run
    ``ChunkStore.compact()``, and return the maintenance summary.
    Oracled rows are the DETERMINISTIC facts: the structural ones
    (chunk-dir count from the vgrid, every dir compacted, exactly one
    visible file per dir afterwards — post-compact invariants of the
    engine) plus the post-compact cell count and value checksum, which
    the DuckDB oracle recomputes straight from events, proving compact
    lost/duplicated nothing. Task-layout-dependent facts (pre-compact
    file counts, bytes) are NOT oracle-able; they surface through the
    engine's ``ChunkStore.maintenance_stats()`` DataFrame, pinned by
    ``test_maintenance_stats_pre_and_post_compact``."""
    from deker_server_adapters_spark.core import (
        DimensionSchema,
        VArraySchema,
        Warehouse,
    )
    from deker_server_adapters_spark.core.storage import ChunkStore
    from deker_server_adapters_spark.sources.deker_datasource import register

    root = scratch_dir("deker_spark_mx_")
    wh = Warehouse(spark, root)
    schema = VArraySchema(
        dtype="float64",
        dimensions=(
            DimensionSchema("day", _N_DAYS),
            DimensionSchema("hour", _N_HOURS),
        ),
        vgrid=_MX_VGRID,
    )
    coll = wh.collections.create("events_grid", schema)
    register(spark)
    grid = spark.range(_N_DAYS).select(F.col("id").alias("day")).crossJoin(
        spark.range(_N_HOURS).select(F.col("id").alias("hour"))
    )
    dense = grid.join(_event_cells(spark, sf_dir), ["day", "hour"], "left").select(
        F.lit("ev").alias("array_id"),
        "day",
        "hour",
        F.coalesce("value", F.lit(0.0)).alias("value"),
    )
    # the even/odd-hour passes both evaluate this subtree — lazy-cut it
    # so the events scan + grid join run once (first write), not twice
    dense = dense.localCheckpoint(eager=False)
    for parity in (0, 1):
        (
            dense.filter(F.col("hour") % 2 == parity)
            .write.format("deker")
            .option("path", root)
            .option("collection", "events_grid")
            .mode("append")
            .save()
        )
    store = ChunkStore(spark, coll.path)
    dirs_compacted = store.compact()
    post = store.maintenance_stats().agg(
        F.count("*").alias("n_dirs"), F.sum("n_files").alias("n_files")
    ).first()
    cells = (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .load()
    )
    structural = spark.createDataFrame(
        [
            ("n_chunk_dirs", float(post["n_dirs"])),
            ("dirs_compacted", float(dirs_compacted)),
            ("files_after", float(post["n_files"])),
        ],
        "metric string, value double",
    )
    data_checks = cells.agg(
        F.count("*").cast("double").alias("cells_total"),
        F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
        .cast("double")
        .alias("value_checksum"),
    ).select(
        F.expr(
            "stack(2, 'cells_total', cells_total, "
            "'value_checksum', value_checksum) AS (metric, value)"
        )
    )
    return structural.union(data_checks)


def deker_gc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-reclamation as a queryable op (VERDICT r10 item 9, the
    ``deker_compact_stats`` pattern): bulk-ingest the dense event grid
    once, then simulate CRASHED writers by planting a write-id-stamped
    dot-temp in every chunk dir with an mtime far past the age gate —
    plus one FRESH temp that an in-flight writer could still own — and
    run ``ChunkStore.gc_temps``. Oracled rows are deterministic:
    structural facts (dirs, planted, counted-before, removed,
    remaining — the fresh temp MUST survive, proving the age gate) and
    the post-GC cell count + value checksum, which DuckDB recomputes
    straight from events, proving GC touched no committed data."""
    import os as _os
    import time as _time

    from deker_server_adapters_spark.core import (
        DimensionSchema,
        VArraySchema,
        Warehouse,
    )
    from deker_server_adapters_spark.core.storage import (
        TMP_PREFIX,
        ChunkStore,
        walk_chunk_dirs,
    )
    from deker_server_adapters_spark.sources.deker_datasource import register

    root = scratch_dir("deker_gc_")
    wh = Warehouse(spark, root)
    schema = VArraySchema(
        dtype="float64",
        dimensions=(
            DimensionSchema("day", _N_DAYS),
            DimensionSchema("hour", _N_HOURS),
        ),
        vgrid=_MX_VGRID,
    )
    coll = wh.collections.create("events_grid", schema)
    register(spark)
    grid = spark.range(_N_DAYS).select(F.col("id").alias("day")).crossJoin(
        spark.range(_N_HOURS).select(F.col("id").alias("hour"))
    )
    dense = grid.join(_event_cells(spark, sf_dir), ["day", "hour"], "left").select(
        F.lit("ev").alias("array_id"),
        "day",
        "hour",
        F.coalesce("value", F.lit(0.0)).alias("value"),
    )
    (
        dense.write.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .mode("append")
        .save()
    )
    store = ChunkStore(spark, coll.path)
    dirs = [d for _, _, d in walk_chunk_dirs(store.path)]
    stale = _time.time() - 7200.0
    for d in dirs:  # one crashed-writer temp per chunk dir
        p = _os.path.join(d, f"{TMP_PREFIX}deadc0de-0.parquet")
        with open(p, "wb") as fh:
            fh.write(b"crashed")
        _os.utime(p, (stale, stale))
    fresh = _os.path.join(dirs[0], f"{TMP_PREFIX}1iveca1f-0.parquet")
    with open(fresh, "wb") as fh:  # an in-flight writer's temp
        fh.write(b"inflight")
    before = int(
        store.maintenance_stats().agg(F.sum("n_temp").alias("t")).first()["t"]
    )
    removed = store.gc_temps(max_age_sec=3600.0)
    after = int(
        store.maintenance_stats().agg(F.sum("n_temp").alias("t")).first()["t"]
    )
    cells = (
        spark.read.format("deker")
        .option("path", root)
        .option("collection", "events_grid")
        .load()
    )
    structural = spark.createDataFrame(
        [
            ("n_chunk_dirs", float(len(dirs))),
            ("temps_planted", float(len(dirs) + 1)),
            ("temps_before", float(before)),
            ("temps_removed", float(removed)),
            ("temps_after", float(after)),
        ],
        "metric string, value double",
    )
    data_checks = cells.agg(
        F.count("*").cast("double").alias("cells_total"),
        F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
        .cast("double")
        .alias("value_checksum"),
    ).select(
        F.expr(
            "stack(2, 'cells_total', cells_total, "
            "'value_checksum', value_checksum) AS (metric, value)"
        )
    )
    return structural.union(data_checks)


_MX_N_CHUNKS = _MX_VGRID[0] * _MX_VGRID[1]
COMPACT_STATS_SQL = f"""
WITH cells AS (
  SELECT date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) AS day, hour(ts) AS hour,
         CAST(round(sum(CAST(value AS DECIMAL(30,6))), 6) AS DOUBLE) AS value
  FROM {EVENTS_DUCK}
  WHERE date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) BETWEEN 0 AND {_N_DAYS - 1}
  GROUP BY day, hour
)
SELECT 'n_chunk_dirs' AS metric, {float(_MX_N_CHUNKS)} AS value
UNION ALL SELECT 'dirs_compacted', {float(_MX_N_CHUNKS)}
UNION ALL SELECT 'files_after', {float(_MX_N_CHUNKS)}
UNION ALL SELECT 'cells_total', {float(_N_DAYS * _N_HOURS)}
UNION ALL SELECT 'value_checksum',
  (SELECT CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) FROM cells)
"""

GC_STATS_SQL = f"""
WITH cells AS (
  SELECT date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) AS day, hour(ts) AS hour,
         CAST(round(sum(CAST(value AS DECIMAL(30,6))), 6) AS DOUBLE) AS value
  FROM {EVENTS_DUCK}
  WHERE date_diff('day', DATE '{_DAY0}', CAST(ts AS DATE)) BETWEEN 0 AND {_N_DAYS - 1}
  GROUP BY day, hour
)
SELECT 'n_chunk_dirs' AS metric, {float(_MX_N_CHUNKS)} AS value
UNION ALL SELECT 'temps_planted', {float(_MX_N_CHUNKS + 1)}
UNION ALL SELECT 'temps_before', {float(_MX_N_CHUNKS + 1)}
UNION ALL SELECT 'temps_removed', {float(_MX_N_CHUNKS)}
UNION ALL SELECT 'temps_after', 1.0
UNION ALL SELECT 'cells_total', {float(_N_DAYS * _N_HOURS)}
UNION ALL SELECT 'value_checksum',
  (SELECT CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) FROM cells)
"""


OPS = {
    "array_slice_agg": Op("array_slice_agg", array_slice_agg, ARRAY_SLICE_SQL, headline=True),
    "deker_datasource_scan": Op(
        "deker_datasource_scan", deker_datasource_scan, ARRAY_SLICE_SQL
    ),
    "deker_datasource_read": Op(
        "deker_datasource_read",
        deker_datasource_read,
        ARRAY_SLICE_SQL,
        headline=True,
        description=(
            "steady-state spark.read.format('deker') slice-aggregate "
            "over a process-staged warehouse: bench-tracked custom-"
            "source read path (pruned partitions + Arrow batches)"
        ),
    ),
    "deker_write_scan": Op("deker_write_scan", deker_write_scan, ARRAY_SLICE_SQL),
    "deker_dedup_read_scan": Op(
        "deker_dedup_read_scan",
        deker_dedup_read_scan,
        ARRAY_SLICE_SQL,
        description=(
            "last-write-wins deker batch read over a doubly-written "
            "grid; decoy first pass makes wrong or missing resolution "
            "a hash mismatch"
        ),
    ),
    "deker_compact_stats": Op(
        "deker_compact_stats",
        deker_compact_stats,
        COMPACT_STATS_SQL,
        description=(
            "two-pass bulk ingest -> compact() -> maintenance summary; "
            "oracle pins the post-compact invariants + recomputes the "
            "cell count/value checksum from events"
        ),
    ),
    "deker_gc_stats": Op(
        "deker_gc_stats",
        deker_gc_stats,
        GC_STATS_SQL,
        description=(
            "crashed-writer fixture -> age-gated gc_temps -> "
            "maintenance summary; oracle pins planted/removed/spared "
            "counts + recomputes the cell checksum from events"
        ),
    ),
    "array_update_roundtrip": Op("array_update_roundtrip", array_update_roundtrip, ARRAY_UPDATE_SQL),
    "varray_cell_table": Op("varray_cell_table", varray_cell_table, VARRAY_CELL_SQL),
    "hash_ring_assignment": Op("hash_ring_assignment", hash_ring_assignment, HASH_RING_SQL),
}
