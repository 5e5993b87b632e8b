"""Scale stress harness: replicate the sf tables KX with perturbed
keys into /tmp, run the headline queries, and report per-query seconds
at 1x vs Kx. A query whose runtime grows much faster than K has a
scaling cliff (quadratic pair blowup, skewed shuffle, driver
materialization) — exactly what a 100 TB deployment would hit.

Usage: python stress.py [K] (default 10)
       python stress.py [K] --skew        (skewed-user events mode)
       python stress.py [K] --skew-join   (skewed fact-fact join mode)
       python stress.py [K] --skew-join --skew-frac=0.4   (hot-key share)

``--skew`` additionally gives ONE user ~10%% of ALL events in the
scaled copy and runs the user_id-partitioned window family
(sessionization / running totals / rolling 1h) — the repo's most
skew-exposed plans. Window partitions do NOT get AQE skew splitting
(that's join-only), so this measures the real straggler cost of a hot
key at 10x data.

``--skew-join`` targets the fact-fact JOIN family instead (the plans
where AQE skew handling IS applicable): ~10%% of all lineitems get ONE
hot l_orderkey and ~10%% of events ONE hot user, then
``order_ship_latency_histogram`` and ``events_range_join`` run uniform
vs skewed. The report records, per op: whether the executed adaptive
plan actually split the skewed partitions (``skew=true`` join marks) —
first under the session defaults (256 MB skew threshold: usually NOT
reached at toy scale, worth knowing), then with the threshold lowered
to what the hot partition actually weighs — and how the explicit
``plans.skew.salted_join`` form of the latency-histogram join compares
against AQE on the same skewed copy.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def scale_tables(
    spark,
    src_dir: str,
    k: int,
    out_dir: str,
    skew_events: bool = False,
    skew_lineitem: bool = False,
    skew_parts: bool = False,
    skew_frac: float = 0.1,
) -> None:
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.sources.tables import TABLES, load_table

    key_cols = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for name in TABLES:
        df = load_table(spark, src_dir, name)
        if name in key_cols:
            rep = spark.range(k).select(F.col("id").alias("__rep"))
            scaled = df.crossJoin(rep)
            # shift keys per replica so joins stay 1:1 instead of k:k
            shift = 10_000_000
            for c in key_cols[name]:
                scaled = scaled.withColumn(c, F.col(c) + F.col("__rep") * shift)
            if name == "events":
                # spread replicas in time so sessions/windows stay
                # realistic (loader always yields timestamp ts now)
                scaled = scaled.withColumn(
                    "ts",
                    F.timestamp_micros(
                        F.unix_micros("ts") + F.col("__rep") * F.lit(86_400_000_000)
                    ),
                )
            if name == "documents":
                # make replica texts distinct so dedup has k-sized groups
                scaled = scaled.withColumn(
                    "text", F.concat(F.col("text"), F.lit(" rep"), F.col("__rep"))
                )
            if name == "lineitem" and skew_lineitem:
                # ONE hot order owns ~10% of all lineitems across every
                # replica; the hot key is the base table's smallest
                # orderkey so it provably exists on the orders side
                # (replica 0 keys are unshifted)
                hot = load_table(spark, src_dir, "lineitem").agg(
                    F.min("l_orderkey")
                ).first()[0]
                gate = int(round(skew_frac * 100))
                scaled = scaled.withColumn(
                    "l_orderkey",
                    F.when(
                        F.expr(
                            "pmod(xxhash64(l_orderkey, l_linenumber, l_partkey), 100)"
                            f" < {gate}"
                        ),
                        F.lit(int(hot)),
                    ).otherwise(F.col("l_orderkey")),
                )
            if name == "lineitem" and skew_parts:
                # ONE hot part in ~skew_frac of ALL lineitems: the
                # co-purchase graph grows a hub node whose degree is
                # ~skew_frac of every basket — the shape a real product
                # graph has (staple items) and uniform replication
                # can't produce. Hot key = the base table's smallest
                # partkey (dim tables aren't key-shifted, so it exists).
                hot = load_table(spark, src_dir, "part").agg(
                    F.min("p_partkey")
                ).first()[0]
                gate = int(round(skew_frac * 100))
                scaled = scaled.withColumn(
                    "l_partkey",
                    F.when(
                        F.expr(
                            f"pmod(xxhash64(l_orderkey, l_linenumber), 100) < {gate}"
                        ),
                        F.lit(int(hot)),
                    ).otherwise(F.col("l_partkey")),
                )
            if name == "events" and skew_events:
                # ONE hot user owns ~10% of all events across every
                # replica — deterministic gate so reruns see the same
                # skew
                gate = int(round(skew_frac * 100))
                scaled = scaled.withColumn(
                    "user_id",
                    F.when(
                        F.expr(f"pmod(xxhash64(event_id), 100) < {gate}"),
                        F.lit(424242),
                    ).otherwise(F.col("user_id")),
                )
            # write with real map parallelism: the crossJoin replicate
            # inherits the tiny base-file split count, and a table read
            # back as ~4 map tasks can defeat AQE skew-join SPLITTING
            # (splits happen at map-output granularity — see PERF.md
            # skew-join section); 32 files also mirrors how a cluster
            # job would actually have written 10x the data
            scaled = scaled.drop("__rep").repartition(32)
        else:
            scaled = df
        scaled.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def _force(df) -> None:
    """Evaluate EVERY output column: a bare count() lets Catalyst prune
    projection-only operators (a trailing Window with no downstream
    consumer disappears entirely), silently timing just the scan."""
    from pyspark.sql import functions as F

    df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()


def run(ops, spark, sf_dir) -> dict[str, float]:
    timings = {}
    for name, op in ops.items():
        _force(op.builder(spark, sf_dir))  # warm codegen
        t0 = time.perf_counter()
        _force(op.builder(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def _timed_with_plan(builder, spark, sf_dir) -> tuple[float, bool]:
    """Time a forced run and report whether the FINAL adaptive plan
    split skewed join partitions (the ``skew=true`` mark AQE stamps on
    a SortMergeJoin/ShuffledHashJoin it rewrote)."""
    from pyspark.sql import functions as F

    def forced(df):
        return df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns])))

    forced(builder(spark, sf_dir)).collect()  # warm codegen
    agg = forced(builder(spark, sf_dir))
    t0 = time.perf_counter()
    agg.collect()
    dt = round(time.perf_counter() - t0, 3)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return dt, ("skew=true" in plan)


def salted_latency_histogram(spark, sf_dir):
    """``order_ship_latency_histogram``'s join expressed through the
    explicit ``salted_join`` (orders side replicated 32x) — the manual
    alternative AQE's runtime split competes against."""
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.operators.tpch import davg
    from deker_server_adapters_spark.plans.skew import salted_join
    from deker_server_adapters_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    days = F.datediff("l_shipdate", "o_orderdate").cast("long")
    return (
        salted_join(li, orders, "l_orderkey", salt_n=32)
        .select(days.alias("latency_days"))
        .select(F.expr("latency_days DIV 7").alias("week_bucket"), "latency_days")
        .groupBy("week_bucket")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.min("latency_days").alias("min_days"),
            F.max("latency_days").alias("max_days"),
            davg(F.col("latency_days")).alias("avg_days"),
        )
    )


def run_skew_join(spark, base: str, k: int, skew_frac: float = 0.1) -> dict:
    from deker_server_adapters_spark.operators import all_ops

    uniform_dir = tempfile.mkdtemp(prefix="deker_stress_u_")
    skew_dir = tempfile.mkdtemp(prefix="deker_stress_s_")
    scale_tables(spark, base, k, uniform_dir)
    scale_tables(
        spark, base, k, skew_dir,
        skew_events=True, skew_lineitem=True, skew_frac=skew_frac,
    )

    joins = ("order_ship_latency_histogram", "events_range_join")
    ops = {n: all_ops()[n] for n in joins}
    report: dict = {"k": k, "mode": "skew-join", "skew_frac": skew_frac, "ops": {}}
    # the orders side must SHUFFLE for skew handling to be in play at
    # this toy scale; on a cluster the 10x-scaled fact side does this
    # by itself
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    thr_key = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    adv_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    fac_key = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    defaults = {key: spark.conf.get(key) for key in (thr_key, adv_key, fac_key)}
    try:
        for name, op in ops.items():
            u_sec, _ = _timed_with_plan(op.builder, spark, uniform_dir)
            s_sec, s_trig = _timed_with_plan(op.builder, spark, skew_dir)
            # toy-scale partitions sit far below the 256 MB default
            # threshold; lower it to what the hot partition weighs to
            # show the runtime split actually engages
            spark.conf.set(thr_key, "256KB")
            spark.conf.set(adv_key, "128KB")
            spark.conf.set(fac_key, "1.2")
            t_sec, t_trig = _timed_with_plan(op.builder, spark, skew_dir)
            for key, v in defaults.items():
                spark.conf.set(key, v)
            report["ops"][name] = {
                "uniform_sec": u_sec,
                "skew_sec": s_sec,
                "skew_ratio": round(s_sec / max(u_sec, 1e-3), 2),
                "aqe_triggered_default_thresholds": s_trig,
                "skew_sec_tuned_thresholds": t_sec,
                "aqe_triggered_tuned_thresholds": t_trig,
            }
        su, _ = _timed_with_plan(lambda s, d: salted_latency_histogram(s, d), spark, uniform_dir)
        ss, _ = _timed_with_plan(lambda s, d: salted_latency_histogram(s, d), spark, skew_dir)
        report["salted_latency_histogram"] = {
            "uniform_sec": su,
            "skew_sec": ss,
            "skew_ratio": round(ss / max(su, 1e-3), 2),
        }
    finally:
        for key, v in defaults.items():
            spark.conf.set(key, v)
    return report


def run_dedup_read(spark, k: int) -> dict:
    """10x ratio for the deker last-write-wins batch read (SURVEY §7
    r9): bulk-write a dense grid D times (duplication 2 and 4), read
    it back through ``spark.read.format("deker")`` at base cells
    and k·base cells, and report seconds + ratios. The batch reader
    resolves cells per chunk partition (numpy last-write-wins over the
    chunk's runs), so time should grow ~linearly in cells × dup — a
    super-linear ratio means per-chunk resolution has a cliff."""
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.core import (
        ArraySchema,
        DimensionSchema,
        Warehouse,
    )
    from deker_server_adapters_spark.sources.deker_datasource import register

    register(spark)
    base_days, hours = 400, 250  # 100k cells at 1x
    out: dict = {"k": k, "cases": {}}
    for scale in (1, k):
        days = base_days * scale
        for dup in (2, 4):
            root = tempfile.mkdtemp(prefix=f"deker_ddr_{scale}_{dup}_")
            wh = Warehouse(spark, root)
            wh.collections.create(
                "g",
                ArraySchema(
                    dtype="float64",
                    dimensions=(
                        DimensionSchema("day", days),
                        DimensionSchema("hour", hours),
                    ),
                ),
            )
            dense = (
                spark.range(days)
                .select(F.col("id").alias("day"))
                .crossJoin(spark.range(hours).select(F.col("id").alias("hour")))
                .select(
                    F.lit("a").alias("array_id"),
                    "day",
                    "hour",
                    (F.col("day") * 0.5 + F.col("hour")).alias("value"),
                )
            )
            for p in range(dup):
                (
                    dense.withColumn("value", F.col("value") + p)
                    .write.format("deker")
                    .option("path", root)
                    .option("collection", "g")
                    .mode("append")
                    .save()
                )
            reader = (
                spark.read.format("deker")
                .option("path", root)
                .option("collection", "g")
            )
            reader.load().count()  # warmup: JIT + Python worker spin-up
            secs = []
            for _ in range(2):
                t0 = time.monotonic()
                n = reader.load().count()
                secs.append(time.monotonic() - t0)
                assert n == days * hours, (n, days * hours)  # dedup held
            sec = round(min(secs), 3)
            out["cases"][f"cells{scale}x_dup{dup}"] = sec
    for dup in (2, 4):
        out[f"ratio_dup{dup}"] = round(
            out["cases"][f"cells{k}x_dup{dup}"]
            / max(out["cases"][f"cells1x_dup{dup}"], 1e-3),
            1,
        )
    out["ratio_dup2_to_dup4_at_1x"] = round(
        out["cases"]["cells1x_dup4"] / max(out["cases"]["cells1x_dup2"], 1e-3), 1
    )
    return out


def run_skew_graph(spark, base: str, k: int, skew_frac: float) -> dict:
    """Graph family under HUB skew (r13, VERDICT r12 item 5): the
    co-purchase ops' 10x ratios were all measured under UNIFORM
    replication, but a real product graph has staple-item hubs. Scale
    the corpus twice — uniform and with one part in ~skew_frac of all
    lineitems — and compare pagerank / LPA / modularity wall-clock on
    the same k. A skewed/uniform ratio near 1 means the plans absorb
    the hub (their per-node aggregates combine map-side); a blowup
    means a hot-key cliff."""
    from deker_server_adapters_spark.operators import all_ops

    graph_family = (
        "parts_copurchase_pagerank",
        "parts_copurchase_lpa",
        "parts_copurchase_modularity",
    )
    ops = {n: all_ops()[n] for n in graph_family}
    uni_dir = tempfile.mkdtemp(prefix="deker_stress_uni_")
    skw_dir = tempfile.mkdtemp(prefix="deker_stress_hub_")
    scale_tables(spark, base, k, uni_dir)
    scale_tables(spark, base, k, skw_dir, skew_parts=True, skew_frac=skew_frac)
    uni = run(ops, spark, uni_dir)
    skw = run(ops, spark, skw_dir)
    return {
        "k": k,
        "mode": "skew-graph",
        "skew_frac": skew_frac,
        "uniform_sec": uni,
        "skewed_sec": skw,
        "ratio_skewed_vs_uniform": {
            n: round(skw[n] / max(uni[n], 1e-3), 2) for n in ops
        },
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skew = "--skew" in sys.argv[1:]
    skew_join = "--skew-join" in sys.argv[1:]
    skew_graph = "--skew-graph" in sys.argv[1:]
    dedup_read = "--dedup-read" in sys.argv[1:]
    skew_frac = 0.1
    for a in sys.argv[1:]:
        if a.startswith("--skew-frac="):
            skew_frac = float(a.split("=", 1)[1])
    k = int(args[0]) if args else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from deker_server_adapters_spark.operators import all_ops
    from deker_server_adapters_spark.session import get_spark

    spark = get_spark(app_name="deker-spark-stress")
    spark.sparkContext.setLogLevel("ERROR")

    if skew_join:
        sys.stdout.write(json.dumps(run_skew_join(spark, base, k, skew_frac)) + "\n")
        return

    if skew_graph:
        sys.stdout.write(json.dumps(run_skew_graph(spark, base, k, skew_frac)) + "\n")
        return

    if dedup_read:
        sys.stdout.write(json.dumps(run_dedup_read(spark, k)) + "\n")
        return

    out_dir = tempfile.mkdtemp(prefix="deker_stress_")
    scale_tables(spark, base, k, out_dir, skew_events=skew)

    explicit = os.environ.get("SPARK_GRAFT_STRESS_OPS")
    if explicit:
        ops = {n: all_ops()[n] for n in explicit.split(",") if n}
    elif skew:
        window_family = (
            "events_sessionization",
            "events_running_totals",
            "events_rolling_1h",
        )
        ops = {n: all_ops()[n] for n in window_family}
    else:
        ops = {n: o for n, o in all_ops().items() if o.headline}
    t1 = run(ops, spark, base)
    tk = run(ops, spark, out_dir)
    report = {
        "k": k,
        "skew": skew,
        "base_sec": t1,
        "scaled_sec": tk,
        "ratio": {n: round(tk[n] / max(t1[n], 1e-3), 1) for n in ops},
    }
    sys.stdout.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
