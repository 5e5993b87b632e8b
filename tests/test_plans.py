"""Plan-shape regression tests: the physical plans we ship are the
ones we'd want on a 1000-executor cluster. If a refactor silently
turns a broadcast join into a sort-merge join or un-pushes a scan
filter, these fail."""

from __future__ import annotations

import pytest

from deker_server_adapters_spark.operators import all_ops
from deker_server_adapters_spark.plans.explain import (
    count_shuffles,
    physical_plan,
    pushed_filters,
)

_OPS = all_ops()


def _plan(spark, sf_dir, name):
    return _OPS[name].builder(spark, sf_dir)


def test_q1_filter_reaches_scan(spark, sf_dir):
    pf = pushed_filters(_plan(spark, sf_dir, "q1_pricing_summary"))
    assert "LessThanOrEqual(l_shipdate" in pf


def test_q6_all_predicates_pushed(spark, sf_dir):
    pf = pushed_filters(_plan(spark, sf_dir, "q6_forecast_revenue"))
    for frag in ("l_shipdate", "l_discount,0.05", "l_quantity,24.0"):
        assert frag in pf, f"{frag} missing from pushed filters: {pf}"


def test_q6_column_pruning(spark, sf_dir):
    from deker_server_adapters_spark.plans.explain import formatted_plan

    plan = formatted_plan(_plan(spark, sf_dir, "q6_forecast_revenue"))
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema, plan
    # only the 4 referenced columns are read, not all 11
    assert "l_returnflag" not in read_schema[0]
    assert "l_orderkey" not in read_schema[0]


def test_q5_dims_are_broadcast_not_smj(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "q5_local_supplier_volume"))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q18_semi_join_on_big_orders(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "q18_large_orders"))
    assert "LeftSemi" in plan


def test_sessionization_single_shuffle(spark, sf_dir):
    # one exchange on user_id feeds both windows and the final agg
    df = _plan(spark, sf_dir, "events_sessionization")
    assert count_shuffles(df) <= 2


def test_minhash_signatures_map_only(spark, sf_dir):
    from deker_server_adapters_spark.operators.dedup import minhash_signatures

    df = minhash_signatures(spark, sf_dir)
    assert count_shuffles(df) == 0  # signature build never shuffles


def test_simhash_table_one_codegen_agg_shuffle(spark, sf_dir):
    """The sketch is 64 codegen'd sums over ONE groupBy(doc_id) with
    map-side partial aggregation (the shuffle carries 64 ints per doc).
    The shuffle-free HOF fold it replaced was interpreted (no codegen
    for lambda bodies) and ~20x slower — asserting the agg shape here,
    not shuffle-freedom."""
    from deker_server_adapters_spark.operators.dedup import simhash_table

    df = simhash_table(spark, sf_dir)
    assert count_shuffles(df) == 1  # exactly the groupBy(doc_id)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") == 2  # partial + final (map-side combine)
    # the per-token hashing and the +/-1 majorities stay in codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_minhash_band_join_reuses_signature_exchange(spark, sf_dir):
    """The band self-join must be a shuffled join over the SAME banded
    signature subplan so AQE materializes the signature build once
    (ReusedExchange). A broadcast self-join silently re-executes the
    whole signature build for the broadcast side — 1.9x slower at
    sf0.1 and pure waste at 100 TB."""
    df = _plan(spark, sf_dir, "dedup_minhash_lsh")
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_dedup_simhash_no_all_pairs_join(spark, sf_dir):
    # pigeonhole segment blocking: candidates come from an equi-join on
    # (seg, seg_val), never a nested-loop over every pair
    plan = physical_plan(_plan(spark, sf_dir, "dedup_simhash"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_embedding_no_all_pairs_join(spark, sf_dir):
    # LSH bucket equi-join bounds pair generation
    plan = physical_plan(_plan(spark, sf_dir, "dedup_embedding"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hash_ring_data_side_never_shuffles(spark, sf_dir):
    df = _plan(spark, sf_dir, "hash_ring_assignment")
    plan = physical_plan(df)
    # vnode table joins must be broadcast; the customer side stays put
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_text_ops_are_pure_codegen(spark, sf_dir):
    # no Python eval nodes in any text op plan (UDF-free hot path)
    for name in ("text_token_count", "text_quality_score", "text_lang_id", "text_fingerprint"):
        plan = physical_plan(_plan(spark, sf_dir, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_primary_attr_lookup_is_pruned_catalyst_plan(spark, tmp_path):
    """The catalog lookup (core/array.py lookup_df) must be a Spark plan
    with column pruning at the scan — not a driver loop. Mirrors
    reference base.py:333-434 without the O(n_arrays) driver work."""
    import numpy as np

    from deker_server_adapters_spark.core.collection import Warehouse
    from deker_server_adapters_spark.plans.explain import formatted_plan
    from tests.test_core_engine import SCHEMA

    wh = Warehouse(spark, str(tmp_path))
    coll = wh.collections.create("lookup", SCHEMA)
    for i in range(8):
        coll.arrays.create({"station": f"s{i}"}, id_=f"a{i}")

    df = coll.arrays.lookup_df({"station": "s5"}).select("id")
    plan = formatted_plan(df)
    # column pruning reached the JSON scan: only the two needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "id:string" in read_schema and "primary_attributes" in read_schema
    assert "custom_attributes" not in read_schema
    # and the filter is evaluated in the distributed plan, not in Python
    assert "Filter" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_benchmark_side_broadcast(spark, sf_dir):
    """The benchmark shingle set must broadcast to the corpus-shingle
    stream — the 100 TB corpus side never shuffles for the join; a
    sort-merge join here would shuffle the whole corpus by shingle."""
    plan = physical_plan(_plan(spark, sf_dir, "docs_benchmark_contamination"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_no_event_list_collection(spark, sf_dir):
    """Funnel: one scan, one user_id partitioning feeding all three
    stacked stage windows AND the per-user groupBy (single-column agg
    keys collapse onto the window exchange — exactly 2 shuffles: the
    user_id hash partition and the final SinglePartition count), no
    joins, no collect_list (skew-OOM shape on hot users), no Python
    eval."""
    df = _plan(spark, sf_dir, "events_funnel")
    plan = physical_plan(df)
    assert count_shuffles(df) == 2
    assert "collect_list" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_new_text_ops_are_pure_codegen(spark, sf_dir):
    for name in ("text_repetition_score", "text_pii_scan"):
        plan = physical_plan(_plan(spark, sf_dir, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_retention_no_join_single_scan(spark, sf_dir):
    """Retention: distinct user-days + window cohort min + final agg —
    3 shuffles, no self-join, single events scan."""
    df = _plan(spark, sf_dir, "events_retention_cohorts")
    assert count_shuffles(df) <= 3
    assert "Join" not in physical_plan(df)


def test_pack_sequences_window_is_bucketed_not_global(spark, sf_dir):
    """The cumsum window must partition on the range bucket — a global
    ORDER BY window (SinglePartition) would pull the whole corpus
    through one task, which is the exact shape the distributed
    prefix-sum exists to avoid."""
    plan = physical_plan(_plan(spark, sf_dir, "docs_pack_sequences"))
    window_lines = [l for l in plan.splitlines() if "Window" in l]
    assert window_lines, plan
    assert "hashpartitioning(bucket" in plan


def test_market_basket_part_dim_broadcast_no_bnlj(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "orders_market_basket"))
    assert "BroadcastHashJoin" in plan
    # the within-order pair join is an equi-join on okey, never a
    # cartesian / nested-loop over orders
    assert "CartesianProduct" not in plan
    bnlj = plan.count("BroadcastNestedLoopJoin")
    # the only BNLJ allowed is the 1-row order-total scalar ride-along
    assert bnlj <= 1, plan


def test_wau_no_range_join(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "events_wau_rolling"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_lm_model_broadcast_onto_doc_stream(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "docs_ngram_lm_score"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_no_shuffle(spark, sf_dir):
    """The argmin assignment is a map-only expression — the corpus is
    scanned, never reshuffled; only the final summary agg exchanges."""
    from deker_server_adapters_spark.operators.similarity import kmeans_assignments
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_assignments(emb, iters=1)
    assert count_shuffles(assigned) == 0


def test_inter_arrival_single_exchange(spark, sf_dir):
    # the lag window and the groupBy share the user_id hash
    # partitioning -> exactly one Exchange
    df = _plan(spark, sf_dir, "events_inter_arrival")
    assert count_shuffles(df) == 1


def test_range_join_is_binned_equi_join(spark, sf_dir):
    """The time-interval join must be the bucketed equi-join form —
    a theta join on the raw inequality plans a nested loop."""
    plan = physical_plan(_plan(spark, sf_dir, "events_range_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_abc_pareto_window_never_single_partition(spark, sf_dir):
    """The global revenue-ordered cumsum must run as per-bucket windows
    + broadcast offsets — a naive Window.orderBy with no partitionBy
    plans an Exchange SinglePartition (the whole table through one
    task)."""
    plan = physical_plan(_plan(spark, sf_dir, "orders_abc_pareto"))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_near_dup_eval_no_pair_blowup(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "docs_near_dup_eval"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r18: the candidate-pair and pair-shingle subtrees are cut with
    # lazy localCheckpoints (each was repeated per plan branch — 22
    # documents scans / 18 md5 evaluations in the uncut plan); the
    # final plan must read the checkpoints, not re-run the corpus work
    assert "documents.parquet" not in plan
    assert "md5" not in plan
    assert "Scan ExistingRDD" in plan


def test_dedup_pipeline_no_cartesian(spark, sf_dir):
    plan = physical_plan(_plan(spark, sf_dir, "docs_dedup_pipeline"))
    assert "CartesianProduct" not in plan


def test_user_value_decay_lazy_broadcast_tmax(spark, sf_dir, monkeypatch):
    """The T_max scalar must reach the decay expression as a broadcast
    1-row aggregate (the oracle's CROSS JOIN tm shape), NOT an eager
    driver-side .first() — an eager action inside the builder is a
    synchronous barrier and a second full scan at plan-BUILD time
    (VERDICT r6 item 2). Poison every driver action for the duration of
    the build: a lazy builder never needs one."""
    from pyspark.sql import DataFrame

    def _poisoned(name):
        def action(self, *a, **k):
            raise AssertionError(f"builder called eager action DataFrame.{name}()")

        return action

    for name in ("first", "head", "take", "collect", "count", "toPandas"):
        monkeypatch.setattr(DataFrame, name, _poisoned(name))
    df = _plan(spark, sf_dir, "events_user_value_decay")
    monkeypatch.undo()
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row tm side broadcast


def test_dedup_pipeline_single_corpus_evaluation(spark, sf_dir):
    """The r18 pipeline shape (supersedes the r7 shared-exchange pin):
    the corpus scan + tokenize/md5 + exact-dup window evaluate ONCE,
    into the eager decision/signature checkpoint — so the FINAL plan
    (a separate action from the CC loop's edge build; exchange reuse
    never spans actions) must contain NO documents scan, no window and
    no md5 at all: it reads the checkpoint and the tiny label table."""
    plan = physical_plan(_plan(spark, sf_dir, "docs_dedup_pipeline"))
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "md5" not in plan


def test_lm_quality_tiers_window_never_single_partition(spark, sf_dir):
    """ntile runs per SOURCE partition; a global (empty-partitionBy)
    window here would serialize the whole corpus through one task."""
    plan = physical_plan(_plan(spark, sf_dir, "docs_lm_quality_tiers"))
    assert "SinglePartition" not in plan.split("Window")[1][:400], plan


def test_cross_source_matrix_pairs_broadcast(spark, sf_dir):
    """The tiny near-dup pair table must broadcast into the
    (doc_id, source) dim scans — the corpus-sized side never shuffles
    for these joins."""
    plan = physical_plan(_plan(spark, sf_dir, "dedup_cross_source_matrix"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_source_token_mix_total_is_lazy_broadcast(spark, sf_dir, monkeypatch):
    """The corpus token total reaches the share expression as a
    broadcast 1-row aggregate, never an eager driver action."""
    from pyspark.sql import DataFrame

    def _poisoned(name):
        def action(self, *a, **k):
            raise AssertionError(f"builder called eager action DataFrame.{name}()")

        return action

    for name in ("first", "head", "take", "collect", "count", "toPandas"):
        monkeypatch.setattr(DataFrame, name, _poisoned(name))
    df = _plan(spark, sf_dir, "docs_source_token_mix")
    monkeypatch.undo()
    assert "BroadcastNestedLoopJoin" in physical_plan(df)


@pytest.mark.parametrize("op_name", ["docs_tfidf_topk", "text_term_pmi"])
def test_corpus_total_is_lazy_broadcast(spark, sf_dir, monkeypatch, op_name):
    """The corpus doc total reaches the score expression as a broadcast
    1-row aggregate (the oracle's CROSS JOIN n shape), never an eager
    driver .count() — an eager action in the builder is a synchronous
    barrier and an extra pass at plan-BUILD time (VERDICT r7 item 5)."""
    from pyspark.sql import DataFrame

    def _poisoned(name):
        def action(self, *a, **k):
            raise AssertionError(f"builder called eager action DataFrame.{name}()")

        return action

    for name in ("first", "head", "take", "collect", "count", "toPandas"):
        monkeypatch.setattr(DataFrame, name, _poisoned(name))
    df = _plan(spark, sf_dir, op_name)
    monkeypatch.undo()
    assert "BroadcastNestedLoopJoin" in physical_plan(df)  # 1-row side


@pytest.mark.parametrize("op_name", ["ann_ivf_cosine", "ann_ivfpq_cosine"])
def test_ivf_builders_leave_nothing_persisted(spark, sf_dir, op_name):
    """Persist hygiene (VERDICT r7 item 4): the IVF centroid table used
    to be persist()ed and leak past the builder. It is now collected to
    a K-row LocalRelation instead, so after the op runs NO cached
    RDD/DataFrame blocks may remain registered with the context."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    _plan(spark, sf_dir, op_name).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # compare against the session's pre-existing caches (other tests'
    # fixtures may legitimately hold some): this op must add none
    assert after <= before, f"{op_name} left {after - before} persisted RDD(s)"


# Ops whose builder runs a driver-side iterative loop (training rounds,
# Lloyd iterations, eigensolve) — building their final plan executes the
# loop, so the sweep below would re-run minutes of compute that their
# dedicated parity/semantics tests already cover.
_ITERATIVE_BUILDERS = {
    "parts_copurchase_kcore",
    "text_bpe_merges",
    "docs_bpe_encode_lengths",
    "embeddings_kmeans",
    "embeddings_pca",
    "embeddings_pq",
    "ann_pq_cosine",
    "ann_ivfpq_cosine",
    "ann_pq_recall",
    "ann_ivfpq_recall",
    "dedup_components",
    "docs_dedup_pipeline",
}

# Documented brute-force baselines: the broadcast nested-loop IS the op.
_INTENTIONAL_BNLJ = {
    "ann_cosine_topk",
    "ann_int8_cosine",
    # broadcast-Q brute-force scan, same shape as ann_cosine_topk
    "embeddings_hard_negatives",
    # recall evals embed their brute-force baseline side
    "ann_threshold_join_recall",
    "dedup_semantic_recall",
    "ann_lsh_recall",
    "ann_int8_recall",
    "ann_ivf_recall",
    "ann_pq_recall",
    "ann_ivfpq_recall",
    # 1-row / bounded-k-row broadcast scalar joins (tm / corpus totals /
    # the 8-row IVF centroid table / market basket's order-total ride)
    "ann_ivf_cosine",
    "orders_market_basket",
    "events_user_value_decay",
    "docs_source_token_mix",
    "docs_source_temperature_mix",
    "docs_temperature_sample",  # inherits the mix's 1-row totals ride
    "docs_tfidf_topk",
    "text_term_pmi",
    "events_hll_distinct",
    "parts_copurchase_pagerank",
    "events_value_histogram_quantiles",
    "events_session_duration_quantiles",
    "nation_order_value_quantiles",
    "customer_spend_migration",
    "ann_cosine_threshold_join",  # 1-row adaptive-nbits broadcast
    # hybrid semantic dedup: the 1-row nbits broadcast (LSH side) plus
    # the 1-row graph-modularity / corpus-total ride-alongs
    "dedup_semantic_hybrid",
    "dedup_semantic_hybrid_recall",
    # r16: the sharded composition's survivor pass rides the same
    # 1-row ladder broadcast; the recall twin embeds its brute-force
    # truth side; the incremental op hashes the delta under the
    # old-corpus 1-row ladder broadcast
    "dedup_semantic_hybrid_sharded",
    "dedup_semantic_hybrid_sharded_recall",
    "dedup_semantic_incremental",
    "parts_copurchase_modularity",  # 1-row m (edge count) + graph-Q rides
    "customer_rfm_segments",
    "q11_important_parts",
    "q15_top_supplier",
    "q22_global_sales_opportunity",
    "nation_revenue_yoy",
    "orders_abc_pareto",
    "customer_balance_distribution",
    "hash_ring_assignment",
    "events_anomaly_zscore",
    # r13 TPC-DS tranche: 1-row max-spend / lattice-average broadcasts
    "frequent_buyer_channel_sales",
    "cross_channel_part_iceberg",
}

# Arrow-batched Python stages by design (multimodal decode, PCA moments,
# and — r17 — the vectorized LSH-signature/cosine-rescore kernels of the
# semantic-dedup/threshold-join family, functions/veccompute.py; their
# outputs are pinned bit-identical to the former expression forms).
_INTENTIONAL_PYTHON = {
    "multimodal_pipeline",
    "multimodal_pipeline_dead_letter",  # r16: the guarded decode stages
    "multimodal_asset_stats",  # r16: + the measured declined_frac pass
    "embeddings_pca_moments",
    "dedup_semantic",
    "dedup_semantic_recall",
    "dedup_semantic_hybrid",
    "dedup_semantic_hybrid_recall",
    "dedup_semantic_hybrid_sharded",
    "dedup_semantic_hybrid_sharded_recall",
    "dedup_semantic_incremental",
    "ann_cosine_threshold_join",
    "ann_threshold_join_recall",
    # r17: the IVF cell-assignment, PQ code-assignment and k-means
    # Lloyd-assignment expressions also moved to Arrow kernels
    # (cells_ranked / pq_assign / kmeans_rows), so the ANN ladder ops
    # and their recall twins carry MapInPandas stages by design
    "ann_ivf_cosine",
    "ann_ivf_recall",
    "ann_pq_cosine",
    "ann_pq_recall",
    "ann_ivfpq_cosine",
    "ann_ivfpq_recall",
    "embeddings_pq",
    "embeddings_kmeans",
    # r17 third tranche: the fixed-table LSH bucket builders and the
    # candidate re-rank cosines (dedup_embedding, the kNN label check,
    # ann_lsh_cosine + its recall twin) moved to the same kernels
    "dedup_embedding",
    "embeddings_knn_label_check",
    "ann_lsh_cosine",
    "ann_lsh_recall",
}


def test_snowflake_cross_year_fact_scans_once(spark, sf_dir):
    """brand_nation_cross_year_sales (Q64 shape): the consecutive-year
    self-join runs on the eagerly-checkpointed lattice, so the FINAL
    plan must contain NO lineitem scan at all (the snowflake ran once,
    at checkpoint time) — the guard for the reviewed 2x-fact-work
    regression. Dims must broadcast, the comparison join stays
    cartesian-free."""
    df = _plan(spark, sf_dir, "brand_nation_cross_year_sales")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan  # pre-joined at checkpoint time
    assert "Scan ExistingRDD" in plan  # the checkpointed lattice
    assert "CartesianProduct" not in plan


def test_frequent_buyer_semi_joins_and_pruned_branch_scans(spark, sf_dir):
    """frequent_buyer_channel_sales (Q23 shape): the qualifying sets
    must apply as LEFT SEMI joins (Catalyst's native IN form), no
    cartesian anywhere, and each consumer branch must COLUMN-PRUNE its
    own fact scan — the frequent-set branch reads only the 2 columns
    it needs (the deliberate trade over materializing the corpus-sized
    join; see the op docstring)."""
    df = _plan(spark, sf_dir, "frequent_buyer_channel_sales")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the frequent branch's scan pruned to exactly its 2 key columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in plan


def test_datasource_read_headline_prunes_partitions(spark, sf_dir):
    """The r14 bench headline's pushdown, pinned on its EXACT staged
    warehouse: the dim predicates the op applies (day in [5,15),
    hour < 12) must be consumed by the reader's pushFilters and prune
    the planned partitions BELOW the unfiltered count — planning-time
    pruning, not a post-scan filter — and the headline must answer
    correctly over the staged grid (staleness guard on the cache)."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from deker_server_adapters_spark.operators.arrays import (
        _staged_datasource_warehouse,
        deker_datasource_read,
    )
    from deker_server_adapters_spark.sources.deker_datasource import (
        DekerDataSource,
        DekerReader,
    )

    root = _staged_datasource_warehouse(spark, sf_dir)
    ds = DekerDataSource({"path": root, "collection": "events_grid"})
    all_parts = DekerReader(root, "events_grid", ds.schema()).partitions()
    pruned = DekerReader(root, "events_grid", ds.schema())
    leftover = list(
        pruned.pushFilters(
            [
                GreaterThanOrEqual(("day",), 5),
                LessThan(("day",), 15),
                LessThan(("hour",), 12),
            ]
        )
    )
    assert leftover == []  # the op's whole predicate set is consumed
    assert len(pruned.partitions()) < len(all_parts)
    # and the staged read path still answers: 10 day-groups, 12 cells each
    rows = deker_datasource_read(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["n_cells"] == 12 for r in rows)


def test_multimodal_pipeline_spreads_before_python_stages(spark, sf_dir):
    """The decode-boundary rule, both stages: the plan must carry the
    explicit hash repartition (REPARTITION_BY_NUM shuffle origin)
    UPSTREAM of every Python stage, so neither the PNG encode nor the
    decode chain can collapse to the scan's (1-file = 1-task)
    parallelism — the reviewed whole-encode-in-one-task regression."""
    df = _plan(spark, sf_dir, "multimodal_pipeline")
    plan = df._jdf.queryExecution().executedPlan().toString()
    py = plan.find("MapInPandas")
    ex = plan.find("Exchange hashpartitioning(doc_id")
    assert py != -1 and ex != -1
    # executedPlan prints top-down: the Exchange must appear BELOW the
    # first (= topmost = last-executed) MapInPandas, i.e. upstream of
    # every Python stage
    assert ex > py


def test_hybrid_tables_ladder_sql_matches_python(spark):
    """The two integer ladders the hybrid oracle replays must agree
    with the Python forms at every threshold boundary (one below, at,
    and above each step) — the cross-engine pin for the r13 tables
    ladder."""
    import duckdb

    from deker_server_adapters_spark.operators.similarity import (
        _TJ_MAX_BITS,
        _TJ_MIN_BITS,
        _TJ_TARGET_BUCKET,
        _hy_probes_for_bits,
        _hy_probes_ladder_sql,
        _hy_tables_for_bits,
        _hy_tables_ladder_sql,
        _ladder_bits,
        _tj_bits_ladder_sql,
    )

    con = duckdb.connect()
    for b in range(_TJ_MIN_BITS, _TJ_MAX_BITS + 1):
        edge = _TJ_TARGET_BUCKET * (1 << b)
        for n in (edge - 1, edge, edge + 1, 1):
            got_bits = con.execute(
                f"SELECT {_tj_bits_ladder_sql(str(n))}"
            ).fetchone()[0]
            got_tables = con.execute(
                f"SELECT {_hy_tables_ladder_sql(str(n))}"
            ).fetchone()[0]
            got_probes = con.execute(
                f"SELECT {_hy_probes_ladder_sql(str(n))}"
            ).fetchone()[0]
            want_bits = _ladder_bits(n, 0)
            assert got_bits == want_bits, (n, got_bits, want_bits)
            assert got_tables == _hy_tables_for_bits(want_bits), (n, got_tables)
            assert got_probes == _hy_probes_for_bits(want_bits), (n, got_probes)
    # the certified small-corpus regimes stay probe-free; probing
    # engages one step after the tables ladder starts climbing and
    # caps at 3 from nbits 9 (the r15 100x-measured extension)
    assert _hy_probes_for_bits(6) == 0
    assert _hy_probes_for_bits(7) == 1
    assert _hy_probes_for_bits(8) == 2
    assert _hy_probes_for_bits(9) == 3
    assert _hy_probes_for_bits(12) == 3


def test_registry_wide_plan_hygiene(spark, sf_dir):
    """Every registry op's physical plan gets the scale floor: no
    CartesianProduct anywhere, BroadcastNestedLoopJoin only where the
    op is a documented brute-force baseline or a 1-row scalar
    broadcast, and no row-at-a-time Python eval outside the documented
    Arrow stages. New ops inherit these checks automatically."""
    failures = []
    for name, op in _OPS.items():
        if name in _ITERATIVE_BUILDERS:
            continue
        try:
            plan = physical_plan(op.builder(spark, sf_dir))
        except Exception as e:  # surface builder breakage with the op name
            failures.append(f"{name}: builder failed: {e}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "BroadcastNestedLoopJoin" in plan and name not in _INTENTIONAL_BNLJ:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if (
            "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan
        ) and name not in _INTENTIONAL_PYTHON:
            failures.append(f"{name}: Python eval node in plan")
    assert not failures, "\n".join(failures)


def test_pagerank_materializes_edges_once_and_broadcasts_rank(spark, sf_dir):
    """The canonical distributed-PageRank shape, r18 form: plain lazy
    plan (NO eager edge checkpoint — the r17 cut measured 4-5x worse
    at the sf1 frontier in process-CPU and wall, interleaved arms; the
    repeated self-join subtrees in the unrolled plan do not cost their
    static count at runtime) and the rank vector reaches each
    contribution join as a broadcast, so edges never reshuffle."""
    df = _plan(spark, sf_dir, "parts_copurchase_pagerank")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" in plan  # the uncut lazy plan
    assert "Scan ExistingRDD" not in plan  # no checkpoint anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # top-K must be TakeOrderedAndProject (per-partition top-K + driver
    # merge), never a SinglePartition sort of the whole rank vector
    assert "TakeOrderedAndProject" in plan


def test_graph_family_materializes_edges_once_and_takeordered(spark, sf_dir):
    """Graph-family plan shape: the O(nodes) degree-key tables
    broadcast onto the edge stream, no cartesian anywhere, and the
    top-K is TakeOrderedAndProject — never a global SinglePartition
    sort of the per-node/per-edge table. r18: triangles is back on the
    UNCUT graph (the r17 eager checkpoint measured as a pure loss at
    sf0.1 and the sf1 frontier); jaccard keeps the cut it measured
    neutral-to-positive with in r17."""
    from deker_server_adapters_spark.operators.tpch import (
        parts_copurchase_jaccard,
        parts_copurchase_triangles,
    )

    for fn, cut in ((parts_copurchase_triangles, False), (parts_copurchase_jaccard, True)):
        df = fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if cut:
            assert "lineitem.parquet" not in plan
            assert "Scan ExistingRDD" in plan
        else:
            assert "lineitem.parquet" in plan
            assert "Scan ExistingRDD" not in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan  # the dk joins, not SMJ
        # r18: the two wedge joins are ShuffledHashJoin — sort-merge
        # paid a sort of the O(sum deg²) wedge stream (1.5x measured)
        assert plan.count("ShuffledHashJoin") >= 2
        assert "SortMergeJoin" not in plan


def test_q72_dims_broadcast_single_agg_shuffle(spark, sf_dir):
    """Tranche-5 Q72 shape: part/supplier/nation broadcast into the
    fact scan (the date-offset inequality rides the equi-join as a
    row-local predicate — no second fact shuffle), and the only hash
    exchange is the final (nation, brand) aggregate."""
    plan = physical_plan(_plan(spark, sf_dir, "part_fulfillment_lag_q72"))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q95_rewrite_is_aggregate_not_self_join(spark, sf_dir):
    """Tranche-5 Q95 shape: the double-EXISTS self-join is rewritten
    as ONE per-order aggregate — lineitem appears in the plan exactly
    once, and no join carries an inequality condition."""
    plan = physical_plan(_plan(spark, sf_dir, "multi_supplier_return_orders_q95"))
    # one lineitem scan only: the rewrite never self-joins the fact
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["ann_ivf_cosine", "ann_pq_cosine", "ann_ivfpq_cosine"])
def test_ann_refine_cosine_is_kerneled_not_interpreted(spark, sf_dir, name):
    """r18: the exact refine cosine in all three ANN query ops
    evaluates through the Arrow kernel (``cos_scored``) — the
    interpreted ``aggregate``/``zip_with`` HOF fold must be gone from
    the plan entirely, and a MapInPandas stage present."""
    plan = physical_plan(_plan(spark, sf_dir, name))
    assert "MapInPandas" in plan
    assert "aggregate(" not in plan and "zip_with(" not in plan, plan
