"""Semantic tests beyond oracle parity: planted duplicates are found,
ANN recall vs brute force, limits enforce budgets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deker_server_adapters_spark.core.errors import DekerDataPointsLimitError


@pytest.fixture()
def planted_docs(spark, tmp_path):
    """A tiny corpus with exact and near duplicates planted, written as
    a sf-dir-shaped parquet so operators run on it unchanged."""
    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster and counts tokens"
    )
    near = base.replace("lazy", "sleepy")  # one-token change
    other = "completely different content about weather arrays and chunked storage layers"
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),          # exact dup of 0
        (2, near, "en", "s", len(near)),          # near dup of 0
        (3, other, "en", "s", len(other)),
        (4, "  ".join([base.upper()]), "en", "s", len(base)),  # case/space dup of 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    d = tmp_path / "sfp"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_finds_planted(spark, planted_docs):
    from deker_server_adapters_spark.operators.dedup import dedup_exact

    groups = dedup_exact(spark, planted_docs).toPandas()
    dup_groups = groups[groups.n_dups > 1]
    assert len(dup_groups) == 1
    # normalization folds case/whitespace: docs 0, 1, 4 in one group
    assert dup_groups.iloc[0]["n_dups"] == 3
    assert dup_groups.iloc[0]["canonical_doc_id"] == 0


@pytest.mark.slow
def test_ngram_jaccard_finds_near_dup(spark, planted_docs):
    from deker_server_adapters_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, planted_docs).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert (0, 2) in found  # one-token change → high jaccard
    assert not any(3 in p for p in found)  # unrelated doc never pairs


def test_minhash_lsh_finds_near_dup(spark, planted_docs):
    from deker_server_adapters_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, planted_docs).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert (0, 1) in found and (0, 4) in found  # exact dups always bucket together
    assert not any(3 in p for p in found)


def test_simhash_exact_dups_zero_distance(spark, planted_docs):
    from deker_server_adapters_spark.operators.dedup import dedup_simhash

    pairs = dedup_simhash(spark, planted_docs).toPandas()
    by_pair = {tuple(sorted((a, b))): h for a, b, h in zip(pairs.doc_a, pairs.doc_b, pairs.hamming)}
    assert by_pair.get((0, 1)) == 0
    assert by_pair.get((0, 4)) == 0


def test_components_transitive_closure(spark, planted_docs):
    """0~1 are exact dups, 0~2 near-dups: 1 and 2 must land in one
    component even if the 1-2 pair was never directly emitted."""
    from deker_server_adapters_spark.operators.dedup import dedup_components

    comp = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_components(spark, planted_docs).collect()
    }
    assert comp.get(0) == 0 and comp.get(1) == 0 and comp.get(4) == 0
    assert 3 not in comp  # unrelated doc is in no near-dup component


def test_components_persist_hygiene(spark, planted_docs):
    """Superseded label generations are unpersisted each round — the
    cache must not accumulate one DataFrame per iteration."""
    from deker_server_adapters_spark.operators.dedup import dedup_components

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    dedup_components(spark, planted_docs).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # at most the final labels generation + the minhash signature cache
    # survive; the per-round generations must be gone
    assert after - before <= 2, f"persisted RDDs grew by {after - before}"


@pytest.fixture()
def planted_embeddings(spark, tmp_path):
    """Embeddings with planted near-dups (the real corpus is random, so
    no pair clears 0.95 — these exercise the nonzero-output path)."""
    rng = np.random.RandomState(7)

    def unit(v):
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    base = rng.randn(64)
    rows = [
        (0, unit(base), 0),
        (1, unit(base + 0.01 * rng.randn(64)), 0),  # cosine ~0.9999
        (2, unit(base + 0.2 * rng.randn(64)), 0),   # cosine ~0.97
    ]
    rows += [(i, unit(rng.randn(64)), 1) for i in range(3, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path / "sfe"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_embedding_dedup_lsh_finds_planted(spark, planted_embeddings):
    from deker_server_adapters_spark.operators.dedup import (
        dedup_embedding,
        dedup_embedding_exact,
    )

    lsh = dedup_embedding(spark, planted_embeddings).toPandas()
    exact = dedup_embedding_exact(spark, planted_embeddings).toPandas()
    lsh_pairs = {tuple(sorted((a, b))) for a, b in zip(lsh.vec_a, lsh.vec_b)}
    exact_pairs = {tuple(sorted((a, b))) for a, b in zip(exact.vec_a, exact.vec_b)}
    assert (0, 1) in exact_pairs  # the plant really is a >=0.95 pair
    assert lsh_pairs <= exact_pairs  # same threshold, bucket-bounded candidates
    assert (0, 1) in lsh_pairs  # near-identical vectors share every bucket
    # the weaker plants (cosine ~0.97, near the 0.95 threshold) sit where
    # per-pair LSH recall is ~0.89 in expectation — but the hyperplanes
    # are FIXED (seeded), so recall of these exact vectors is
    # deterministic: with the current planes both pairs land in a shared
    # bucket. If the plane seed ever changes and this fails, a miss here
    # is an allowed behavior change of the approximate op, not a bug —
    # re-verify and update, don't loosen the threshold.
    assert (0, 2) in lsh_pairs
    assert (1, 2) in lsh_pairs
    assert not any(p[0] >= 3 and p[1] >= 3 for p in lsh_pairs)  # no random pair


def test_embedding_exact_twin_is_budget_gated(spark, sf_dir):
    from deker_server_adapters_spark.operators.dedup import dedup_embedding_exact

    with pytest.raises(DekerDataPointsLimitError):
        dedup_embedding_exact(spark, sf_dir, max_bytes=10)


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    from deker_server_adapters_spark.operators.similarity import (
        ann_cosine_topk,
        ann_lsh_cosine,
    )

    exact = ann_cosine_topk(spark, sf_dir).toPandas()
    approx = ann_lsh_cosine(spark, sf_dir).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = []
    for q, want in exact_sets.items():
        got = approx_sets.get(q, set())
        recalls.append(len(got & want) / len(want))
    # 8 tables x 4 bits at ~70deg neighbor angle -> expected recall ~0.7
    assert np.mean(recalls) >= 0.5, recalls


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    from deker_server_adapters_spark.operators.similarity import (
        _IVF_CELLS,
        _IVF_PROBES,
        ann_cosine_topk,
        ann_ivf_cosine,
    )

    exact = ann_cosine_topk(spark, sf_dir).toPandas()
    approx = ann_ivf_cosine(spark, sf_dir).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(approx_sets.get(q, set()) & want) / len(want) for q, want in exact_sets.items()
    ]
    # probing 3 of 8 cells scans ~3/8 of the corpus; on near-random
    # vectors recall lands well above that floor
    assert np.mean(recalls) >= 0.45, recalls
    assert _IVF_PROBES < _IVF_CELLS


def test_lsh_candidate_work_bounded(spark, sf_dir):
    from deker_server_adapters_spark.operators.similarity import _N_TABLES, lsh_signatures
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    sizes = lsh_signatures(emb).groupBy("tbl", "bucket").count().toPandas()["count"]
    # candidate work = sum of squared bucket sizes per table, summed
    # over tables — must be well under L * n^2 (the full cross product
    # repeated per table)
    assert (sizes**2).sum() < 0.25 * _N_TABLES * n * n


def test_run_with_timeout(spark, sf_dir):
    from deker_server_adapters_spark.plans.limits import DekerTimeoutError, run_with_timeout
    from deker_server_adapters_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # within budget: returns the action result
    assert run_with_timeout(li.limit(10), seconds=60) == 10
    # a cartesian explosion gets cancelled
    blowup = li.crossJoin(li.select(F.col("l_orderkey").alias("k2"))).crossJoin(
        li.select(F.col("l_partkey").alias("k3"))
    )
    with pytest.raises(DekerTimeoutError):
        run_with_timeout(blowup, seconds=2)


def test_enforce_budget_rows(spark, sf_dir):
    from deker_server_adapters_spark.plans.limits import enforce_budget
    from deker_server_adapters_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(DekerDataPointsLimitError) as e:
        enforce_budget(li, max_bytes=10)
    assert e.value.limit == 10 and e.value.requested > 10
    # within budget → chains through
    assert enforce_budget(li.limit(5), max_bytes=1 << 40).count() == 5


def test_components_checkpoint_hygiene_long_diameter(spark):
    """A 16-node path graph needs ~15 propagation rounds — three
    checkpoint generations (rounds 5/10/15). Superseded checkpoints are
    RDD-level caches that DataFrame.unpersist cannot free; the loop must
    release them explicitly, keeping only the final generation."""
    from deker_server_adapters_spark.operators.dedup import components_from_pairs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    labels = components_from_pairs(chain)
    got = {r["doc_id"]: r["canonical_id"] for r in labels.collect()}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # correctness: one component, canonical = min id, label crossed the
    # whole diameter
    assert got == {i: 0 for i in range(16)}
    # hygiene: at most the final labels generation + the checkpoint its
    # lineage still depends on survive (freeing that one would truncate
    # recoverability); the superseded round-5/round-10 checkpoints and
    # every per-round generation must be gone — unbounded growth was the
    # r2 leak (one checkpointed generation retained per 5 rounds)
    assert after - before <= 2, f"persisted RDDs grew by {after - before}"


def test_simhash_table_drops_null_docs(spark, tmp_path):
    """Engine-identity of the intermediate sketch table: the DuckDB
    formulation's unnest(NULL) emits nothing for NULL text, so the Spark
    table must drop those docs too (no NULL sketches). Empty/whitespace
    text stays: split('', ' ') is [''] in both engines, so both sketch
    the empty-string token — and identically, since '' md5-hashes the
    same everywhere."""
    from deker_server_adapters_spark.operators.dedup import simhash_table

    df = spark.createDataFrame(
        [
            (1, "a real document with several words", "w", 34),
            (2, None, "w", 0),
            (3, "", "w", 0),
            (4, "   ", "w", 3),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    d = tmp_path / "sfnull"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = simhash_table(spark, str(d)).toPandas()
    assert set(got.doc_id) == {1, 3, 4}  # NULL-text doc 2 dropped
    assert got.simhash.notna().all()
    # the two token-less docs sketch identically (both [''] after norm)
    sk = {r.doc_id: r.simhash for r in got.itertuples()}
    assert sk[3] == sk[4]


def test_components_budget_warns_and_returns_partial(spark):
    """A diameter-9 path with a round budget of 3 cannot finish: the op
    must WARN (not raise) and return partially-propagated labels —
    a valid refinement (every label is some reachable node's id, so
    no cross-component pollution), just not yet canonical."""
    import warnings as w

    from deker_server_adapters_spark.operators.dedup import components_from_pairs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        labels = components_from_pairs(chain, max_rounds=3)
        got = {r["doc_id"]: r["canonical_id"] for r in labels.collect()}
    assert any(
        issubclass(c.category, RuntimeWarning) and "iteration budget" in str(c.message)
        for c in caught
    )
    assert set(got) == set(range(10))  # every node still labeled
    assert all(lbl <= i for i, lbl in got.items())  # labels only move down
    # an adequate budget converges silently to the canonical labeling
    with w.catch_warnings(record=True) as caught2:
        w.simplefilter("always")
        done = components_from_pairs(chain, max_rounds=20)
        full = {r["doc_id"]: r["canonical_id"] for r in done.collect()}
    assert not [c for c in caught2 if issubclass(c.category, RuntimeWarning)]
    assert full == {i: 0 for i in range(10)}


def test_repetition_score_planted(spark):
    from deker_server_adapters_spark.operators.text import repetition_score_df

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # trigrams: 7 total, heavy repeats
            (2, "one two three four five"),  # all distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_score_df(docs).collect()}
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[1]["n_trigrams"] == 7
    # "a b c","b c a","c a b" cycle -> 3 distinct of 7
    assert got[1]["n_distinct_trigrams"] == 3
    assert got[1]["dup_trigram_frac"] == round(1 - 3 / 7, 4)


def test_pii_scan_planted(spark):
    from deker_server_adapters_spark.operators.text import pii_scan_df

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob@test.org today"),
            (2, "call 555-123-4567 or 555 987 6543 now"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scan_df(docs).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["n_phones"] == 0
    assert got[2]["n_phones"] == 2 and got[2]["n_emails"] == 0
    assert got[3]["n_emails"] == 0 and got[3]["n_phones"] == 0
    # redaction actually removed the PII: hash equals the clean twin's
    import hashlib

    expected = hashlib.md5(b"contact <EMAIL> or <EMAIL> today").hexdigest()
    assert got[1]["redacted_md5"] == expected


def test_funnel_planted(spark):
    import datetime as dt

    from deker_server_adapters_spark.operators.events import funnel_df

    t0 = dt.datetime(2024, 1, 1)

    def row(eid, uid, minutes, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    ev = spark.createDataFrame(
        [
            # user 1 completes the funnel in order
            row(1, 1, 0, "click"), row(2, 1, 5, "view"), row(3, 1, 9, "purchase"),
            # user 2: purchase BEFORE view -> stalls at click>view
            row(4, 2, 0, "click"), row(5, 2, 3, "purchase"), row(6, 2, 8, "view"),
            # user 3: view before click -> only the click stage
            row(7, 3, 5, "view"), row(8, 3, 9, "click"),
            # user 4: never clicks
            row(9, 4, 1, "view"), row(10, 4, 2, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r["stage"]: r["n_users"] for r in funnel_df(ev).collect()}
    assert got == {"click": 3, "click>view": 2, "click>view>purchase": 1}


def test_retention_planted(spark):
    import datetime as dt

    from deker_server_adapters_spark.operators.events import retention_df

    t0 = dt.datetime(2024, 1, 1, 12, 0)

    def row(eid, uid, days):
        return (eid, t0 + dt.timedelta(days=days), uid, "click", 1.0, "{}")

    # users 1,2 start day 0; user 1 returns day 1 and 3; user 2 only day 9
    # (beyond the 7-day horizon); user 3 starts day 1, returns day 2
    ev = spark.createDataFrame(
        [row(1, 1, 0), row(2, 1, 1), row(3, 1, 3), row(4, 2, 0), row(5, 2, 9),
         row(6, 3, 1), row(7, 3, 2)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        (r["cohort_day"].day, r["day_n"]): r["n_users"] for r in retention_df(ev).collect()
    }
    assert got == {(1, 0): 2, (1, 1): 1, (1, 3): 1, (2, 0): 1, (2, 1): 1}


def test_pack_sequences_prefix_sum_across_buckets(spark):
    """Global token offsets must be contiguous across BUCKET boundaries
    (the whole point of the distributed prefix-sum): offset[i] =
    offset[i-1] + n_tokens[i-1] in doc_id order, for a bucket count
    that forces several bucket handoffs."""
    from deker_server_adapters_spark.operators.text import pack_sequences_df

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (i % 7 + 1))) for i in range(50)],
        "doc_id long, text string",
    )
    rows = sorted(
        pack_sequences_df(docs, seq_len=10, buckets=4).collect(),
        key=lambda r: r["doc_id"],
    )
    off = 0
    for r in rows:
        assert r["token_offset"] == off, r
        assert r["first_seq"] == off // 10
        assert r["last_seq"] == (off + r["n_tokens"] - 1) // 10
        off += r["n_tokens"]


def test_anomaly_stats_degenerate_groups_null_not_crash(spark):
    """Spark 4 runs ANSI mode by default: a bare /(n-1) or /std aborts
    the query with DIVIDE_BY_ZERO for single-event or zero-variance
    types. Those groups must yield NULL std (filtered downstream),
    matching DuckDB's double/0 -> NULL."""
    import datetime as dt

    from deker_server_adapters_spark.operators.events import anomaly_stats_df
    from deker_server_adapters_spark.streaming.events_stream import (
        streaming_anomaly_zscore,
    )

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, t0, 1, "lonely", 5.0, "{}"),          # n=1: no sample variance
            (2, t0, 1, "flat", 2.0, "{}"),            # zero variance
            (3, t0, 2, "flat", 2.0, "{}"),
            (4, t0, 3, "normal", 1.0, "{}"),
            (5, t0, 4, "normal", 2.0, "{}"),
            (6, t0, 5, "normal", 300.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    stats = {r["event_type"]: r for r in anomaly_stats_df(ev).collect()}
    assert stats["lonely"]["std"] is None
    assert stats["flat"]["std"] == 0.0
    assert stats["normal"]["std"] > 0
    # the batch scoring pipeline (same exprs) survives and drops both
    from pyspark.sql import functions as F

    z = (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0))
    scored = (
        ev.join(F.broadcast(anomaly_stats_df(ev)), "event_type")
        .withColumn("z", F.round(z, 2))
        .filter(F.abs(F.col("z")) > 3)
    )
    assert {r["event_type"] for r in scored.collect()} <= {"normal"}


def test_ann_int8_recall_vs_exact(spark, sf_dir):
    """int8 quantization noise (~1/254 per component at 64 dims) must
    barely move the top-k: high overlap with the exact baseline."""
    from deker_server_adapters_spark.operators.similarity import (
        ann_cosine_topk,
        ann_int8_cosine,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]) for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"]) for r in ann_int8_cosine(spark, sf_dir).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall


def test_cms_heavy_hitters_error_bound(spark, sf_dir):
    """CMS never underestimates; overestimate bounded by ~e*N/w (with
    slack for the probabilistic confidence). Exact per-key counts are
    computed HERE as the yardstick — the operator itself only ever
    touches the sketch table and the sampled candidates."""
    import pyspark.sql.functions as F

    from deker_server_adapters_spark.operators.events import (
        _CMS_W,
        events_heavy_hitters_cms,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    rows = events_heavy_hitters_cms(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    exact = dict(
        ev.groupBy("user_id").agg(F.count("*")).collect()
    )
    bound = max(3, 3.0 * n_events / _CMS_W)
    for r in rows:
        assert r["cms_estimate"] >= exact[r["user_id"]], r
        assert r["cms_estimate"] - exact[r["user_id"]] <= bound, (r, bound)


def test_cms_candidates_are_sample_derived(spark, sf_dir):
    """The candidate stage must read only the deterministic event
    sample — a corpus-wide exact top-k groupBy is the cost the sketch
    exists to avoid, so heavy hitters missing from the 2% sample are
    absent from the output by design."""
    import pyspark.sql.functions as F

    from deker_server_adapters_spark.operators.events import (
        _CMS_SAMPLE_PCT,
        _H32,
        events_heavy_hitters_cms,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    sampled_users = {
        r[0]
        for r in ev.filter(
            F.expr(f"{_H32.format(col='event_id')} % 100 < {_CMS_SAMPLE_PCT}")
        )
        .select("user_id")
        .distinct()
        .collect()
    }
    out_users = {r["user_id"] for r in events_heavy_hitters_cms(spark, sf_dir).collect()}
    assert out_users <= sampled_users


def test_kmeans_matches_numpy_reference(spark, sf_dir):
    """Distributed Lloyd's must produce byte-identical assignments to a
    single-node NumPy reference run from the same seeds: same argmin
    tie-break (lowest cluster id) and same 1e-9 centroid rounding, so
    the distributed form is the reference algorithm, not an
    approximation of it."""
    from deker_server_adapters_spark.operators.similarity import (
        _KMEANS_ITERS,
        _KMEANS_K,
        kmeans_assignments,
    )
    from deker_server_adapters_spark.functions.hashing import h32
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_assignments(emb)
    got = {r.vec_id: r.cluster for r in assigned.select("vec_id", "cluster").collect()}

    pdf = (
        emb.withColumn("hk", h32(F.col("vec_id")))
        .select("vec_id", "embedding", "hk")
        .toPandas()
        .sort_values("vec_id")
    )
    X = np.array([list(map(float, e)) for e in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    seed_ids = sorted(
        pdf.sort_values(["hk", "vec_id"]).head(_KMEANS_K)["vec_id"].tolist()
    )
    def rts(x, digits):  # the engines' tie-safe rounding device
        return np.floor(x * 10.0**digits + 0.5) / 10.0**digits

    C = X[np.isin(ids, seed_ids)].astype(float)
    for _ in range(_KMEANS_ITERS):
        d = rts(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 9)
        a = d.argmin(axis=1)  # argmin takes the first (lowest) index on ties
        C = np.array(
            [
                rts(X[a == c].mean(axis=0), 9) if (a == c).any() else C[c]
                for c in range(_KMEANS_K)
            ]
        )
    d = rts(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 9)
    want = dict(zip(ids.tolist(), d.argmin(axis=1).tolist()))

    assert np.allclose(np.array(cents), C, atol=1e-9)
    mism = {v: (got[v], want[v]) for v in want if got[v] != want[v]}
    assert not mism, f"{len(mism)} assignment mismatches, e.g. {list(mism.items())[:5]}"


def test_pca_matches_numpy_reference(spark, sf_dir):
    """The distributed moments pass must reproduce NumPy's exact
    covariance PCA: same eigenvalues and (up to sign) the same
    components."""
    from deker_server_adapters_spark.operators.similarity import (
        _PCA_K,
        embeddings_pca,
        pca_moments,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]

    # distributed moments agree with the single-node covariance
    n, s, gram = pca_moments(emb)
    mu = np.array(s) / n
    dist_cov = (np.array(gram) - n * np.outer(mu, mu)) / (n - 1)
    assert n == len(X)
    assert np.allclose(dist_cov, cov, atol=1e-8)

    got = {
        r.component: (r.eigenvalue, r.explained_var)
        for r in embeddings_pca(spark, sf_dir).collect()
    }
    assert len(got) == _PCA_K
    for rank in range(_PCA_K):
        assert abs(got[rank][0] - evals[rank]) < 1e-4, (rank, got[rank], evals[rank])
    # ranked strictly by eigenvalue
    assert all(got[r][0] >= got[r + 1][0] for r in range(_PCA_K - 1))


def test_pca_moments_coordinate_table_matches_numpy(spark, sf_dir):
    """The oracled moments op: reconstructing (n, mean, covariance)
    from its fixed-point coordinate rows must agree with direct NumPy
    on the corpus — the 1e-9 quantization is the only allowed error,
    and the Gram table must be exactly symmetric (identical fixed-point
    contributions for (i,j) and (j,i))."""
    from deker_server_adapters_spark.operators.similarity import (
        embeddings_pca_moments,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    rows = embeddings_pca_moments(spark, sf_dir).collect()
    n = next(r.v_e9 for r in rows if r.i == -1 and r.j == -1)
    d = 1 + max(r.i for r in rows)
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        if r.i == -1:
            continue
        if r.j == -1:
            s[r.i] = r.v_e9 / 1e9
        else:
            g[r.i, r.j] = r.v_e9 / 1e9
    assert np.array_equal(g, g.T)

    pdf = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    assert n == len(X)
    # per-row 1e-9 quantization -> worst-case n * 0.5e-9 drift per sum
    tol = n * 1e-9
    assert np.allclose(s, X.sum(axis=0), atol=tol)
    assert np.allclose(g, X.T @ X, atol=tol)


def _bpe_ref_apply(syms, a, b):
    """Canonical single left-to-right greedy non-overlapping merge pass
    over a symbol LIST — boundary-aware: a pair only matches two whole
    adjacent symbols (the former space-joined str.replace reference
    matched across symbol boundaries, silently blessing the same bug in
    the Spark side)."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_ref_train(texts, k):
    import re
    from collections import Counter

    words = []
    for t in texts:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        words.extend(w for w in norm.split(" ") if w)
    encoded = [list(w) for w in words]
    want = []
    for rank in range(k):
        counts = Counter()
        for syms in encoded:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += 1
        if not counts:
            break
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if top[1] < 2:
            break
        want.append((rank, top[0][0], top[0][1], top[1]))
        encoded = [_bpe_ref_apply(s, top[0][0], top[0][1]) for s in encoded]
    return want


def test_bpe_merges_match_python_reference(spark, sf_dir):
    """The distributed BPE trainer must learn exactly the merges a
    single-node CANONICAL reference trainer learns: same pairs, same
    counts, same order (count desc, pair asc tiebreak; merge
    application is a boundary-aware left-to-right greedy pass over the
    symbol sequence in both)."""
    from deker_server_adapters_spark.operators.text import (
        _BPE_MERGES,
        bpe_merge_table,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = bpe_merge_table(docs)
    texts = [r.text for r in docs.select("text").collect()]
    want = _bpe_ref_train(texts, _BPE_MERGES)
    assert got == want, f"\ngot:  {got}\nwant: {want}"


def test_bpe_merge_is_boundary_aware(spark):
    """The ADVICE r6 regression: word 'des' after merge (e,s) is
    ['d','es']; the later merge (d,e) must NOT fire on it. The old
    string-replace re-encode matched 'd e' inside 'd es', collapsing
    'des' to one symbol, so round 3's true top pair (d,es) vanished and
    training stopped a merge early. This corpus forces exactly that
    merge order: (e,s) x6 > (d,e) x5, then (d,e) x3, then (d,es) x2."""
    from deker_server_adapters_spark.operators.text import bpe_merge_table

    texts = ["des des es es es es de de de"]
    docs = spark.createDataFrame([(1, t) for t in texts], "doc_id int, text string")
    got = bpe_merge_table(docs, k=3)
    want = _bpe_ref_train(texts, 3)
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    assert [m[1:3] for m in got] == [("e", "s"), ("d", "e"), ("d", "es")]
    assert got[2][3] == 2  # both 'des' words still expose the (d, es) pair


@pytest.mark.slow
def test_bpe_scales_past_codegen_limits(spark):
    """VERDICT r6 item 4: per-round expression size must be O(1), so a
    realistic merge budget (k=64 here) compiles and matches the
    canonical reference — the old chained-replace form grew the
    expression tree O(k) deep per round."""
    from deker_server_adapters_spark.operators.text import bpe_merge_table

    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    texts = [f"{alpha} {alpha} {alpha[::-1]} {alpha[::-1]}"]
    docs = spark.createDataFrame([(1, t) for t in texts], "doc_id int, text string")
    got = bpe_merge_table(docs, k=64)
    want = _bpe_ref_train(texts, 64)
    assert len(got) == 64
    assert got == want


@pytest.mark.slow
def test_bpe_large_k_with_lineage_checkpoints(spark):
    """VERDICT r7 item 9: k in the hundreds must be a parameter choice,
    not a caveat. With ``checkpoint_every`` interleaving
    ``localCheckpoint``, plan depth stays O(checkpoint_every) instead
    of O(k); k=256 (8 checkpoint generations at every=32) completes in
    bounded time and still matches the canonical greedy reference
    merge-for-merge."""
    import random
    import time

    from deker_server_adapters_spark.operators.text import bpe_merge_table

    rng = random.Random(99)
    words = [
        "".join(rng.choice("abcdefghijkl") for _ in range(8)) for _ in range(80)
    ]
    texts = [" ".join(words + words)]  # every word twice: merges stay productive
    docs = spark.createDataFrame([(1, t) for t in texts], "doc_id int, text string")
    t0 = time.time()
    got = bpe_merge_table(docs, k=256, checkpoint_every=32)
    elapsed = time.time() - t0
    want = _bpe_ref_train(texts, 256)
    assert len(got) == 256
    assert got == want
    # ~0.2 s/round on local[32]; an O(k)-deep plan would blow this up
    # through quadratic analysis cost long before the margin is reached
    assert elapsed < 300, f"k=256 took {elapsed:.0f}s"


def test_bpe_equal_sided_merge_is_greedy(spark):
    """a == b merges overlap ('aaa' merges only the first two): the
    sequential-fold path must keep exact greedy semantics while the
    a != b path uses the simultaneous rewrite."""
    from deker_server_adapters_spark.operators.text import bpe_merge_table

    texts = ["aaaa aaaa aaa"]
    docs = spark.createDataFrame([(1, t) for t in texts], "doc_id int, text string")
    got = bpe_merge_table(docs, k=3)
    want = _bpe_ref_train(texts, 3)
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    assert got[0][1:3] == ("a", "a")


def test_bpe_merge_expr_randomized_equivalence(spark):
    """The Spark merge expression (both the a != b simultaneous form
    and the a == b fold) must equal the canonical greedy reference on
    RANDOM symbol sequences — the r6 ADVICE bug survived because the
    test reference mirrored the implementation's shortcut, so this
    check runs against the independent scan-merge reference over
    seeded-random inputs, all rows in one Spark job per pattern."""
    import random

    from pyspark.sql import functions as F

    from deker_server_adapters_spark.operators.text import _bpe_apply_merge

    rng = random.Random(1234)
    alphabet = ["a", "b", "c", "ab", "aa"]
    for a, b in [("a", "b"), ("a", "a"), ("b", "a"), ("ab", "a"), ("a", "ab")]:
        seqs = [
            [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
            for _ in range(120)
        ]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(seqs)], "i int, s array<string>"
        )
        got = {
            r.i: r.m
            for r in df.select("i", _bpe_apply_merge(F.col("s"), a, b).alias("m")).collect()
        }
        for i, s in enumerate(seqs):
            want = _bpe_ref_apply(s, a, b)
            assert got[i] == want, f"pattern ({a},{b}) seq {s}: {got[i]} != {want}"


def test_bpe_encode_lengths_match_reference(spark, sf_dir):
    """The encode pass (apply learned merges) must reproduce the
    canonical reference encoder's per-doc BPE token counts exactly."""
    import re

    from deker_server_adapters_spark.operators.text import (
        _BPE_MERGES,
        docs_bpe_encode_lengths,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
        for r in docs_bpe_encode_lengths(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    texts = [r.text for r in docs]
    merges = _bpe_ref_train(texts, _BPE_MERGES)
    for r in docs:
        norm = re.sub(r"\s+", " ", r.text.lower()).strip()
        words = [w for w in norm.split(" ") if w]
        if not words:
            assert r.doc_id not in got
            continue
        enc_lens = []
        for w in words:
            syms = list(w)
            for _, a, b, _n in merges:
                syms = _bpe_ref_apply(syms, a, b)
            enc_lens.append(len(syms))
        want = (len(words), sum(len(w) for w in words), sum(enc_lens))
        assert got[r.doc_id] == want, f"doc {r.doc_id}: {got[r.doc_id]} != {want}"


def test_pq_matches_numpy_reference(spark, sf_dir):
    """The distributed PQ trainer must learn the same codebooks and
    assign the same codes as a NumPy reference running the identical
    deterministic recipe (md5-smallest seeds, lowest-id tie breaks,
    1e-9-rounded decimal means)."""
    import hashlib

    from deker_server_adapters_spark.operators.similarity import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        pq_codebooks,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codes_df, books = pq_codebooks(emb)
    got = {
        (r.vec_id, r.m): r.code for r in codes_df.select("vec_id", "m", "code").collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    dim = len(next(iter(vecs.values())))
    sub = dim // _PQ_M

    def h32(v):
        return int(hashlib.md5(f"0:{v}".encode()).hexdigest()[:8], 16)

    seed_ids = sorted(sorted(vecs, key=lambda v: (h32(v), v))[:_PQ_K])
    ref_books = [
        [vecs[i][mm * sub : (mm + 1) * sub].copy() for i in seed_ids]
        for mm in range(_PQ_M)
    ]

    def ref_assign(bks):
        out = {}
        for vid, v in vecs.items():
            for mm in range(_PQ_M):
                sv = v[mm * sub : (mm + 1) * sub]
                dists = [float(((sv - c) ** 2).sum()) for c in bks[mm]]
                out[(vid, mm)] = int(np.argmin(dists))  # argmin -> lowest index on tie
        return out

    for _ in range(_PQ_ITERS):
        asg = ref_assign(ref_books)
        for mm in range(_PQ_M):
            for c in range(_PQ_K):
                members = [
                    vecs[vid][mm * sub : (mm + 1) * sub]
                    for (vid, m2), cc in asg.items()
                    if m2 == mm and cc == c
                ]
                if members:
                    ref_books[mm][c] = np.round(
                        np.mean(np.stack(members), axis=0), 9
                    )
    want = ref_assign(ref_books)
    assert got == want
    for mm in range(_PQ_M):
        for c in range(_PQ_K):
            np.testing.assert_allclose(books[mm][c], ref_books[mm][c], atol=1e-9)


def test_ann_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ ADC shortlist + exact re-rank: recall@5 vs the exact baseline
    on this corpus of near-orthogonal random vectors (the hard case —
    neighbor margins sit near reconstruction noise, which is exactly
    why the two-stage form exists; measured 0.6 mean at the 50-deep
    shortlist, floor set with slack for codebook-recipe changes)."""
    from deker_server_adapters_spark.operators.similarity import (
        ann_cosine_topk,
        ann_pq_cosine,
    )

    exact = ann_cosine_topk(spark, sf_dir).toPandas()
    approx = ann_pq_cosine(spark, sf_dir).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [len(a.get(q, set()) & want) / len(want) for q, want in e.items()]
    assert np.mean(recalls) >= 0.4, recalls


def test_ann_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """The composed IVF x PQ x refine path: recall@5 vs exact is
    bounded above by IVF's own cell-pruning recall (~0.7 on this
    corpus); the PQ shortlist stage should cost little on top
    (measured 0.64 vs 0.70). Floor leaves slack for recipe changes."""
    from deker_server_adapters_spark.operators.similarity import (
        ann_cosine_topk,
        ann_ivfpq_cosine,
    )

    exact = ann_cosine_topk(spark, sf_dir).toPandas()
    approx = ann_ivfpq_cosine(spark, sf_dir).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [len(a.get(q, set()) & want) / len(want) for q, want in e.items()]
    assert np.mean(recalls) >= 0.4, recalls


def test_hll_estimate_within_theoretical_error(spark, sf_dir):
    """HLL's standard error is 1.04/sqrt(m) ~ 4.6% at m=512; the
    estimate must land within ~3 sigma of the exact distinct count on
    real data (measured -0.4% at sf0.1), and the register table must
    respect the sketch's hard size bound."""
    from deker_server_adapters_spark.operators.events import (
        _HLL_M,
        events_hll_distinct,
        events_hll_registers,
    )

    row = events_hll_distinct(spark, sf_dir).collect()[0]
    assert row.n_exact > 0
    assert abs(row.err_pct) < 15.0, row
    regs = events_hll_registers(spark, sf_dir).collect()
    assert 0 < len(regs) <= _HLL_M
    assert all(1 <= r.max_rank <= 52 for r in regs)


def test_hll_registers_merge_by_max(spark, sf_dir):
    """The sketch's mergeability contract — the scale property that
    lets shard-local sketches union without a rescan: registers built
    per event_type half and merged by max equal the global registers."""
    from pyspark.sql import functions as F

    from deker_server_adapters_spark.operators.events import hll_registers_df
    from deker_server_adapters_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    whole = hll_registers_df(ev).toPandas().sort_values("reg").reset_index(drop=True)
    split = F.col("event_id") % 2 == 0
    import pandas as pd

    merged = (
        hll_registers_df(ev.filter(split))
        .unionByName(hll_registers_df(ev.filter(~split)))
        .groupBy("reg")
        .agg(F.max("max_rank").alias("max_rank"))
        .toPandas()
        .sort_values("reg")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(merged, whole, check_dtype=False)


def test_duplicate_ngrams_flags_known_duplication(spark):
    """A doc sharing an exact 8-token substring with another doc (and a
    doc repeating its own phrase) must show the right window counts; a
    doc of unique text must show zero duplicated windows."""
    from deker_server_adapters_spark.operators.dedup import docs_duplicate_ngrams

    shared = "the quick brown fox jumps over the lazy"  # exactly 8 tokens
    rows = [
        (1, f"{shared} dog in one unique morning walk", "en", "a", 0),
        (2, f"prefix words here {shared} and a different tail", "en", "a", 0),
        (3, "entirely unique text with eight different words plus some extra padding tokens", "en", "a", 0),
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="dupgram_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in docs_duplicate_ngrams(spark, d).collect()}
    # doc 1: 14 tokens -> 7 windows, exactly one (the shared phrase) duplicated
    assert got[1].n_windows == 7 and got[1].n_dup_windows == 1
    assert got[2].n_dup_windows == 1
    assert got[3].n_dup_windows == 0 and got[3].dup_frac == 0.0


def test_dup_width_profile_separates_short_and_long_duplication(spark):
    """A corpus with a shared 8-token phrase but divergent continuations
    must show dup mass at width 8 and NONE at width 32; two fully
    copied long docs must keep dup mass at every width."""
    import os
    import tempfile

    from deker_server_adapters_spark.operators.dedup import docs_dup_width_profile

    short_shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    long_text = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, f"{short_shared} one ending here with unique words", "en", "a", 0),
        (2, f"{short_shared} a totally different continuation follows now", "en", "a", 0),
        (3, long_text, "en", "a", 0),
        (4, long_text, "en", "a", 0),  # full copy: dup at all widths
    ]
    d = tempfile.mkdtemp(prefix="dupw_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    prof = {r.width: r for r in docs_dup_width_profile(spark, d).collect()}
    assert prof[8].n_dup_windows > 2  # shared phrase + the copied docs
    assert prof[8].n_docs_with_dup == 4
    # at width 32 only the full copies can still match
    assert prof[32].n_docs_with_dup == 2
    assert prof[32].n_dup_windows == 2 * (40 - 32 + 1)


def test_histogram_quantile_error_bounded_by_bin_width(spark, sf_dir):
    """The estimator's REAL guarantee, not a data-shape observation:
    the estimate lands within 2 bin widths PLUS the gap between the
    order statistics bracketing the target rank (with gapped/heavy-
    tailed data the exact continuous quantile interpolates across
    empty bins the histogram cannot see — the bound must include that
    gap or a regenerated dataset breaks the test spuriously)."""
    from deker_server_adapters_spark.operators.events import (
        _HIST_BINS,
        events_value_histogram_quantiles,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    mn, mx, n = ev.agg(F.min("value"), F.max("value"), F.count("*")).first()
    bin_w = (mx - mn) / _HIST_BINS
    rows = events_value_histogram_quantiles(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        k = int((n - 1) * r.q)
        lo_q, hi_q = k / (n - 1), min(1.0, (k + 1) / (n - 1))
        x_lo, x_hi = ev.agg(
            F.expr(f"percentile(value, {lo_q})"),
            F.expr(f"percentile(value, {hi_q})"),
        ).first()
        bound = 2 * bin_w + (x_hi - x_lo)
        assert abs(r.err) <= bound, (r.q, r.err, bound)


def test_rfm_hist_bounds_within_one_bin_width(spark, sf_dir):
    """The RFM quintile-boundary device (256-bin histogram + in-bin
    rank interpolation) must land each boundary within 2 bin widths of
    the exact continuous quintile, plus the gap between the order
    statistics bracketing the target rank (same caveat as the
    histogram-quantile estimator test above: with gapped data the
    exact quantile interpolates across empty bins the histogram cannot
    see)."""
    from deker_server_adapters_spark.operators.tpch import (
        _RFM_BINS,
        _rfm_hist_bounds,
        _rfm_metrics,
    )

    rfm = _rfm_metrics(spark, sf_dir)
    bounds = _rfm_hist_bounds(spark, rfm).first()
    n = rfm.count()
    for metric, arr in (("recency", "rb"), ("frequency", "fb"), ("monetary_d", "mb")):
        mn, mx = rfm.agg(F.min(metric), F.max(metric)).first()
        bin_w = (mx - mn) / _RFM_BINS
        ests = bounds[arr]
        assert len(ests) == 4
        for q, est in zip((0.2, 0.4, 0.6, 0.8), ests):
            exact = rfm.agg(F.expr(f"percentile({metric}, {q})")).first()[0]
            k = int((n - 1) * q)
            lo_q, hi_q = k / (n - 1), min(1.0, (k + 1) / (n - 1))
            x_lo, x_hi = rfm.agg(
                F.expr(f"percentile({metric}, {lo_q})"),
                F.expr(f"percentile({metric}, {hi_q})"),
            ).first()
            bound = 2 * bin_w + (x_hi - x_lo)
            assert abs(est - exact) <= bound, (metric, q, est, exact, bound)


def test_ann_threshold_join_recall_floor_and_no_false_positives(spark, sf_dir):
    """The threshold join's quality contract: LSH candidates + exact
    verify can MISS pairs (collision probability < 1) but can never
    invent one — n_found == n_hit exactly — and recall at tau=0.35
    stays above the 8x4-table collision floor (~0.70 predicted,
    0.71-0.75 measured across sf0.001/0.01/0.1). The 0.6 floor guards
    the DEFAULT point (tables=8, ladder delta 0) of the measured
    recall dial (tools/tj_sweep.py, docs/PERF.md r11 sweep: 8/12/16
    tables -> 0.736/0.862/0.929 at base bits; one ladder step up costs
    0.13-0.19) — if the default config changes, re-run the sweep and
    move this floor to the new point, don't loosen it."""
    from deker_server_adapters_spark.operators.similarity import (
        ann_threshold_join_recall,
    )

    r = ann_threshold_join_recall(spark, sf_dir).first()
    assert r["n_found"] == r["n_hit"]  # exact verify: no false positives
    assert r["n_exact"] > 0
    assert r["recall"] >= 0.6, r


def test_triangle_counting_on_planted_cliques(spark):
    """Planted ground truth for the degree-ordered triangle count: one
    4-clique order (4 triangles, every member closes 3), one triangle
    order sharing a node with it, and one plain edge. The orientation
    must count each triangle exactly once regardless of how many
    wedge matches the shared hub could produce."""
    import os
    import tempfile

    from deker_server_adapters_spark.operators.tpch import (
        parts_copurchase_triangles,
    )

    # orders: o1 = {1,2,3,4} (K4), o2 = {4,5,6} (triangle sharing part
    # 4), o3 = {7,8} (edge, no triangle)
    rows = [(1, p) for p in (1, 2, 3, 4)] + [(2, p) for p in (4, 5, 6)] + [
        (3, p) for p in (7, 8)
    ]
    d = tempfile.mkdtemp(prefix="tri_")
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "lineitem.parquet"))
    got = {r.part_id: r.n_triangles for r in parts_copurchase_triangles(spark, d).collect()}
    # K4: 4 triangles; part 4 additionally closes {4,5,6} -> 3 + 1
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 1, 6: 1}


def test_nation_quantiles_within_bin_width_of_exact(spark, sf_dir):
    """Grouped histogram quantiles must land within 2 bin widths of the
    exact per-group percentile plus the bracketing order-stat gap —
    the same estimator contract as the global device, checked at the
    grouped grain."""
    from deker_server_adapters_spark.operators.tpch import (
        _NQ_BINS,
        nation_order_value_quantiles,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    vals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", F.col("o_totalprice").cast("double").alias("v"))
    )
    got = {r.n_name: r for r in nation_order_value_quantiles(spark, sf_dir).collect()}
    assert got
    exact = {
        r.n_name: r
        for r in vals.groupBy("n_name")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.9)").alias("p90"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    for name, r in got.items():
        e = exact[name]
        bin_w = (e.mx - e.mn) / _NQ_BINS
        n = e.n
        for q, est, ex in ((0.5, r.median_est, e.p50), (0.9, r.p90_est, e.p90)):
            k = int((n - 1) * q)
            lo_q, hi_q = k / (n - 1), min(1.0, (k + 1) / (n - 1))
            x_lo, x_hi = vals.filter(F.col("n_name") == name).agg(
                F.expr(f"percentile(v, {lo_q})"),
                F.expr(f"percentile(v, {hi_q})"),
            ).first()
            assert abs(est - ex) <= 2 * bin_w + (x_hi - x_lo), (name, q, est, ex)


def test_char_entropy_known_values(spark):
    """Planted ground truth: 'aaaa' has 0 bits/char, 'abab' exactly 1,
    'abcd' exactly 2 — and the rollup averages them per (source, lang)."""
    import os
    import tempfile

    from deker_server_adapters_spark.operators.text import docs_char_entropy

    rows = [
        (1, "aaaa", "en", "s0", 4),
        (2, "abab", "en", "s0", 4),
        (3, "abcd", "en", "s1", 4),
    ]
    d = tempfile.mkdtemp(prefix="ent_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.source: r for r in docs_char_entropy(spark, d).collect()}
    assert got["s0"].n_docs == 2
    assert got["s0"].min_entropy_bits == 0.0
    assert got["s0"].max_entropy_bits == 1.0
    assert got["s0"].avg_entropy_bits == 0.5
    assert got["s1"].avg_entropy_bits == 2.0


def test_jaccard_on_planted_graph(spark):
    """Planted ground truth for the related-products scorer on
    K4 {1,2,3,4} + side triangle {4,5,6}: K4 edges away from the hub
    (deg 3+3, cn 2) score J = 2/(3+3-2-2) = 1.0; K4 edges touching
    hub 4 (deg 5) score 2/(3+5-2-2) = 0.5; the side triangle's hub
    edges score 1/(5+2-1-2) = 0.25 and its far edge (deg 2+2)
    1/(2+2-1-2) = 1.0."""
    import os
    import tempfile

    from deker_server_adapters_spark.operators.tpch import parts_copurchase_jaccard

    rows = [(1, p) for p in (1, 2, 3, 4)] + [(2, p) for p in (4, 5, 6)]
    d = tempfile.mkdtemp(prefix="jac_")
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "lineitem.parquet"))
    got = {
        (r.part_a, r.part_b): (r.common_neighbors, r.jaccard)
        for r in parts_copurchase_jaccard(spark, d).collect()
    }
    for e in ((1, 2), (1, 3), (2, 3)):
        assert got[e] == (2, 1.0), (e, got.get(e))
    for e in ((1, 4), (2, 4), (3, 4)):
        assert got[e] == (2, 0.5), (e, got.get(e))
    assert got[(4, 5)] == (1, 0.25)
    assert got[(4, 6)] == (1, 0.25)
    assert got[(5, 6)] == (1, 1.0)  # deg(5)=deg(6)=2: union == {4} u {4}


def test_containment_catches_short_in_long_that_jaccard_misses(spark):
    """A short doc fully embedded in a much longer one must clear the
    containment gate (C = 1.0) while its symmetric Jaccard stays far
    below the Jaccard op's 0.5 threshold — the exact pair class this
    op exists for. An unrelated doc must not pair at all."""
    import os
    import tempfile

    from deker_server_adapters_spark.operators.dedup import (
        docs_containment_dedup,
    )

    words = [f"tok{i}" for i in range(200)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[40:60])  # 20 words embedded verbatim
    other = " ".join(f"zzz{i}" for i in range(50))
    rows = [
        (1, long_doc, "en", "s0", len(long_doc)),
        (2, short_doc, "en", "s0", len(short_doc)),
        (3, other, "en", "s0", len(other)),
    ]
    d = tempfile.mkdtemp(prefix="cont_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {(r.doc_a, r.doc_b): r for r in docs_containment_dedup(spark, d).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.containment == 1.0
    assert r.jaccard < 0.5  # the Jaccard op would have dropped it
    assert not any(3 in pair for pair in got)


def test_threshold_join_bits_ladder(spark):
    """The adaptive-resolution ladder (the fix for the measured 45x
    cliff at fixed bits, PERF.md r9): smallest b with n/2^b <= 512,
    floored at the top-k config's 4 bits, capped at 12 — pure integer
    CASE, so both engines compute the identical bucket width."""
    from deker_server_adapters_spark.operators.similarity import (
        _tj_bits_ladder_sql,
    )

    for n, want in (
        (100, 4),
        (8192, 4),
        (8193, 5),
        (16384, 5),
        (20000, 6),
        (32768, 6),
        (2_000_000, 12),
        (10**9, 12),
    ):
        got = spark.sql(f"SELECT {_tj_bits_ladder_sql(str(n))} AS b").first()["b"]
        assert got == want, (n, got, want)


def test_wau_hll_rolling_error_bounded(spark, sf_dir):
    """The merged-daily-sketch estimate must stay within HLL's p=9
    error envelope on every window day (1.04/sqrt(512) ~ 4.6% std;
    5 sigma leaves regeneration headroom while still catching a broken
    merge, which typically lands 50-100% off). Max |err| observed
    2.74% at sf0.1."""
    from deker_server_adapters_spark.operators.events import (
        events_wau_hll_rolling,
    )

    rows = events_wau_hll_rolling(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.err_pct) <= 23.0, (r.day, r.err_pct)


def test_kcore_trace_matches_python_reference(spark, sf_dir):
    """The bounded peeling trace must equal an exact in-memory replay
    (numpy-free reference: dict degrees + set pruning) — rounds are
    monotone non-increasing and, when the last two node counts agree,
    the survivors form the true K-core (every survivor keeps degree
    >= K inside the surviving edge set)."""
    from deker_server_adapters_spark.operators.tpch import (
        _KCORE_K,
        _KCORE_ROUNDS,
        _copurchase_graph,
        parts_copurchase_kcore,
    )

    edges = {
        (r.u, r.v) for r in _copurchase_graph(spark, sf_dir)[0].collect()
    }
    want = []
    cur = set(edges)
    for r in range(1, _KCORE_ROUNDS + 1):
        deg: dict = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        strong = {n for n, d in deg.items() if d >= _KCORE_K}
        cur = {(u, v) for u, v in cur if u in strong and v in strong}
        want.append((r, len(strong), len(cur)))
    got = sorted(
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in parts_copurchase_kcore(spark, sf_dir).collect()
    )
    assert got == want
    nodes = [w[1] for w in want]
    assert all(a >= b for a, b in zip(nodes, nodes[1:]))  # monotone
    if want[-1][1] == want[-2][1]:  # converged: survivors are the k-core
        deg = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        assert all(d >= _KCORE_K for d in deg.values())


def test_purchase_attribution_planted(spark):
    """Planted truth for the attribution window: a click 60 minutes
    before the purchase attributes (lag 60.0); a click 8 days before is
    outside the 7-day lookback; a purchase with no click at all stays
    unattributed; two clicks before one purchase make it multi-touch
    (first != last, last-touch lag wins)."""
    import os
    import tempfile
    from datetime import datetime, timedelta

    from deker_server_adapters_spark.operators.events import (
        events_purchase_attribution,
    )

    t0 = datetime(2024, 3, 1, 12, 0, 0)

    def row(eid, uid, dt, etype, value=10.0):
        return (eid, dt, uid, etype, value, "{}")

    rows = [
        # user 1: click 60 min before purchase -> attributed, lag 60
        row(1, 1, t0 - timedelta(minutes=60), "click"),
        row(2, 1, t0, "purchase", 100.0),
        # user 2: click 8 days before -> NOT attributed
        row(3, 2, t0 - timedelta(days=8), "click"),
        row(4, 2, t0, "purchase", 50.0),
        # user 3: no click at all -> NOT attributed
        row(5, 3, t0, "purchase", 25.0),
        # user 4: clicks 120 and 30 min before -> multi-touch, lag 30
        row(6, 4, t0 - timedelta(minutes=120), "click"),
        row(7, 4, t0 - timedelta(minutes=30), "click"),
        row(8, 4, t0, "purchase", 200.0),
    ]
    d = tempfile.mkdtemp(prefix="attr_")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = events_purchase_attribution(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_purchases == 4
    assert r.n_attributed == 2  # users 1 and 4
    assert r.n_single_touch == 1  # user 1 only
    assert r.attribution_rate == 0.5
    assert r.attributed_value == 300.0
    assert r.avg_lag_minutes == 45.0  # mean of 60 and 30


def test_wilson_bound_orders_confidence_not_raw_rate(spark):
    """The whole point of the Wilson ranking: 1/1 returned (raw rate
    1.0) must rank BELOW 300/1000 (raw 0.30) because a single sample
    can't support its rate (lb 0.2066 < 0.2724) — and the bound values
    match the closed form."""
    import math
    import os
    import tempfile

    from deker_server_adapters_spark.operators.tpch import (
        _WILSON_Z,
        brand_return_rate_wilson,
    )

    rows = []
    pk = 0
    parts = []
    # brand A: 1 item, 1 returned; brand B: 1000 items, 300 returned
    for brand, n, k in (("A", 1, 1), ("B", 1000, 300)):
        for i in range(n):
            pk += 1
            parts.append((pk, brand))
            rows.append((pk, "R" if i < k else "N"))
    d = tempfile.mkdtemp(prefix="wil_")
    spark.createDataFrame(rows, "l_partkey long, l_returnflag string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(parts, "p_partkey long, p_brand string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "part.parquet"))
    got = {r.p_brand: r for r in brand_return_rate_wilson(spark, d).collect()}

    def wilson(k, n):
        p = k / n
        z2n = _WILSON_Z * _WILSON_Z / n
        return round(
            (p + z2n / 2 - _WILSON_Z * math.sqrt((p * (1 - p) + z2n / 4) / n))
            / (1 + z2n),
            6,
        )

    assert got["A"].return_rate == 1.0 and got["B"].return_rate == 0.3
    assert got["A"].wilson_lb == wilson(1, 1)
    assert got["B"].wilson_lb == wilson(300, 1000)
    # confidence flips the raw-rate order
    assert got["B"].wilson_lb > got["A"].wilson_lb
    assert got["B"].rnk < got["A"].rnk


def test_lpa_planted_communities(spark):
    """Synchronous min-tie-break LPA on a planted two-clique graph
    bridged by one edge: the cliques must converge to two DISTINCT
    stable labels (each clique's min node id) — the bridge must not
    merge them — and re-running one extra round must be a fixed point
    (the convergence property the registry op's fixed _LPA_ROUNDS
    relies on)."""
    from deker_server_adapters_spark.operators.tpch import _lpa_labels

    cliques = ([0, 1, 2, 3, 4], [10, 11, 12, 13, 14])
    edges = [
        (u, v)
        for clique in cliques
        for i, u in enumerate(clique)
        for v in clique[i + 1 :]
    ] + [(4, 10)]
    df = spark.createDataFrame(edges, "u long, v long")
    labels4 = {r.n: r.label for r in _lpa_labels(df, 4).collect()}
    assert all(labels4[n] == 0 for n in cliques[0])
    assert all(labels4[n] == 10 for n in cliques[1])
    labels5 = {r.n: r.label for r in _lpa_labels(df, 5).collect()}
    assert labels5 == labels4  # fixed point reached


def test_modularity_on_planted_two_cliques(spark):
    """Newman modularity of the planted two-clique graph (one bridge
    edge) under its LPA partition must equal the textbook value:
    m = 21 edges, each community has e_c = 10 internal edges and
    degree sum 21, so q_c = 10/21 - (21/42)^2 and Q = 2*q_c
    ~ 0.452381 — positive and well above the random-partition 0."""
    from deker_server_adapters_spark.operators.tpch import (
        _lpa_labels,
        _modularity_percomm,
    )

    cliques = ([0, 1, 2, 3, 4], [10, 11, 12, 13, 14])
    edges = [
        (u, v)
        for clique in cliques
        for i, u in enumerate(clique)
        for v in clique[i + 1 :]
    ] + [(4, 10)]
    df = spark.createDataFrame(edges, "u long, v long")
    deg = (
        df.select(F.col("u").alias("n"))
        .union(df.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    labels = _lpa_labels(df, 4)
    rows = {r.label: r for r in _modularity_percomm(df, deg, labels).collect()}
    assert set(rows) == {0, 10}
    q_expected = 10 / 21 - (21 / 42) ** 2
    for r in rows.values():
        assert r.n_nodes == 5
        assert r.internal_edges == 10
        assert r.degree_sum == 21
        assert abs(r.q_contrib - q_expected) < 1e-9
    total = sum(r.q_contrib for r in rows.values())
    assert abs(total - 2 * q_expected) < 1e-9


def test_lpa_labels_match_python_reference(spark, sf_dir):
    """The registry graph's round-_LPA_ROUNDS label table must equal an
    exact in-memory replay of synchronous min-tie-break propagation —
    the same style of oracle-independent ground truth as the k-core
    trace test."""
    from collections import Counter

    from deker_server_adapters_spark.operators.tpch import (
        _LPA_ROUNDS,
        _copurchase_graph,
        _lpa_labels,
    )

    edges_df = _copurchase_graph(spark, sf_dir)[0]
    edges = [(r.u, r.v) for r in edges_df.collect()]
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {n: n for n in adj}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for n, nbs in adj.items():
            cnt = Counter(labels[b] for b in nbs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            # most frequent; ties -> min label
            top = best[1]
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        labels = nxt
    got = {r.n: r.label for r in _lpa_labels(edges_df, _LPA_ROUNDS).collect()}
    assert got == labels


def test_dedup_semantic_invariants(spark, sf_dir):
    """SemDeDup contract: one verdict row per vector; within a cluster
    the lower-id-mate counts replay the rank (sum over a cluster =
    C(n_c, 2) pairs, each cluster's min id has none), dup flags are
    consistent (is_dup <=> n_dup_lower > 0 <= n_lower), and a vector
    with max_sim_lower >= tau is always flagged."""
    from deker_server_adapters_spark.operators.similarity import (
        _SEM_TAU,
        dedup_semantic,
    )

    pdf = dedup_semantic(spark, sf_dir).toPandas()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(pdf) == n_vecs
    assert pdf["vec_id"].is_unique
    assert (pdf["n_dup_lower"] <= pdf["n_lower"]).all()
    assert ((pdf["n_dup_lower"] > 0) == pdf["is_dup"]).all()
    for cell, g in pdf.groupby("cell"):
        g = g.sort_values("vec_id").reset_index(drop=True)
        # each vector sees exactly its lower-id cluster-mates
        assert list(g["n_lower"]) == list(range(len(g)))
        assert g["max_sim_lower"].isna().iloc[0] and not g["max_sim_lower"].isna()[1:].any()
    flagged = pdf[pdf["max_sim_lower"] >= _SEM_TAU]
    assert flagged["is_dup"].all()
    assert not pdf[pdf["max_sim_lower"].fillna(-2.0) < _SEM_TAU]["is_dup"].any()


def test_knn_label_check_planted_error(spark, sf_dir, tmp_path):
    """Plant four clones of one vector: three with the true label, one
    with a flipped label. The flipped clone's top-5 neighbors are the
    four identical vectors (cosine 1.0, all true-labeled), so the
    majority vote must flag it; the true-labeled clones see a 3-vs-1
    true majority and stay clean."""
    import pyspark.sql.functions as F

    from deker_server_adapters_spark.operators.dedup import (
        embeddings_knn_label_check,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.orderBy("vec_id").first()
    m = emb.agg(F.max("vec_id")).first()[0]
    src = emb.orderBy("vec_id").limit(1)
    clones = None
    for i, lab in enumerate([base.label, base.label, base.label, base.label + 1]):
        c = src.select(
            (F.lit(int(m) + 1 + i)).cast("long").alias("vec_id"),
            "embedding",
            F.lit(int(lab)).cast("int").alias("label"),
        )
        clones = c if clones is None else clones.unionByName(c)
    emb.select("vec_id", "embedding", "label").unionByName(clones).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    pdf = (
        embeddings_knn_label_check(spark, str(tmp_path))
        .toPandas()
        .set_index("vec_id")
    )
    flipped = pdf.loc[int(m) + 4]
    assert bool(flipped["is_suspect"])
    assert flipped["knn_label"] == base.label
    for i in range(1, 4):
        assert not bool(pdf.loc[int(m) + i]["is_suspect"])
    assert not bool(pdf.loc[base.vec_id]["is_suspect"])


def test_embeddings_hard_negatives_against_numpy(spark, sf_dir):
    """Label discipline (negatives cross-label, positives same-label),
    contiguous ranks, and exact agreement with a NumPy brute-force
    re-derivation of both rankings."""
    import numpy as np

    from deker_server_adapters_spark.operators.similarity import (
        _HN_K,
        _N_QUERIES,
        embeddings_hard_negatives,
    )

    pdf = embeddings_hard_negatives(spark, sf_dir).toPandas()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    ids = emb["vec_id"].to_numpy()
    labels = dict(zip(emb["vec_id"], emb["label"]))
    neg = pdf[pdf["kind"] == "hard_neg"]
    pos = pdf[pdf["kind"] == "hard_pos"]
    assert (neg["query_label"] != neg["neighbor_label"]).all()
    assert (pos["query_label"] == pos["neighbor_label"]).all()
    for (q, kind), g in pdf.groupby(["query_id", "kind"]):
        assert sorted(g["rnk"]) == list(range(1, len(g) + 1))
        qi = np.where(ids == q)[0][0]
        cos = np.round(X @ X[qi], 6)
        mask = ids != q
        if kind == "hard_neg":
            mask &= np.array([labels[i] != labels[q] for i in ids])
            order = np.lexsort((ids[mask], -cos[mask]))
        else:
            mask &= np.array([labels[i] == labels[q] for i in ids])
            order = np.lexsort((ids[mask], cos[mask]))
        want = ids[mask][order][:_HN_K]
        got = g.sort_values("rnk")["neighbor_id"].to_numpy()
        assert list(got) == list(want), (q, kind)
    assert pdf["query_id"].nunique() == min(_N_QUERIES, len(emb))


def test_incremental_dedup_planted_exact(spark, sf_dir, tmp_path):
    """Plant a NEW doc (id % 5 == 4) carrying an OLD doc's exact text:
    the exact tier must point it at that old doc (this corpus has no
    natural exact dups, so the tier is otherwise unexercised), and an
    old-side clone of a NEW doc must NOT make the new doc 'unique'
    flip — direction matters: verdicts are for new docs only."""
    import pyspark.sql.functions as F

    from deker_server_adapters_spark.operators.dedup import docs_incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old_src = docs.filter((F.col("doc_id") % 5) != 4).orderBy("doc_id").limit(1)
    src_row = old_src.first()
    m = int(docs.agg(F.max("doc_id")).first()[0])
    new_id = m + 1
    while new_id % 5 != 4:
        new_id += 1
    clone = old_src.withColumn("doc_id", F.lit(new_id).cast("long"))
    docs.unionByName(clone).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    pdf = (
        docs_incremental_dedup(spark, str(tmp_path)).toPandas().set_index("doc_id")
    )
    planted = pdf.loc[new_id]
    assert planted["verdict"] == "exact_dup"
    assert planted["exact_dup_of"] == src_row.doc_id
    # every new doc gets exactly one verdict row
    n_new = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .filter((F.col("doc_id") % 5) == 4)
        .count()
    )
    assert len(pdf) == n_new
    assert set(pdf["verdict"].unique()) <= {"exact_dup", "near_dup", "unique"}


def test_duckdb_float_to_decimal_cast_hazard():
    """Regression pin for the r11 find: DuckDB's direct FLOAT->DECIMAL
    cast converts in float32 arithmetic (wrong past ~7 significant
    digits), while FLOAT->DOUBLE->DECIMAL is exact. Every oracle that
    decimal-accumulates a float column must route through DOUBLE; this
    test keeps the hazard visible (if DuckDB ever fixes the direct
    cast, the first assertion flips and the detour can be dropped)."""
    import duckdb

    con = duckdb.connect()
    # build the float via DOUBLE: a bare decimal literal parses as
    # DECIMAL and DuckDB's DECIMAL->FLOAT cast is itself lossy
    con.execute(
        "CREATE TABLE t AS SELECT CAST(CAST(0.12480366975069046 AS DOUBLE) AS FLOAT) AS f"
    )
    direct = con.execute("SELECT CAST(f AS DECIMAL(30,12)) FROM t").fetchone()[0]
    via_double = con.execute(
        "SELECT CAST(CAST(f AS DOUBLE) AS DECIMAL(30,12)) FROM t"
    ).fetchone()[0]
    from decimal import Decimal

    assert via_double == Decimal("0.124803669751")  # correct 12dp rounding
    assert direct != via_double  # the hazard this pin documents
    # and no oracle still uses the direct cast on the float embedding col
    from deker_server_adapters_spark.operators import all_ops

    for name, op in all_ops().items():
        if op.oracle:
            assert "embedding[u.i] AS DECIMAL" not in op.oracle, name


def test_knn_bits_ladder_cross_engine():
    """Python ladder (builder) vs SQL CASE ladder (oracle mask) at
    every threshold +/- 1, plus mask equivalence: summing the first b
    bits equals masking the full 16-bit signature."""
    import duckdb

    from deker_server_adapters_spark.operators.dedup import (
        _KNN_BITS_LADDER,
        _KNN_MAX_BITS,
        _knn_bits,
        _knn_bits_sql,
    )

    probes = {0, 1, 500}
    for bound, _ in _KNN_BITS_LADDER:
        probes |= {bound - 1, bound, bound + 1}
    con = duckdb.connect()
    for n in sorted(probes):
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(f"SELECT {_knn_bits_sql()}").fetchone()[0]
        assert got == _knn_bits(n), (n, got, _knn_bits(n))
    assert _knn_bits(10**9) == _KNN_MAX_BITS
    for b in range(8, 17):
        full = 0b1010110011110101
        assert sum(
            ((full >> i) & 1) << i for i in range(b)
        ) == (full & ((1 << b) - 1))


def test_dedup_semantic_recall_consistency(spark, sf_dir):
    """The recall eval's captured count must equal the pairs the
    verdict op actually flags (sum of n_dup_lower = same-cell pairs at
    >= tau), and recall stays a valid zero-guarded ratio."""
    from deker_server_adapters_spark.operators.similarity import (
        dedup_semantic,
        dedup_semantic_recall,
    )

    row = dedup_semantic_recall(spark, sf_dir).first()
    assert row.n_captured <= row.n_true_pairs
    if row.n_true_pairs:
        assert abs(row.recall - round(row.n_captured / row.n_true_pairs, 4)) < 1e-9
    else:
        assert row.recall is None
    verdicts = dedup_semantic(spark, sf_dir).toPandas()
    assert int(verdicts["n_dup_lower"].sum()) == row.n_captured


def test_sem_k_ladder_cross_engine():
    """The Python ladder (builder) and the SQL CASE ladder (oracle's
    LIMIT subquery) must pick the identical k at every boundary —
    pure integer compares, probed at each threshold +/- 1."""
    import duckdb

    from deker_server_adapters_spark.operators.similarity import (
        _SEM_K_LADDER,
        _SEM_K_MAX,
        _sem_k,
        _sem_k_sql,
    )

    probes = {0, 1, 500}
    for bound, _ in _SEM_K_LADDER:
        probes |= {bound - 1, bound, bound + 1}
    probes.add(_SEM_K_LADDER[-1][0] * 4)
    con = duckdb.connect()
    for n in sorted(probes):
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(f"SELECT {_sem_k_sql()}").fetchone()[0]
        assert got == _sem_k(n), (n, got, _sem_k(n))
    assert _sem_k(10**9) == _SEM_K_MAX


def test_dedup_semantic_planted_clone(spark, sf_dir, tmp_path):
    """A planted exact clone (same embedding, higher vec_id) lands in
    the same cluster at cosine 1.0 >= tau and is flagged; its keeper
    (the original) keeps whatever verdict it had before."""
    import pyspark.sql.functions as F

    from deker_server_adapters_spark.operators.similarity import dedup_semantic

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    clone_src = emb.orderBy("vec_id").limit(1)
    clone = clone_src.withColumn("vec_id", F.lit(int(max_id) + 1).cast("long"))
    emb.unionByName(clone).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    pdf = dedup_semantic(spark, str(tmp_path)).toPandas().set_index("vec_id")
    planted = pdf.loc[int(max_id) + 1]
    assert bool(planted["is_dup"])
    assert planted["max_sim_lower"] == 1.0
    src_id = clone_src.first().vec_id
    assert planted["cell"] == pdf.loc[src_id]["cell"]


def test_docs_chunk_overlap_invariants(spark, sf_dir):
    """Chunking contract: chunk_idx contiguous from 0 per doc; every
    full window has exactly _CHUNK_W tokens and consecutive windows
    overlap by _CHUNK_W - _CHUNK_S tokens of shared text (start
    spacing = stride); the windows COVER the token sequence (last
    start within one stride of the end, so no token is unreachable);
    trailing windows are the only short ones."""
    from deker_server_adapters_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        docs_chunk_overlap,
    )

    pdf = docs_chunk_overlap(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    for doc_id, g in pdf.groupby("doc_id"):
        g = g.sort_values("chunk_idx").reset_index(drop=True)
        assert list(g["chunk_idx"]) == list(range(len(g)))
        assert list(g["start_tok"]) == [i * _CHUNK_S for i in range(len(g))]
        n_total = int(g["start_tok"].iloc[-1] + g["n_tokens"].iloc[-1])
        # coverage: the last window reaches the end of the doc
        assert n_total > int(g["start_tok"].iloc[-1])
        # all but trailing windows are full-width
        short = g[g["n_tokens"] < _CHUNK_W]
        assert (short.index >= len(g) - ((_CHUNK_W - 1) // _CHUNK_S + 1)).all()
        # chunk hashes are content hashes: duplicates only when docs
        # genuinely repeat a window — within one doc, all-equal hashes
        # with different starts would mean the hash ignored content
        if len(g) > 1 and g["n_tokens"].nunique() > 1:
            assert g["chunk_hash"].nunique() > 1


def _write_mini_star(tmp_path, spark, orders=None, lineitem=None, part=None,
                     supplier=None, customer=None, nation=None):
    """Write a minimal star schema to tmp_path for planted-semantics
    tests of the TPC-DS shapes — only the columns the op under test
    selects (an independent ground truth the op+oracle shared formula
    cannot fake, the r12 review-find pattern)."""
    import os

    d = str(tmp_path / "mini_star")
    os.makedirs(d, exist_ok=True)
    schemas = {
        "orders": "o_orderkey long, o_custkey long, o_orderdate timestamp, o_orderpriority string",
        "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, l_extendedprice double, l_discount double",
        "part": "p_partkey long, p_brand string",
        "supplier": "s_suppkey long, s_nationkey int",
        "customer": "c_custkey long, c_nationkey int",
        "nation": "n_nationkey int, n_name string",
    }
    for name, rows in (
        ("orders", orders), ("lineitem", lineitem), ("part", part),
        ("supplier", supplier), ("customer", customer), ("nation", nation),
    ):
        if rows is not None:
            spark.createDataFrame(rows, schemas[name]).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, f"{name}.parquet"))
    return d


def test_frequent_buyer_planted_sets(spark, tmp_path):
    """Q23 shape pinned independently of its oracle: the frequent set
    (>= 5 distinct order dates) and the best set (spend*2 > max) must
    both gate the final rollup. Customer 1 (best, buys the frequent
    part on 5 dates) survives; customer 2's single-date part does not,
    even though customer 2 is also 'best'."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        frequent_buyer_channel_sales,
    )

    dts = [datetime(1995, 1, i + 1) for i in range(5)]
    orders = [(i + 1, 1, dts[i], "1-URGENT") for i in range(5)] + [
        (9, 2, dts[0], "5-LOW")
    ]
    li = [(i + 1, 100, 1, 300.0, 0.0) for i in range(5)] + [
        (9, 200, 1, 1000.0, 0.0)
    ]
    d = _write_mini_star(tmp_path, spark, orders=orders, lineitem=li)
    # spend: c1=1500, c2=1000 -> max 1500; best = both (3000>1500, 2000>1500)
    # frequent: part 100 (5 dates); part 200 (1 date) is NOT frequent
    rows = frequent_buyer_channel_sales(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.channel, r.yr, r.sales, r.n_rows) == ("express", 1995, 1500.0, 5)


def test_cross_channel_iceberg_planted(spark, tmp_path):
    """Q14 shape pinned independently: only the part sold in ALL three
    channels enters; only the (channel, brand) cell above the lattice
    average survives the iceberg HAVING."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        cross_channel_part_iceberg,
    )

    dt = datetime(1995, 6, 1)
    orders = [
        (1, 1, dt, "1-URGENT"),   # express
        (2, 1, dt, "3-MEDIUM"),   # standard
        (3, 1, dt, "5-LOW"),      # economy
    ]
    li = [
        (1, 100, 1, 10.0, 0.0), (2, 100, 1, 10.0, 0.0), (3, 100, 1, 1000.0, 0.0),
        (1, 200, 1, 10.0, 0.0), (2, 200, 1, 10.0, 0.0),  # 2 channels only
    ]
    part = [(100, "Brand#X"), (200, "Brand#Y")]
    d = _write_mini_star(tmp_path, spark, orders=orders, lineitem=li, part=part)
    # cross parts = {100}; lattice = {(express,X,10),(standard,X,10),
    # (economy,X,1000)}; avg=340 -> only economy survives rev*3 > 1020
    rows = cross_channel_part_iceberg(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.channel, r.p_brand, r.sales, r.n_rows) == ("economy", "Brand#X", 1000.0, 1)


def test_brand_nation_cross_year_planted(spark, tmp_path):
    """Q64 shape pinned independently: the snowflake must resolve BOTH
    nation roles (customer vs supplier) and the cross-year self-join
    must keep only consecutive-year combos where sales held or grew."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        brand_nation_cross_year_sales,
    )

    orders = [
        (1, 1, datetime(1994, 3, 1), "1-URGENT"),
        (2, 1, datetime(1995, 3, 1), "1-URGENT"),
    ]
    li = [
        (1, 100, 1, 100.0, 0.0), (2, 100, 1, 150.0, 0.0),  # grew: kept
        (1, 200, 1, 200.0, 0.0), (2, 200, 1, 100.0, 0.0),  # declined: dropped
    ]
    d = _write_mini_star(
        tmp_path, spark,
        orders=orders, lineitem=li,
        part=[(100, "Brand#G"), (200, "Brand#D")],
        supplier=[(1, 0)],
        customer=[(1, 1)],
        nation=[(0, "GERMANY"), (1, "FRANCE")],
    )
    rows = brand_nation_cross_year_sales(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.p_brand, r.cust_nation, r.supp_nation) == ("Brand#G", "FRANCE", "GERMANY")
    assert (r.yr1, r.sales1, r.sales2, r.n1, r.n2) == (1994, 100.0, 150.0, 1, 1)


def test_zipf_fit_on_planted_zipfian_corpus(spark, tmp_path):
    """The OLS fit must recover slope ~ -1 with R^2 ~ 1 on a corpus
    BUILT to be Zipfian (word k appears floor(C/k) times), and the
    novelty op's directional contract must hold alongside: the
    registry corpus's near-uniform 31-word pool honestly fits ~0 (see
    the op docstring), so the math is pinned here on a corpus where
    the law actually holds."""
    import os

    from deker_server_adapters_spark.operators.text import text_zipf_fit

    C = 1200
    words = []
    for k in range(1, 41):  # word w{k} appears C//k times
        words += [f"w{k:02d}"] * (C // k)
    # spread deterministically over 30 docs
    docs = [(i, " ".join(words[i::30])) for i in range(30)]
    d = str(tmp_path / "zipf_sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    row = text_zipf_fit(spark, d).collect()[0]
    assert row.n_terms == 40
    assert -1.1 < row.zipf_slope < -0.9
    assert row.r2 > 0.98


def test_zipf_fit_degenerate_corpora_yield_null_not_nan(spark, tmp_path):
    """r12-advice guard: a single distinct term makes the OLS x-variance
    zero (denx = 0), and all-equal frequencies make the y-variance zero
    (deny = 0) — both must yield NULL slope/r2, not a 0/0 NaN whose
    cross-engine rendering diverges."""
    import math
    import os

    from deker_server_adapters_spark.operators.text import text_zipf_fit

    def fit(rows, name):
        d = str(tmp_path / name)
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "documents.parquet"))
        return text_zipf_fit(spark, d).collect()[0]

    # one distinct term: single (x, y) point, denx = deny = 0
    row = fit([(0, "same same same"), (1, "same")], "one_term")
    assert row.n_terms == 1
    assert row.zipf_slope is None and row.r2 is None and row.zipf_intercept is None
    for v in (row.zipf_slope, row.r2):
        assert v is None or not math.isnan(v)

    # several terms, ALL with equal frequency: deny ~ 0 (exactly 0 in
    # real arithmetic; the DECIMAL(30,12) y-sums can leave an
    # engine-identical epsilon), denx > 0 — slope is a genuine 0 and
    # r2 must be NULL (guarded 0/0) or an exact 0, never NaN
    row = fit([(0, "aa bb cc dd"), (1, "aa bb cc dd")], "flat_freq")
    assert row.n_terms == 4
    assert row.zipf_slope == 0.0
    assert row.r2 is None or row.r2 == 0.0


def test_ngram_novelty_directional_contract(spark, tmp_path):
    """docs_ngram_novelty must score the EARLIER copy 1.0 and the
    later exact copy 0.0 (doc_id is ingestion order), with a fresh doc
    scoring 1.0 — the directional complement docs_duplicate_ngrams
    (which flags both copies symmetrically) cannot express."""
    import os

    from deker_server_adapters_spark.operators.dedup import docs_ngram_novelty

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, base),                      # original: all windows first-seen here
        (2, base),                      # exact later copy: zero novelty
        (3, "k l m n o p q r s t u"),   # fresh text: fully novel
    ]
    d = str(tmp_path / "novelty_sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in docs_ngram_novelty(spark, d).collect()}
    assert got[1].novelty_frac == 1.0
    assert got[2].novelty_frac == 0.0
    assert got[3].novelty_frac == 1.0
    assert got[1].n_windows == got[2].n_windows == 3


@pytest.mark.slow
def test_hybrid_multiprobe_forced_ladder_matches_duckdb(spark, sf_dir):
    """The r14 multi-probe candidate space, Spark vs the DuckDB replay
    at FORCED ladder values (nbits=5, ntables=4, nprobes=2): a 500-row
    corpus never reaches the probe regime through the real ladder
    (nprobes stays 0 through nbits 6), so the probed bucket join —
    home+probe rows on the hi side, homes only on the lo side — is
    pinned by overriding BOTH engines with the same constants. Also
    pins that probing strictly widens the candidate set on this corpus
    (else a silently probe-free plan would pass vacuously) and that
    every added pair is Hamming distance 1 within the probed bits in
    at least one live table."""
    from deker_server_adapters_spark.operators.similarity import (
        _duck_hy_buckets,
        _duck_hy_probed,
        _hybrid_cand_pairs,
        _ivf_inv_cte,
        _sem_assignments,
        _sem_k_sql,
    )
    from deker_server_adapters_spark.sources.tables import load_table
    from tests.oracle_utils import duckdb_con

    emb = load_table(spark, sf_dir, "embeddings")
    asg = _sem_assignments(emb)
    schema = "nbits int, ntables int, nprobes int"
    probed = spark.createDataFrame([(5, 4, 2)], schema)
    got = {
        (r.vec_id, r.vid_b)
        for r in _hybrid_cand_pairs(emb, asg, nrow=probed).collect()
    }
    probe_free = spark.createDataFrame([(5, 4, 0)], schema)
    base = {
        (r.vec_id, r.vid_b)
        for r in _hybrid_cand_pairs(emb, asg, nrow=probe_free).collect()
    }
    assert base < got, "probing must strictly widen the candidate set"

    con = duckdb_con(sf_dir)
    sql = f"""
WITH {_ivf_inv_cte(limit_sql=_sem_k_sql())}, asg AS (
  SELECT neighbor_id AS vec_id, cell FROM inv
), bkt AS (
{_duck_hy_buckets(bits_sql="5", tab_sql="4")}
), bktp AS (
{_duck_hy_probed(probes_sql="2")}
)
SELECT DISTINCT vec_id, vid_b FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS vid_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
  UNION ALL
  SELECT pa.vec_id AS vec_id, pb.vec_id AS vid_b
  FROM bktp pa JOIN bkt pb
    ON pa.tbl = pb.tbl AND pa.bucket = pb.bucket AND pb.vec_id < pa.vec_id
) u
"""
    want = {(r[0], r[1]) for r in con.execute(sql).fetchall()}
    assert got == want

    # every probe-added pair shares a bucket up to one low-bit flip
    sig_sql = f"SELECT vec_id, tbl, bucket FROM ({_duck_hy_buckets(bits_sql='5', tab_sql='4')}) b"
    sigs = {}
    for vid, tbl, bucket in con.execute(sig_sql).fetchall():
        sigs.setdefault(vid, {})[tbl] = bucket
    for hi, lo in got - base:
        ok = any(
            sigs[hi][t] ^ sigs[lo][t] in (1, 2) for t in sigs[hi]
        )
        assert ok, (hi, lo)


def test_temperature_mix_excludes_zero_token_sources(spark, tmp_path):
    """ADVICE r14 guard: a source whose docs carry no tokens (NULL
    text -> NULL token count; the only way this corpus shape yields a
    non-positive count) must be EXCLUDED in BOTH engines — not emitted
    with a NULL expected_epochs — and the surviving weights must still
    normalize to 1 because the filter runs BEFORE the normalizing sum."""
    import os

    from deker_server_adapters_spark.operators.text import (
        SOURCE_TEMPERATURE_SQL,
        docs_source_temperature_mix,
    )
    from tests.oracle_utils import compare

    rows = [
        (1, "alpha bravo charlie delta", "en", "web"),
        (2, "echo foxtrot", "en", "web"),
        (3, "golf", "en", "books"),
        (4, None, "en", "ghost"),  # zero-token source: must vanish
        (5, None, "en", "ghost"),
    ]
    d = str(tmp_path / "temp_mix_sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    got = docs_source_temperature_mix(spark, d)
    recs = {r.source: r for r in got.collect()}
    assert set(recs) == {"web", "books"}  # ghost excluded, no NULL rows
    assert abs(sum(r.sample_weight for r in recs.values()) - 1.0) < 1e-5
    for r in recs.values():
        assert r.expected_epochs is not None
    # small source oversampled: alpha<1 gives books epochs > web epochs
    assert recs["books"].expected_epochs > recs["web"].expected_epochs

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet', '*.parquet')}')"
    )
    duck = con.execute(SOURCE_TEMPERATURE_SQL).df()
    ok, msg = compare(got, duck)
    assert ok, msg


def test_balanced_parts_band_boundaries_inclusive(spark, tmp_path):
    """Q58 band semantics pinned independently of the oracle (ADVICE
    r14): a part sitting EXACTLY on both band edges (channel revenues
    0.9·avg / avg / 1.1·avg) is KEPT — the >=/<= are inclusive — while
    a part one unit below the low edge or above the high edge drops,
    and a part in only two channels drops on the nc=3 rule."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import channel_balanced_parts

    dt = datetime(1995, 6, 1)
    orders = [
        (1, 1, dt, "1-URGENT"),   # express
        (2, 1, dt, "3-MEDIUM"),   # standard
        (3, 1, dt, "5-LOW"),      # economy
    ]
    li = [
        # part 100: 90/100/110, avg=100 -> exactly on BOTH edges: kept
        (1, 100, 1, 90.0, 0.0), (2, 100, 1, 100.0, 0.0), (3, 100, 1, 110.0, 0.0),
        # part 200: min 89 < 0.9*100: dropped
        (1, 200, 1, 89.0, 0.0), (2, 200, 1, 101.0, 0.0), (3, 200, 1, 110.0, 0.0),
        # part 300: max 111 > 1.1*100: dropped
        (1, 300, 1, 91.0, 0.0), (2, 300, 1, 98.0, 0.0), (3, 300, 1, 111.0, 0.0),
        # part 400: only two channels: dropped by nc = 3
        (1, 400, 1, 100.0, 0.0), (2, 400, 1, 100.0, 0.0),
    ]
    d = _write_mini_star(tmp_path, spark, orders=orders, lineitem=li)
    rows = channel_balanced_parts(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.p_partkey, r.express_rev, r.standard_rev, r.economy_rev, r.total_rev) == (
        100, 90.0, 100.0, 110.0, 300.0
    )


def test_yoy_outpace_four_cells_and_strict_inequality(spark, tmp_path):
    """Q4/Q74 semantics pinned independently (ADVICE r14): the filter
    needs ALL FOUR (channel, year) cells present, and the growth
    comparison is STRICT — equal growth ratios (e2·s1 == s2·e1) do not
    qualify."""
    import os
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        customer_channel_yoy_outpace,
    )

    y1, y2 = datetime(1996, 6, 1), datetime(1997, 6, 1)
    EXPR, STD = "1-URGENT", "3-MEDIUM"
    rows, ok = [], [1]

    def order(cust, dt, prio, price):
        rows.append((len(rows) + 1, cust, dt, prio, price))

    # c1: express 100 -> 200 (2.0) outpaces standard 100 -> 150 (1.5): kept
    order(1, y1, EXPR, 100.0); order(1, y2, EXPR, 200.0)
    order(1, y1, STD, 100.0);  order(1, y2, STD, 150.0)
    # c2: equal growth both channels (1.5): e2*s1 == s2*e1 -> dropped (strict >)
    order(2, y1, EXPR, 100.0); order(2, y2, EXPR, 150.0)
    order(2, y1, STD, 100.0);  order(2, y2, STD, 150.0)
    # c3: missing the standard-y2 cell -> dropped despite huge express growth
    order(3, y1, EXPR, 100.0); order(3, y2, EXPR, 900.0)
    order(3, y1, STD, 100.0)
    # c4: express grows slower than standard -> dropped
    order(4, y1, EXPR, 100.0); order(4, y2, EXPR, 110.0)
    order(4, y1, STD, 100.0);  order(4, y2, STD, 150.0)

    d = str(tmp_path / "yoy_star")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_orderpriority string, o_totalprice double",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))

    out = customer_channel_yoy_outpace(spark, d).collect()
    assert [r.c_custkey for r in out] == ok
    r = out[0]
    assert (r.express_y1, r.express_y2, r.standard_y1, r.standard_y2) == (
        100.0, 200.0, 100.0, 150.0
    )
    assert (r.growth_express, r.growth_standard) == (2.0, 1.5)


def test_monthly_deviation_complete_year_and_tiebreak(spark, tmp_path):
    """Q47/Q57 semantics pinned independently (ADVICE r14): only
    complete 12-month brand-years compete (11 months -> brand absent),
    rank orders by |dev| with ties broken on (yr, mon), and the
    decimal dev formula ranks a below-average month by the same |dev|
    yardstick as an above-average one."""
    import os
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        brand_monthly_deviation_topk,
    )

    li = []
    # Brand#A part 100: months 1..12 of 1995; m1=40 (big dip), m6=220
    # (big spike), others 100 -> tot 1260; dev: m6 +1380, m1 -780,
    # rest -60 each (ten-way tie -> mon ascending picks m2 at rnk 3)
    for m in range(1, 13):
        price = {1: 40.0, 6: 220.0}.get(m, 100.0)
        li.append((100, datetime(1995, m, 15), price, 0.0))
    # Brand#B part 200: only 11 months -> whole brand-year excluded
    for m in range(1, 12):
        li.append((200, datetime(1995, m, 15), 500.0, 0.0))
    part = [(100, "Brand#A"), (200, "Brand#B")]

    d = str(tmp_path / "dev_star")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        li, "l_partkey long, l_shipdate timestamp, l_extendedprice double, l_discount double"
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(part, "p_partkey long, p_brand string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "part.parquet"))

    rows = brand_monthly_deviation_topk(spark, d).collect()
    assert {r.p_brand for r in rows} == {"Brand#A"}
    got = [(r.rnk, r.mon, r.sales) for r in sorted(rows, key=lambda r: r.rnk)]
    assert got == [(1, 6, 220.0), (2, 1, 40.0), (3, 2, 100.0)]


def _write_tables(tmp_path, spark, name, tables):
    """Write ad-hoc tables (dict name -> (rows, schema)) for planted
    tests whose ops need columns _write_mini_star doesn't carry."""
    import os

    d = str(tmp_path / name)
    os.makedirs(d, exist_ok=True)
    for t, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


def test_fulfillment_lag_boundary_strict(spark, tmp_path):
    """Q72 shape pinned independently (tranche-5): the date-offset
    inequality is STRICT — a line shipped exactly 75 days after the
    order is on time; 76 days is late — and only the late line's net
    revenue accumulates."""
    from datetime import datetime, timedelta

    from deker_server_adapters_spark.operators.tpch import part_fulfillment_lag_q72

    d0 = datetime(1995, 1, 1)
    orders = [(1, 1, d0, "1-URGENT")]
    li = [
        # (orderkey, partkey, suppkey, shipdate, price, discount)
        (1, 100, 10, d0 + timedelta(days=76), 200.0, 0.5),  # late: net 100
        (1, 100, 10, d0 + timedelta(days=75), 999.0, 0.0),  # boundary: on time
        (1, 100, 10, d0 + timedelta(days=1), 999.0, 0.0),   # on time
    ]
    d = _write_tables(
        tmp_path,
        spark,
        "q72_star",
        {
            "orders": (orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_orderpriority string"),
            "lineitem": (li, "l_orderkey long, l_partkey long, l_suppkey long, l_shipdate timestamp, l_extendedprice double, l_discount double"),
            "part": ([(100, "Brand#A")], "p_partkey long, p_brand string"),
            "supplier": ([(10, 3)], "s_suppkey long, s_nationkey int"),
            "nation": ([(3, "FRANCE")], "n_nationkey int, n_name string"),
        },
    )
    rows = part_fulfillment_lag_q72(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_name, r.p_brand, r.n_lines, r.n_late, r.late_revenue) == (
        "FRANCE", "Brand#A", 3, 1, 100.0
    )
    assert abs(r.late_frac - 0.333333) < 1e-9


def test_multi_supplier_return_both_exists_required(spark, tmp_path):
    """Q95 shape pinned independently (tranche-5): an order qualifies
    only with BOTH >=2 distinct suppliers AND a returned line — each
    condition alone is insufficient, so the per-order-aggregate
    rewrite must not weaken either EXISTS."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        multi_supplier_return_orders_q95,
    )

    dt = datetime(1996, 3, 1)
    orders = [
        (1, 100.0, dt),  # 2 suppliers + return: qualifies
        (2, 100.0, dt),  # 1 supplier + return: no
        (3, 100.0, dt),  # 2 suppliers, no return: no
        (4, 100.0, dt),  # 1 supplier, no return: no
    ]
    li = [
        (1, 10, "R"), (1, 20, "N"),
        (2, 10, "R"), (2, 10, "R"),
        (3, 10, "N"), (3, 20, "N"),
        (4, 10, "N"),
    ]
    d = _write_tables(
        tmp_path,
        spark,
        "q95_star",
        {
            "orders": (orders, "o_orderkey long, o_totalprice double, o_orderdate timestamp"),
            "lineitem": (li, "l_orderkey long, l_suppkey long, l_returnflag string"),
        },
    )
    rows = multi_supplier_return_orders_q95(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.yr, r.mon, r.n_orders, r.total_price) == (1996, 3, 1, 100.0)


def test_channel_spend_ratio_threshold_inclusive_and_tiebreak(spark, tmp_path):
    """Q78 shape pinned independently (tranche-5): the e >= 2s
    threshold is INCLUSIVE and exact on decimals (e == 2s survives; a
    cent less does not), both channels must be present, and equal
    rounded ratios rank by ascending custkey."""
    from datetime import datetime

    from deker_server_adapters_spark.operators.tpch import (
        customer_channel_spend_ratio_q78,
    )

    dt = datetime(1995, 6, 1)
    EXPR, STD = "1-URGENT", "3-MEDIUM"
    orders, li = [], []

    def sale(cust, prio, price):
        ok = len(orders) + 1
        orders.append((ok, cust, dt, prio))
        li.append((ok, price, 0.0))

    # c1: e=200, s=100 -> ratio exactly 2.0: kept (inclusive boundary)
    sale(1, EXPR, 200.0); sale(1, STD, 100.0)
    # c2: e=199.99, s=100 -> below 2s by a cent: dropped
    sale(2, EXPR, 199.99); sale(2, STD, 100.0)
    # c3: e=200, s=100 -> same ratio as c1: tie -> custkey ascending
    sale(3, EXPR, 200.0); sale(3, STD, 100.0)
    # c4: express only: dropped (both channels required)
    sale(4, EXPR, 500.0)

    d = _write_tables(
        tmp_path,
        spark,
        "q78_star",
        {
            "orders": (orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_orderpriority string"),
            "lineitem": (li, "l_orderkey long, l_extendedprice double, l_discount double"),
        },
    )
    rows = sorted(
        customer_channel_spend_ratio_q78(spark, d).collect(), key=lambda r: r.rnk
    )
    assert [(r.rnk, r.c_custkey, r.ratio) for r in rows] == [
        (1, 1, 2.0), (2, 3, 2.0)
    ]


def test_temperature_sample_planted_rates(spark, tmp_path):
    """docs_temperature_sample pinned independently: membership is the
    pure-Python md5 gate (no engine involved) at p_bps derived from
    the planted token counts, the oversampled small source caps at
    p_bps = 10000 (every doc kept, epochs > 1 riding along), and the
    big source thins to its temperature share."""
    import hashlib
    import math
    import os

    from deker_server_adapters_spark.operators.text import docs_temperature_sample

    # big source: 400 docs x 10 tokens; small: 4 docs x 10 tokens
    rows = []
    for i in range(400):
        rows.append((i, "tok " * 9 + "tok", "en", "big"))
    for i in range(400, 404):
        rows.append((i, "tok " * 9 + "tok", "en", "small"))
    d = str(tmp_path / "tsamp_sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    got = {r.doc_id: r for r in docs_temperature_sample(spark, d).collect()}

    # independent Python replica of the arithmetic + gate
    tok = {"big": 4000, "small": 40}
    pw = {s: round(n**0.7, 6) for s, n in tok.items()}
    totpw, tottok = sum(pw.values()), sum(tok.values())
    p_bps = {}
    for s in tok:
        w = round(pw[s] / totpw, 6)
        epochs = round(w * tottok / tok[s], 6)
        # floor(x + 0.5) mirrors round_ties_safe (half toward +inf) —
        # Python's built-in round() banker's-rounds .5 ties and would
        # diverge from BOTH engines on an exact tie (r15 advice)
        p_bps[s] = min(10000, math.floor(epochs * 10000 + 0.5))
    assert p_bps["small"] == 10000  # oversampled source caps at 1

    def gate(doc_id: int) -> int:
        h = hashlib.md5(f"tsample:{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % 10000

    want = {
        i: s
        for i, _, _, s in [(r[0], r[1], r[2], r[3]) for r in rows]
        if gate(i) < p_bps[s]
    }
    assert set(got) == set(want)
    assert all(got[i].source == s for i, s in want.items())
    assert all(got[i].p_bps == p_bps[got[i].source] for i in got)
    # every small-source doc survives; the big source actually thinned
    assert {400, 401, 402, 403} <= set(got)
    n_big = sum(1 for i in got if got[i].source == "big")
    assert 0 < n_big < 400
    assert abs(n_big / 400 - p_bps["big"] / 10000) < 0.08


def test_jsonl_ingest_survives_hostile_text(spark, tmp_path):
    """The JSONL roundtrip aggregate must be computed on EXACTLY the
    original text — pinned on a corpus built to break naive JSON
    handling: embedded newlines (the JSON-Lines killer), double
    quotes, backslashes, tabs, and non-ASCII — by comparing the
    per-source checksum from the JSONL read against the same
    aggregate computed directly on the parquet."""
    import os

    from pyspark.sql import functions as F

    from deker_server_adapters_spark.operators.text import docs_jsonl_ingest

    rows = [
        (1, 'line one\nline two\r\nwindows', "en", "hostile"),
        (2, 'she said "quoted" and \\backslash\\ and\ttab', "en", "hostile"),
        (3, "café 中文 emoji \U0001f600", "en", "hostile"),
        (4, "plain ascii", "en", "plain"),
    ]
    d = str(tmp_path / "jsonl_sf")
    os.makedirs(d, exist_ok=True)
    src = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))
    src.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    got = {r.source: r for r in docs_jsonl_ingest(spark, d).collect()}
    text_h = "CAST(conv(substr(md5(text), 1, 8), 16, 10) AS BIGINT)"
    want = {
        r.source: r
        for r in spark.read.parquet(os.path.join(d, "documents.parquet"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
            F.expr(f"bit_xor({text_h})").alias("text_checksum"),
        )
        .collect()
    }
    assert set(got) == set(want) == {"hostile", "plain"}
    for s in got:
        assert (got[s].n_docs, got[s].total_chars, got[s].text_checksum) == (
            want[s].n_docs, want[s].total_chars, want[s].text_checksum
        ), s


def _shard_of(vec_id: int, nshards: int = 2) -> int:
    """Python mirror of the sharded-dedup shard assignment
    (h32('shard:'||vec_id) % nshards)."""
    import hashlib

    return int(hashlib.md5(f"shard:{vec_id}".encode()).hexdigest()[:8], 16) % nshards


@pytest.mark.slow
def test_sharded_hybrid_planted_cross_and_same_shard_dups(spark, tmp_path):
    """dedup_semantic_hybrid_sharded on a planted corpus: a same-shard
    near-identical pair is caught by the SHARD pass (is_dup_shard),
    a cross-shard pair by the SURVIVOR pass only (is_dup without
    is_dup_shard), and min-id keepers stay kept."""
    import os

    from deker_server_adapters_spark.operators.similarity import (
        dedup_semantic_hybrid_sharded,
    )

    # deterministic id picks per the shard hash (2 shards at this n)
    s0 = [i for i in range(200) if _shard_of(i) == 0]
    s1 = [i for i in range(200) if _shard_of(i) == 1]
    a, b = s0[0], next(i for i in s1 if i > s0[0])  # cross-shard pair
    c, d = [i for i in s0 if i not in (a, b)][:2]  # same-shard pair
    assert c < d
    filler = [i for i in range(200) if i not in (a, b, c, d)][:36]

    rng = np.random.RandomState(11)

    def unit(v):
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    base1, base2 = rng.randn(64), rng.randn(64)
    rows = [
        (a, unit(base1), 0),
        (b, unit(base1 + 1e-3 * rng.randn(64)), 0),  # cosine ~1 with a
        (c, unit(base2), 0),
        (d, unit(base2 + 1e-3 * rng.randn(64)), 0),  # cosine ~1 with c
    ] + [(i, unit(rng.randn(64)), 1) for i in filler]
    dirp = str(tmp_path / "shard_sf")
    os.makedirs(dirp, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dirp, "embeddings.parquet")
    )

    got = {r.vec_id: r for r in dedup_semantic_hybrid_sharded(spark, dirp).collect()}
    assert set(got) == {r[0] for r in rows}
    # same-shard duplicate: the shard pass itself flags the higher id
    assert got[d].is_dup_shard and got[d].is_dup
    assert got[d].max_sim_lower >= 0.99
    # cross-shard duplicate: invisible to the shard pass (different
    # shards by construction), caught by the survivor pass
    assert got[b].is_dup and not got[b].is_dup_shard
    assert got[b].max_sim_lower >= 0.99
    # min-id keepers of both planted groups stay kept
    assert not got[a].is_dup and not got[c].is_dup
    # shard column matches the hash contract
    for vid, r in got.items():
        assert r.shard == _shard_of(vid)


@pytest.mark.slow
def test_semantic_incremental_planted_verdicts(spark, tmp_path):
    """dedup_semantic_incremental on a planted corpus: a new vector
    near an OLD one is flagged with the MIN old id as anchor; a new
    vector whose only near-mate is another NEW vector stays unique
    (no new-vs-new work by design); output covers exactly the new
    split (vec_id % 5 == 4)."""
    import os

    from deker_server_adapters_spark.operators.similarity import (
        dedup_semantic_incremental,
    )

    rng = np.random.RandomState(13)

    def unit(v):
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    base, nn = rng.randn(64), rng.randn(64)
    rows = []
    # old side (ids not = 4 mod 5): ids 1 and 2 are a near-identical
    # pair -> a new vector near both must anchor to min old id 1
    rows.append((1, unit(base), 0))
    rows.append((2, unit(base + 1e-3 * rng.randn(64)), 0))
    old_filler = [i for i in range(3, 120) if i % 5 != 4][:30]
    rows += [(i, unit(rng.randn(64)), 1) for i in old_filler]
    # new side (ids = 4 mod 5)
    rows.append((4, unit(base + 1e-3 * rng.randn(64)), 0))  # dup of old 1/2
    rows.append((9, unit(rng.randn(64)), 1))  # unique
    rows.append((14, unit(nn), 1))  # new-new pair: must stay unique
    rows.append((19, unit(nn + 1e-3 * rng.randn(64)), 1))
    dirp = str(tmp_path / "incr_sf")
    os.makedirs(dirp, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dirp, "embeddings.parquet")
    )

    got = {r.vec_id: r for r in dedup_semantic_incremental(spark, dirp).collect()}
    assert set(got) == {i for i, _, _ in rows if i % 5 == 4}
    assert got[4].is_dup and got[4].dup_of == 1 and got[4].max_sim >= 0.99
    assert not got[9].is_dup and got[9].dup_of is None
    # the 14/19 near-pair is new-vs-new: by design NOT flagged
    assert not got[14].is_dup and not got[19].is_dup


@pytest.mark.slow
def test_semantic_incremental_empty_old_split_both_engines(spark, tmp_path):
    """Cross-engine contract on the empty-OLD edge (r17 ADVICE): a
    corpus where EVERY vec_id % 5 == 4 has no existing side to train
    cells from — the Spark builder's explicit empty-cents branch
    emits one all-unique row per new vector (NULL cell), and the
    oracle SQL, now anchored on newv with LEFT JOINs, must return the
    SAME rows instead of vanishing with the empty nasg CTE."""
    import glob
    import os

    import duckdb

    from deker_server_adapters_spark.operators import all_ops
    from deker_server_adapters_spark.operators.similarity import (
        dedup_semantic_incremental,
    )
    from tests.oracle_utils import compare

    rng = np.random.RandomState(29)

    def unit(v):
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    rows = [(i, unit(rng.randn(32))) for i in range(4, 4 + 5 * 7, 5)]
    assert all(i % 5 == 4 for i, _ in rows)
    dirp = str(tmp_path / "allnew_sf")
    os.makedirs(dirp, exist_ok=True)
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(dirp, "embeddings.parquet"))

    sdf = dedup_semantic_incremental(spark, dirp)
    got = {r.vec_id: r for r in sdf.collect()}
    assert set(got) == {i for i, _ in rows}
    assert all(
        not r.is_dup and r.cell is None and r.n_cand == 0 for r in got.values()
    )

    con = duckdb.connect()
    p = os.path.join(dirp, "embeddings.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    duck = con.execute(all_ops()["dedup_semantic_incremental"].oracle).df()
    ok, msg = compare(sdf, duck)
    con.close()
    assert ok, msg


def test_veccompute_kernels_match_expression_forms(spark):
    """r17 bit-exactness pin for functions/veccompute.py: the
    Arrow-vectorized LSH-signature and cosine-rescore kernels must
    produce EXACTLY the rows of the Catalyst expression forms they
    replaced (interpreted HOF folds) — the kernels replay the same
    IEEE double ops in the same order, so exceptAll in both
    directions is empty. Guards the rule the module docstring states:
    vectorize across rows, never across the fold dimension."""
    from deker_server_adapters_spark.functions.histogram import round_ties_safe
    from deker_server_adapters_spark.functions.vectors import cosine_similarity, dot
    from deker_server_adapters_spark.functions.veccompute import (
        cos_scored,
        signature_rows,
    )
    from deker_server_adapters_spark.operators.similarity import (
        _DIM,
        _HY_MAX_PROBES,
        _HY_MAX_TABLES,
        _TJ_MAX_BITS,
        _hy_nrow,
        _hyperplanes,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    nrow = _hy_nrow(emb)

    # --- signatures: kernel vs the pre-r17 expression emission ---
    planes = _hyperplanes(_HY_MAX_TABLES * _TJ_MAX_BITS, _DIM)
    entries = []
    for t in range(_HY_MAX_TABLES):
        sig = F.lit(0).cast("long")
        for i in range(_TJ_MAX_BITS):
            pl = F.array(*[F.lit(v) for v in planes[t * _TJ_MAX_BITS + i]])
            bit = F.when(dot(F.col("embedding"), pl) > 0, 1).otherwise(0).cast("long")
            sig = sig + F.when(
                F.lit(i) < F.col("nbits"), F.shiftleft(bit, i)
            ).otherwise(F.lit(0).cast("long"))
        gated = F.when(F.lit(t) < F.col("ntables"), sig).otherwise(
            F.lit(-1).cast("long")
        )
        entries.append(
            F.struct(F.lit(t).alias("tbl"), gated.alias("bucket"), F.lit(0).alias("is_probe"))
        )
        for p in range(_HY_MAX_PROBES):
            probe = F.when(
                (F.lit(t) < F.col("ntables")) & (F.lit(p) < F.col("nprobes")),
                sig.bitwiseXOR(F.lit(1 << p)),
            ).otherwise(F.lit(-1).cast("long"))
            entries.append(
                F.struct(F.lit(t).alias("tbl"), probe.alias("bucket"), F.lit(1).alias("is_probe"))
            )
    expr_form = (
        emb.crossJoin(F.broadcast(nrow))
        .withColumn("tb", F.explode(F.array(*entries)))
        .filter((F.col("tb.tbl") < F.col("ntables")) & (F.col("tb.bucket") >= 0))
        .select(
            "vec_id",
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bucket").alias("bucket"),
            F.col("tb.is_probe").alias("is_probe"),
        )
    )
    kern_form = signature_rows(
        emb.crossJoin(F.broadcast(nrow)).select(
            "vec_id", "embedding", "nbits", "ntables", "nprobes"
        ),
        planes,
        _HY_MAX_TABLES,
        _TJ_MAX_BITS,
        _HY_MAX_PROBES,
        ["vec_id"],
        emit_probes=True,
    )
    assert expr_form.exceptAll(kern_form).count() == 0
    assert kern_form.exceptAll(expr_form).count() == 0
    assert kern_form.count() > 0

    # --- cosine rescore: kernel vs the expression on a dense pair set ---
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", "ea", "eb"
    )
    expr_cos = pairs.select(
        "a_id",
        "b_id",
        round_ties_safe(cosine_similarity(F.col("ea"), F.col("eb")), 6).alias("cos"),
    )
    kern_cos = cos_scored(pairs, 6)
    assert expr_cos.exceptAll(kern_cos).count() == 0
    assert kern_cos.exceptAll(expr_cos).count() == 0
    assert kern_cos.count() == expr_cos.count() > 0


def test_cell_pair_stats_matches_expression_form(spark):
    """r18 bit-exactness pin for the blocked within-cell pair kernel
    (``cell_pair_stats``, VERDICT item 4): for every block count the
    folded partials must reproduce the expression form's per-vector
    aggregation EXACTLY — including Spark's NaN-greatest comparison
    semantics (a zero-norm vector's NaN cosine counts as a dup and
    propagates through max) — on the real corpus and on a synthetic
    NaN/tie corpus."""
    from deker_server_adapters_spark.functions.veccompute import cell_pair_stats
    from deker_server_adapters_spark.operators.similarity import (
        _SEM_TAU,
        _sem_assignments,
    )
    from deker_server_adapters_spark.sources.tables import load_table
    from tests.reference_forms import _sem_pair_agg_expr

    def kernel_agg(asg, nb):
        partials = cell_pair_stats(asg, _SEM_TAU, 6, nb)
        return (
            partials.groupBy("vec_id")
            .agg(
                F.sum("cnt").alias("n_lower"),
                F.sum("dup").alias("n_dup_lower"),
                F.max("mx").alias("mx"),
                F.max("hn").alias("hn"),
            )
            .select(
                "vec_id",
                "n_lower",
                "n_dup_lower",
                F.when(F.col("hn"), F.lit(float("nan")))
                .otherwise(F.col("mx"))
                .alias("max_sim_lower"),
            )
        )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    asg = _sem_assignments(emb)
    ref = _sem_pair_agg_expr(asg)
    for nb in (1, 3, 8):
        kern = kernel_agg(asg, nb)
        assert ref.exceptAll(kern).count() == 0
        assert kern.exceptAll(ref).count() == 0
        assert kern.count() == ref.count() > 0

    # synthetic corner corpus: exact duplicates (rounded 1.0 ties),
    # negated and orthogonal vectors, a singleton cell. No zero-norm
    # vector: under ANSI mode (Spark 4 default) the EXPRESSION form
    # errors on the 0/0 division, so no corpus the expression form
    # ever succeeded on can contain one — the kernel's graceful
    # NaN-propagating convention for that case is documented in
    # cell_pair_stats but has no runnable expression reference.
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        (4, [-1.0, 0.0, 0.0], 0),
        (6, [0.7, 0.7, 0.1], 0),
        (7, [0.5, 0.5, 0.0], 1),  # second cell: no cross-cell pairs
        (8, [0.5, 0.5, 0.01], 1),
        (9, [0.1, 0.2, 0.3], 2),  # singleton cell: no pairs at all
    ]
    synth = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    ref = _sem_pair_agg_expr(synth)
    for nb in (1, 2, 4):
        kern = kernel_agg(synth, nb)
        assert ref.exceptAll(kern).count() == 0
        assert kern.exceptAll(ref).count() == 0
        assert kern.count() == ref.count() > 0


def test_ivf_candidates_have_no_duplicates_and_match_old_form(spark):
    """r18: ``ann_ivf_cosine`` dropped its dropDuplicates([query_id,
    neighbor_id]) — the inverted file emits exactly one row per vector
    (top=1) and a query's probe cells are distinct, so the candidate
    stream can never contain a duplicate pair. Pin (a) that property
    and (b) the full op's output against the old form (dedup + the
    interpreted cosine expression) rebuilt from the same primitives."""
    from pyspark.sql import Window

    from deker_server_adapters_spark.functions.histogram import round_ties_safe
    from deker_server_adapters_spark.functions.vectors import cosine_similarity
    from deker_server_adapters_spark.functions.veccompute import cells_ranked
    from deker_server_adapters_spark.operators.similarity import (
        _IVF_PROBES,
        _N_QUERIES,
        _TOP_K,
        _centroid_rows,
        ann_ivf_cosine,
    )
    from deker_server_adapters_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = _centroid_rows(emb)
    inv = cells_ranked(
        emb.select("vec_id", "embedding"), cents, 1, ["vec_id", "embedding"]
    ).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"), "cell"
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    qcells = cells_ranked(
        queries.select("vec_id", "embedding"), cents, _IVF_PROBES, ["vec_id", "embedding"]
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell")
    cand = inv.join(F.broadcast(qcells), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    total = cand.count()
    distinct = cand.select("query_id", "neighbor_id").distinct().count()
    assert total == distinct > 0

    # the old form: dedup + interpreted cosine + rank
    old_pairs = cand.dropDuplicates(["query_id", "neighbor_id"]).withColumn(
        "cosine", round_ties_safe(cosine_similarity(F.col("qe"), F.col("ne")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    old = (
        old_pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )
    new = ann_ivf_cosine(spark, sf)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() == old.count() > 0


def test_veccompute_ann_kernels_match_expression_forms(spark):
    """r17 bit-exactness pin for the ANN-ladder Arrow kernels
    (``cells_ranked`` / ``pq_assign`` / ``kmeans_rows``): each must
    produce EXACTLY the rows of the Catalyst expression form it
    replaced (crossJoin+window IVF assignment, broadcast-join+window
    PQ assignment, the DECIMAL(30,12) Lloyd argmin) — exceptAll in
    both directions is empty. (No zero-norm edge: under ANSI mode the
    expression form itself raises DIVIDE_BY_ZERO on a zero-norm
    vector, so that input never reached either form; the kernel's
    NaN->+inf mapping is defensive only.)"""
    from pyspark.sql import Window

    from deker_server_adapters_spark.functions.histogram import round_ties_safe
    from deker_server_adapters_spark.functions.vectors import cosine_similarity
    from deker_server_adapters_spark.functions.veccompute import (
        cells_ranked,
        kmeans_rows,
        pq_assign,
    )
    from deker_server_adapters_spark.operators.similarity import (
        _DIM,
        _IVF_PROBES,
        _PQ_M,
        _centroid_rows,
        kmeans_assignments,
        pq_codebooks,
    )
    from deker_server_adapters_spark.sources.tables import load_table
    from tests.reference_forms import _kmeans_assign_expr

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    # --- cells_ranked: kernel vs crossJoin(broadcast) + window ---
    cents = _centroid_rows(emb)
    cents_df = emb.sparkSession.createDataFrame(
        list(cents), "cell int, ce array<double>"
    )
    for top in (1, _IVF_PROBES):
        expr_form = (
            emb.crossJoin(F.broadcast(cents_df))
            .withColumn(
                "sim",
                round_ties_safe(cosine_similarity(F.col("embedding"), F.col("ce")), 9),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cell")
                ),
            )
            .filter(F.col("rn") <= top)
            .select("vec_id", "cell")
        )
        kern_form = cells_ranked(
            emb.select("vec_id", "embedding"), cents, top, ["vec_id"]
        )
        assert expr_form.exceptAll(kern_form).count() == 0
        assert kern_form.exceptAll(expr_form).count() == 0
        assert kern_form.count() == expr_form.count() > 0

    # --- pq_assign: kernel vs broadcast join + (vec_id, m) window ---
    _codes, books = pq_codebooks(emb)
    sub = _DIM // _PQ_M
    parts = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice(F.col("embedding").cast("array<double>"), mm * sub + 1, sub).alias("sv"),
            )
            for mm in range(_PQ_M)
        ]
    )
    sv = emb.select("vec_id", F.explode(parts).alias("p")).select(
        "vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )
    cents_pq = emb.sparkSession.createDataFrame(
        [(mm, c, books[mm][c]) for mm in range(_PQ_M) for c in range(len(books[mm]))],
        "m int, c int, ce array<double>",
    )
    dist = round_ties_safe(
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "c")
    expr_pq = (
        sv.join(F.broadcast(cents_pq), "m")
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("c").alias("code"), "sv", "dist")
    )
    kern_pq = pq_assign(sv, books)
    assert expr_pq.exceptAll(kern_pq).count() == 0
    assert kern_pq.exceptAll(expr_pq).count() == 0
    assert kern_pq.count() == expr_pq.count() > 0

    # --- kmeans_rows: kernel vs the decimal-device argmin expression ---
    _assigned, kcents = kmeans_assignments(emb)
    expr_km = _kmeans_assign_expr(emb, kcents)
    kern_km = kmeans_rows(emb, kcents)
    assert expr_km.exceptAll(kern_km).count() == 0
    assert kern_km.exceptAll(expr_km).count() == 0
    assert kern_km.count() == expr_km.count() > 0


def test_veccompute_lsh_bucket_kernels_match_expression_forms(spark):
    """r17 bit-exactness pin for the third kernel tranche: the fixed-
    table LSH bucket builders (``dedup._emb_lsh_buckets``,
    ``dedup._knn_lsh_buckets`` at two ladder steps,
    ``similarity.lsh_signatures``) must produce EXACTLY the rows of the
    expression forms they replaced (kept as ``*_expr`` references), and
    the 4-dp cosine rescore ``dedup_embedding`` uses must match its
    expression form — exceptAll in both directions is empty."""
    from deker_server_adapters_spark.functions.histogram import round_ties_safe
    from deker_server_adapters_spark.functions.vectors import cosine_similarity
    from deker_server_adapters_spark.functions.veccompute import cos_scored
    from deker_server_adapters_spark.operators.dedup import (
        _emb_lsh_buckets,
        _knn_lsh_buckets,
    )
    from deker_server_adapters_spark.operators.similarity import lsh_signatures
    from deker_server_adapters_spark.sources.tables import load_table
    from tests.reference_forms import (
        _emb_lsh_buckets_expr,
        _knn_lsh_buckets_expr,
        _lsh_signatures_expr,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    for expr_form, kern_form in [
        (_emb_lsh_buckets_expr(emb), _emb_lsh_buckets(emb)),
        (_knn_lsh_buckets_expr(emb, 8), _knn_lsh_buckets(emb, 8)),
        (_knn_lsh_buckets_expr(emb, 16), _knn_lsh_buckets(emb, 16)),
        (_lsh_signatures_expr(emb), lsh_signatures(emb)),
    ]:
        assert expr_form.exceptAll(kern_form).count() == 0
        assert kern_form.exceptAll(expr_form).count() == 0
        assert kern_form.count() == expr_form.count() > 0

    # the 4-dp rescore variant (dedup_embedding) on a dense pair set
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", "ea", "eb"
    )
    expr_cos = pairs.select(
        "a_id",
        "b_id",
        round_ties_safe(cosine_similarity(F.col("ea"), F.col("eb")), 4).alias("cos"),
    )
    kern_cos = cos_scored(pairs, 4)
    assert expr_cos.exceptAll(kern_cos).count() == 0
    assert kern_cos.exceptAll(expr_cos).count() == 0
    assert kern_cos.count() == expr_cos.count() > 0


def test_veccompute_cos_true_pairs_matches_pair_row_form(spark):
    """r17 bit-exactness pin for ``cos_true_pairs``: the blocked
    truth-side kernel must emit EXACTLY the pairs of the pair-row form
    it replaced (BNLJ + ``cos_scored`` + threshold filter) — including
    the zero-norm edge: ``cos_scored``'s pandas NaN arrives in Spark
    as NULL, so the pair-row form DROPS those pairs and the kernel
    must too. Block counts exercise multi-vector blocks, singleton
    blocks and empty blocks."""
    from deker_server_adapters_spark.functions.veccompute import (
        cos_scored,
        cos_true_pairs,
    )
    from deker_server_adapters_spark.operators.similarity import _SEM_TAU, _TJ_TAU
    from deker_server_adapters_spark.sources.tables import load_table

    def pair_row_form(emb, tau):
        a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
        return (
            cos_scored(
                a.join(F.broadcast(b), F.col("va") < F.col("vb")).select(
                    "va", "vb", "ea", "eb"
                ),
                6,
                out="cosine",
            )
            .filter(F.col("cosine") >= tau)
            .select("va", "vb")
        )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for tau in (_SEM_TAU, _TJ_TAU):
        for nblocks in (4, 64):
            ref = pair_row_form(emb, tau)
            kern = cos_true_pairs(emb, tau, 6, nblocks=nblocks)
            assert ref.exceptAll(kern).count() == 0
            assert kern.exceptAll(ref).count() == 0
            assert kern.count() == ref.count() > 0

    # synthetic corner corpus: a zero vector (NaN cosine → NULL in the
    # pair-row form → dropped; the kernel must drop it too), exact
    # duplicates (cosine 1.0 ties), orthogonal and negated pairs
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0]),
        (6, [0.7, 0.7, 0.1]),
    ]
    synth = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for tau in (0.35, 0.99):
        ref = pair_row_form(synth, tau)
        kern = cos_true_pairs(synth, tau, 6, nblocks=4)
        assert ref.exceptAll(kern).count() == 0
        assert kern.exceptAll(ref).count() == 0
        # the zero vector's NaN-cosine pairs are dropped in both forms
        assert kern.filter("va = 5 or vb = 5").count() == 0

    # r18 broadcast degrade (VERDICT item 5): broadcast_max_bytes=0
    # forces the shuffle-join tile enumeration; output must be
    # identical to the broadcast form
    emb001 = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ref = cos_true_pairs(emb001, _SEM_TAU, 6, nblocks=8)
    deg = cos_true_pairs(emb001, _SEM_TAU, 6, nblocks=8, broadcast_max_bytes=0)
    assert ref.exceptAll(deg).count() == 0
    assert deg.exceptAll(ref).count() == 0
    assert deg.count() == ref.count() > 0

    # r18 NULL alignment (ADVICE item 2): a NULL embedding or NULL
    # vec_id row must be dropped, not silently shift the id/embedding
    # lists out of alignment inside a block
    rows_null = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, None),  # NULL embedding: would skew embs vs ids
        (None, [1.0, 0.0]),  # NULL id: would skew ids vs embs
        (4, [1.0, 0.1]),
        (5, [0.9, 0.05]),
    ]
    nsynth = spark.createDataFrame(rows_null, "vec_id long, embedding array<double>")
    clean = nsynth.filter("vec_id is not null and embedding is not null")
    for nblocks in (1, 4):
        ref = pair_row_form(clean, 0.9)
        kern = cos_true_pairs(nsynth, 0.9, 6, nblocks=nblocks)
        assert ref.exceptAll(kern).count() == 0
        assert kern.exceptAll(ref).count() == 0
        assert kern.count() == ref.count() > 0
        assert kern.filter("va is null or vb is null or va = 3 or vb = 3").count() == 0
