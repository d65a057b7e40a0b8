"""Operator-level properties beyond oracle parity: equivalence of alternate
implementations, approximate-op containment/recall, stub gating.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamming_processing_pyspark_spark.functions.geo import (
    classify_points_pandas_udf,
    classify_sql,
)
from streamming_processing_pyspark_spark.operators import (
    asof,
    dedup,
    pipeline,
    similarity,
    windowed,
)
from streamming_processing_pyspark_spark.operators.multimodal import decode_media_stub
from streamming_processing_pyspark_spark.operators.windowed import with_coordinates
from streamming_processing_pyspark_spark.tables import load_table, load_tables

from .conftest import SF_DIR


def test_trending_lag_equals_selfjoin(spark):
    """SURVEY.md §2.4 J1: the lag() rewrite must equal the reference-shaped
    self-join row-for-row."""
    ev = load_table(spark, SF_DIR, "events")
    a = {tuple(r) for r in windowed.trending(ev).collect()}
    b = {tuple(r) for r in windowed.trending_selfjoin(ev).collect()}
    assert a == b


def test_asof_window_equals_cogroup(spark):
    """The single-shuffle window formulation of the as-of join must equal
    the cogrouped merge_asof form row-for-row (same key/time/tie-break
    semantics, radically different physical plan)."""
    t = load_tables(spark, SF_DIR)
    a = {tuple(r) for r in asof.asof_latest_order(t).collect()}
    b = {tuple(r) for r in asof.asof_latest_order_cogroup(t).collect()}
    assert a == b
    assert a, "as-of join matched nothing at sf"


def test_minhash_lsh_subset_and_recall(spark):
    """LSH output ⊆ exact pairs (verification guarantees precision);
    banding parameters must keep recall high at the 0.3 threshold."""
    t = load_tables(spark, SF_DIR)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(t, max_shingle_df=None).collect()
    }
    approx = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(t).collect()}
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.8, (len(approx), len(exact))


def test_ngram_jaccard_hot_shingle_cap_subset(spark):
    """Capped path ⊆ exact pairs: dropping hot shingles only shrinks the
    intersection count, never invents a pair. Also pins that the
    registered "auto" cap sits above every observed document frequency at
    the test scale factors, so the auto-capped default (the driver-checked
    form) equals the uncapped exact baseline there."""
    t = load_tables(spark, SF_DIR)
    exact = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(t, max_shingle_df=None).collect()
    }
    capped = dedup.ngram_jaccard_pairs(t, max_shingle_df=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} <= {
        (a, b) for a, b, _ in exact
    }
    auto = {tuple(r) for r in dedup.ngram_jaccard_pairs(t).collect()}
    assert auto == exact


def test_cosine_pudf_equals_expression(spark):
    """BLAS pandas-UDF cosine must agree with the interpreted higher-order
    expression form (the oracle-shared definition) to 6 dp."""
    from streamming_processing_pyspark_spark.functions.vectors import (
        as_double,
        cosine,
        cosine_pudf,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double("embedding").alias("vec")
    )
    # include a zero-norm vector: both forms must yield NULL (not NaN,
    # which would sort above every real value in a DESC top-k)
    dim = len(emb.first()["vec"])
    zero = emb.limit(1).select(
        F.lit(-1).cast("long").alias("vec_id"),
        F.array(*[F.lit(0.0)] * dim).alias("vec"),
    )
    emb = emb.unionByName(zero)
    qvec = emb.where(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    both = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("expr_cos"),
            F.round(cosine_pudf(F.col("vec"), F.col("qvec")), 6).alias("blas_cos"),
        )
        .collect()
    )
    assert both
    for r in both:
        if r["vec_id"] == -1:
            assert r["expr_cos"] is None and r["blas_cos"] is None, r
        else:
            assert abs(r["expr_cos"] - r["blas_cos"]) <= 1e-6, r


def test_embedding_lsh_subset(spark):
    t = load_tables(spark, SF_DIR)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(t).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]) for r in similarity.lsh_bucketed_pairs(t).collect()
    }
    assert approx <= exact


def test_blocked_matmul_partial_consumption(spark):
    """Regression: Spark 4.1's FlatMapCoGroupsInPandas drops the right
    side's payload columns under column pruning when the operator output
    is only partially consumed (count / projected join). The block-pair
    harness uses a tagged union + grouped applyInPandas instead — these
    partially-consuming shapes must therefore run, not KeyError."""
    t = load_tables(spark, SF_DIR)
    assert similarity.embedding_near_dup_pairs(t).count() >= 0
    assert (
        similarity.embedding_near_dup_pairs(t).select("id_a", "id_b").count()
        >= 0
    )
    assert similarity.knn_join_topk(t).select("vec_id").count() > 0


def test_ivf_topk_recall(spark):
    """IVF probes 6/16 buckets; recall vs brute force stays high and every
    returned cosine is a true cosine (exact precision)."""
    t = load_tables(spark, SF_DIR)
    exact = [r["vec_id"] for r in similarity.cosine_topk(t).collect()]
    ivf = similarity.ivf_topk(t).collect()
    approx = [r["vec_id"] for r in ivf]
    assert len(set(exact) & set(approx)) / len(exact) >= 0.6
    # exact precision: IVF cosines must agree with the brute-force values
    brute = {
        r["vec_id"]: r["cos_sim"] for r in similarity.cosine_topk(t).collect()
    }
    for r in ivf:
        if r["vec_id"] in brute:
            assert r["cos_sim"] == brute[r["vec_id"]]


def test_pq_topk_recall(spark):
    """PQ ADC shortlist + exact re-rank: recall vs brute force stays high
    and every returned cosine is a true cosine (re-rank precision)."""
    t = load_tables(spark, SF_DIR)
    exact = {
        r["vec_id"]: r["cos_sim"] for r in similarity.cosine_topk(t).collect()
    }
    pq = similarity.pq_topk(t).collect()
    approx = [r["vec_id"] for r in pq]
    assert len(set(exact) & set(approx)) / len(exact) >= 0.6
    for r in pq:
        if r["vec_id"] in exact:
            assert r["cos_sim"] == exact[r["vec_id"]]


def test_approx_aggregates_tolerance(spark):
    """Sketch-based approximations land within documented error bounds of
    the exact answers (can't hash-match an HLL across engines — tolerance
    is the correctness statement)."""
    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey").alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_p50"),
    ).collect()[0]
    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] <= 0.05
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] <= 0.05


def test_geofence_sql_equals_pandas_udf(spark):
    """Two independent implementations (generated SQL ray-cast vs numpy
    pandas_udf) must classify identically."""
    ev = with_coordinates(load_table(spark, SF_DIR, "events"))
    udf = classify_points_pandas_udf()
    both = ev.select(
        F.expr(classify_sql("lon", "lat")).alias("sql_hq"),
        udf("lon", "lat").alias("udf_hq"),
    )
    assert both.where(F.col("sql_hq") != F.col("udf_hq")).count() == 0
    # and the classifier actually fires on this data
    assert both.where(F.col("sql_hq") != "none").count() > 0


def test_decode_media_stub_raises(spark):
    t = load_tables(spark, SF_DIR)
    df = decode_media_stub(t)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        df.collect()


def test_exact_dedup_on_constructed_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    out = {
        (r["canonical_id"], r["n_copies"])
        for r in dedup.exact_dedup({"documents": docs}).collect()
    }
    assert out == {(1, 2), (3, 1)}


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    variant = base.replace("lazy", "sleepy")
    other = "completely different words entirely unrelated content here " * 5
    docs = spark.createDataFrame(
        [(0, base), (1, variant), (2, other)], "doc_id long, text string"
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints({"documents": docs}).collect()
    }

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(fps[0], fps[1]) < hamming(fps[0], fps[2])
    assert hamming(fps[0], fps[1]) <= 16


def test_simhash_banded_pairs_equal_brute_force(spark):
    """Pigeonhole banding must reproduce the brute-force hamming ≤ k
    pair set EXACTLY (completeness is guaranteed, not probabilistic) —
    checked on the real fixture corpus and on a constructed pair sitting
    exactly AT the threshold."""
    t = load_tables(spark, SF_DIR)
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(t).collect()
    }

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # mirror the production op's degenerate-fingerprint exclusion
    ids = sorted(i for i in fps if fps[i] != 0)
    brute = {
        (a, b, hamming(fps[a], fps[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming(fps[a], fps[b]) <= dedup.SIMHASH_HAM_MAX
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dup_pairs(t).collect()
    }
    assert banded == brute
    row = dedup.simhash_band_check(t).first()
    assert row["complete_ok"] and row["subset_ok"]
    assert row["n_docs"] == t["documents"].count()


def test_dedup_clusters_transitive(spark):
    """a~b and b~c must land in ONE component labeled min(doc_id), even if
    a~c alone is below threshold; isolated docs stay out of the output."""
    y = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (10, y + " aa bb"),
            (11, y + " aa cc"),
            (12, y + " dd cc"),
            (99, "totally unrelated words that share no shingles at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["component"]
        for r in pipeline.dedup_clusters({"documents": docs}).collect()
    }
    assert out == {10: 10, 11: 10, 12: 10}


def test_cc_reliable_checkpoint_identical_labels(spark, tmp_path):
    """With a reliable checkpoint dir configured (the cluster-durable
    posture — localCheckpoint blocks die with their executor), the CC
    loop must produce byte-identical labels AND actually write checkpoint
    data into the directory."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    pipeline.clear_cc_memo()
    local = {
        r["doc_id"]: r["component"]
        for r in pipeline._connected_components(pairs).collect()
    }
    pipeline.clear_cc_memo()
    ckpt_dir = str(tmp_path / "cc_ckpt")
    reliable = {
        r["doc_id"]: r["component"]
        for r in pipeline._connected_components(
            pairs, checkpoint_dir=ckpt_dir
        ).collect()
    }
    assert reliable == local == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                                 20: 20, 21: 20, 22: 20, 23: 20}
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert written, "reliable checkpoint() wrote nothing to checkpoint_dir"
    pipeline.clear_cc_memo()


def test_cc_chain_converges_in_log_rounds(spark):
    """Pointer doubling must bound the round count at O(log diameter):
    a 64-edge chain (diameter 64) converges in ~log2(64)+2 rounds, not
    ~64 — the property that makes the loop viable on a 100 TB pair graph
    with long thin components."""
    n = 65
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    pipeline.clear_cc_memo()
    labels = pipeline._connected_components(pairs).collect()
    assert {r["component"] for r in labels} == {0}
    assert len(labels) == n
    # log2(64) = 6 doubling rounds + neighbor slack + the equal-sum
    # convergence round; a plain neighbor-min loop would need ~64
    assert pipeline.LAST_CC_ROUNDS <= 12, pipeline.LAST_CC_ROUNDS
    pipeline.clear_cc_memo()


def test_cc_memo_reuses_converged_labels(spark):
    """Two calls on the same pair plan must reuse the first call's
    converged labels (dedup_canonical_docs re-deriving dedup_clusters'
    clustering) — and clear_cc_memo must drop the entry."""
    pipeline.clear_cc_memo()
    first = pipeline.dedup_clusters(load_tables(spark, SF_DIR))
    # a FRESH plan over the same parquet canonicalizes equal → memo hit
    again = pipeline.dedup_clusters(load_tables(spark, SF_DIR))
    assert again is first  # memo hit: same materialized frame
    pipeline.clear_cc_memo()
    third = pipeline.dedup_clusters(load_tables(spark, SF_DIR))
    assert third is not first
    assert sorted(map(tuple, third.collect())) == sorted(
        map(tuple, first.collect())
    )
    pipeline.clear_cc_memo()


def test_token_pack_bins_invariants(spark):
    t = load_tables(spark, SF_DIR)
    rows = pipeline.token_pack_bins(t).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        run = 0
        for r in shard_rows:
            assert r["offset"] == run
            assert r["bin_id"] == run // pipeline.PACK_SEQ_LEN
            run += r["n_tokens"]


def test_stratified_sample_deterministic(spark):
    t = load_tables(spark, SF_DIR)
    a = {r["doc_id"] for r in pipeline.stratified_sample(t).collect()}
    b = {r["doc_id"] for r in pipeline.stratified_sample(t).collect()}
    assert a == b and a


def test_hll_sketch_error_bound(spark):
    """DataSketches HLL estimate must sit within 5% of the exact distinct
    count (precision 12 ⇒ RSE ≈ 1.6%; 5% is a safe CI bound)."""
    from streamming_processing_pyspark_spark.operators import events_analytics

    t = load_tables(spark, SF_DIR)
    approx = {
        r["event_type"]: r["approx_users"]
        for r in events_analytics.hll_user_sketches(t).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= 0.05 * exact[k], (k, est, exact[k])


def test_persist_replacing_reuses_identical_plan(spark):
    """The slot cache must return the SAME cached frame for a semantically
    identical plan (shared shingle index across dedup-ladder queries) and
    replace it when the plan changes (different input)."""
    from streamming_processing_pyspark_spark.tables import persist_replacing

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    a = persist_replacing(docs, "_test_slot")
    a.count()
    assert a.storageLevel.useMemory
    b = persist_replacing(load_table(spark, SF_DIR, "documents").select("doc_id"), "_test_slot")
    assert b is a  # reused, not re-persisted
    c = persist_replacing(docs.where(F.col("doc_id") > 3), "_test_slot")
    assert c is not a
    assert not a.storageLevel.useMemory or not a.is_cached  # old slot evicted
    # Liveness must come from the CacheManager, not the plan-local
    # is_cached flag (which stays True after clearCache — measured on
    # PySpark 4.1): after a cache flush a same-plan call must RE-PERSIST,
    # not return the flushed frame forever-unpersisted (r11: the stale
    # flag also let the scale probe reuse a dropped file listing).
    spark.catalog.clearCache()
    assert c.is_cached  # the trap: local flag survives the flush
    d = persist_replacing(docs.where(F.col("doc_id") > 3), "_test_slot")
    assert d is not c  # replaced — storageLevel saw the flush
    d.count()
    assert d.storageLevel.useMemory
    from streamming_processing_pyspark_spark.tables import (
        _PERSIST_SLOTS,
        clear_persist_slots,
    )

    clear_persist_slots()
    assert "_test_slot" not in _PERSIST_SLOTS
    assert not d.storageLevel.useMemory


def test_scale_probe_replication_is_token_bijective(spark):
    """The scale probe's replica renaming must be a BIJECTION of the
    token/shingle space: same token count per doc, every replica token
    suffixed, intra-replica pair set identical to the original's, ZERO
    cross-replica pairs — that is what holds the duplication rate
    constant under fan-out so α measures the operator (VERDICT r10 §3).
    Pinned after r11 found the renaming expr split on the LETTER s: an
    expr() string passes the SQL parser, which unescapes '\\s' to 's',
    so the regex needs double escaping IN THE SQL TEXT ("spark" came
    back as "r1 park", replicas shared most tokens with their originals,
    and every document-op pair graph grew superlinearly)."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "tools"))
    from scale_probe import scaled_documents

    rows = [
        # 's'-heavy near-dup pair (the r11 regression trigger) + a loner
        (0, "spark streams join fast spark streams join slow", "en", "s0", 40),
        (1, "spark streams join fast spark streams join quick", "en", "s0", 41),
        (2, "completely different words about customers systems", "en", "s0", 50),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    scaled = scaled_documents(docs, 2).orderBy("doc_id").collect()
    assert len(scaled) == 6
    orig = {r["doc_id"]: r["text"] for r in scaled if r["doc_id"] < 3}
    for r in scaled:
        if r["doc_id"] >= 3:
            base_toks = orig[r["doc_id"] - 3].split()
            rep_toks = r["text"].split()
            assert rep_toks == [w + "r1" for w in base_toks], r["text"]
    t = {"documents": scaled_documents(docs, 2)}
    pairs = dedup.ngram_jaccard_pairs(t).select("id_a", "id_b").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # original pair (0,1) and its replica twin (3,4); nothing cross
    assert got == {(0, 1), (3, 4)}


def test_leakage_safe_split_group_atomic(spark):
    """Every document of one source must land in the same split (the
    anti-leakage contract), buckets in [0, 100), splits named correctly."""
    t = load_tables(spark, SF_DIR)
    pdf = pipeline.leakage_safe_split(t).toPandas()
    assert (pdf.groupby("source")["split"].nunique() == 1).all()
    assert pdf["bucket"].between(0, 99).all()
    assert set(pdf["split"]) <= {"train", "val", "test"}
    assert (pdf["split"] == "train").mean() > 0.5  # train is the bulk


def test_incremental_minhash_pairs_cross_only_and_subset(spark):
    """Every incremental pair must span the batch/corpus boundary and be a
    true >=-threshold pair (subset of the uncapped exact cross pairs)."""
    t = load_tables(spark, SF_DIR)
    inc = dedup.incremental_minhash_pairs(t).toPandas()
    assert ((inc["new_id"] % dedup.INCR_BATCH_MOD == 0)
            & (inc["old_id"] % dedup.INCR_BATCH_MOD != 0)).all()
    exact = dedup.ngram_jaccard_pairs(t, max_shingle_df=None).toPandas()
    exact_pairs = {tuple(sorted(p)) for p in zip(exact["id_a"], exact["id_b"])}
    for a, b in zip(inc["new_id"], inc["old_id"]):
        assert tuple(sorted((a, b))) in exact_pairs


def test_data_quality_checks_detect_violations(spark):
    """The constraint report must flag dirty data: duplicate ids break
    uniqueness, nulls break completeness, unknown types break the domain
    check — and clean columns still pass."""
    from streamming_processing_pyspark_spark.operators import profiling

    dirty = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "view", 1.0),
            (1, "2024-01-01 00:01:00", 11, "bogus", -2.0),
            (2, None, 12, "click", 3.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rep = {
        r["constraint"]: r
        for r in profiling.data_quality_checks({"events": dirty}).collect()
    }
    assert not rep["uniqueness_event_id"]["passed"]
    assert not rep["completeness_ts"]["passed"]
    assert not rep["event_type_known"]["passed"]
    assert not rep["value_non_negative"]["passed"]  # 2/3 < 99%
    assert rep["completeness_event_id"]["passed"]
    assert rep["completeness_user_id"]["passed"]


def test_perplexity_buckets_tercile_shape(spark):
    """Every doc is bucketed; per-language bucket sizes are near-thirds
    (exact thirds up to score-tie spill, the documented CCNet semantics),
    and thresholds respect bucket ordering (head scores <= middle <= tail)."""
    from streamming_processing_pyspark_spark.operators import curation

    pdf = curation.perplexity_buckets(load_tables(spark, SF_DIR)).toPandas()
    docs = load_table(spark, SF_DIR, "documents").count()
    assert len(pdf) == docs
    for lang, g in pdf.groupby("lang"):
        sizes = g["bucket"].value_counts()
        assert set(sizes.index) <= {"head", "middle", "tail"}
        assert sizes.get("head", 0) >= len(g) // 3  # ties spill INTO head
        if sizes.get("middle", 0) and sizes.get("head", 0):
            assert g[g.bucket == "head"]["ppl_score"].max() < (
                g[g.bucket == "middle"]["ppl_score"].min() + 1
            )
        if sizes.get("tail", 0) and sizes.get("middle", 0):
            assert g[g.bucket == "middle"]["ppl_score"].max() < (
                g[g.bucket == "tail"]["ppl_score"].min() + 1
            )


def test_source_cap_sample_caps_and_deterministic(spark):
    from streamming_processing_pyspark_spark.operators import curation

    t = load_tables(spark, SF_DIR)
    a = curation.source_cap_sample(t).toPandas()
    per_src = a.groupby("source").size()
    orig = t["documents"].groupBy("source").count().toPandas()
    orig_map = dict(zip(orig["source"], orig["count"]))
    for src, n in per_src.items():
        assert n == min(curation.SOURCE_CAP_K, orig_map[src])
    b = curation.source_cap_sample(t).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])  # reproducible sample


def test_ewma_matches_pandas_reference(spark):
    """The distributed fold equals a literal sequential EWMA recomputation."""
    from streamming_processing_pyspark_spark.operators import timeseries

    pdf = (
        timeseries.ewma_hourly_value(load_tables(spark, SF_DIR))
        .toPandas()
        .sort_values(["event_type", "hour"])
    )
    for _, g in pdf.groupby("event_type"):
        prev = None
        for _, row in g.iterrows():
            exp = row.avg_value_cents if prev is None else (
                0.3 * row.avg_value_cents + 0.7 * prev
            )
            assert row.ewma == exp
            prev = row.ewma


def test_semdedup_subset_and_recall(spark):
    """SemDeDup pairs must be a subset of the exact >=-threshold pairs
    (exact precision); within-cluster search should still recover most of
    them at this corpus size (recall bound pinned empirically)."""
    t = load_tables(spark, SF_DIR)
    sd = similarity.semantic_dedup_pairs(t).toPandas()
    exact = similarity._all_pairs_at(t, similarity.SEMDEDUP_THRESHOLD).toPandas()
    sd_pairs = set(zip(sd["id_a"], sd["id_b"]))
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    assert sd_pairs <= exact_pairs
    if exact_pairs:
        assert len(sd_pairs) >= 0.7 * len(exact_pairs), (
            len(sd_pairs),
            len(exact_pairs),
        )


def test_semdedup_check_claims_hold(spark):
    t = load_tables(spark, SF_DIR)
    row = similarity.semdedup_check(t).first()
    assert row["subset_ok"]


def test_mllib_minhash_lsh_agreement(spark):
    """Independent-implementation cross-check: Spark MLlib's MinHashLSH
    (CountVectorizer shingle sets -> approxSimilarityJoin at the same
    Jaccard threshold) must recover the pairs our exact
    ngram_jaccard_pairs emits. Two unrelated implementations agreeing on
    the same corpus is the strongest non-oracle correctness evidence the
    dedup ladder can get."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    t = load_tables(spark, SF_DIR)
    sh = dedup._shingles(t["documents"])
    feats = (
        CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
        .fit(sh)
        .transform(sh)
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=7
    ).fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1 - dedup.JACCARD_THRESHOLD + 1e-9, distCol="d"
    )
    mllib_pairs = {
        tuple(sorted((r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])))
        for r in joined.collect()
        if r["datasetA"]["doc_id"] != r["datasetB"]["doc_id"]
    }
    exact = dedup.ngram_jaccard_pairs(t, max_shingle_df=None).toPandas()
    exact_pairs = {tuple(sorted(p)) for p in zip(exact["id_a"], exact["id_b"])}
    # MLlib's join filters candidates by EXACT Jaccard distance, so its
    # output is a subset of the true pairs; candidate generation is
    # probabilistic (8 tables), so require high-but-not-total recall
    assert mllib_pairs <= exact_pairs
    if exact_pairs:
        assert len(mllib_pairs) >= 0.8 * len(exact_pairs), (
            len(mllib_pairs),
            len(exact_pairs),
        )


def test_weighted_sample_invariants(spark):
    """A-ES weighted sample: per-language caps, no duplicates, and the
    sample is deterministic call-to-call."""
    from streamming_processing_pyspark_spark.operators import sampling

    t = load_tables(spark, SF_DIR)
    out = sampling.weighted_sample_per_lang(t).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))
    langs = {}
    for r in out:
        langs[r["lang"]] = langs.get(r["lang"], 0) + 1
    pop = {
        r["lang"]: r["n"]
        for r in t["documents"].groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in langs.items():
        assert n == min(sampling.SAMPLE_PER_LANG, pop[lang])
    again = {r["doc_id"] for r in sampling.weighted_sample_per_lang(t).collect()}
    assert set(ids) == again


def test_value_drift_ks_bounds_and_self_zero(spark):
    """KS statistic lies in [0, 10000] bp; comparing a distribution to
    itself (value column duplicated into both halves via a symmetric
    time split of identical rows) yields 0."""
    from streamming_processing_pyspark_spark.operators import profiling

    t = load_tables(spark, SF_DIR)
    row = profiling.value_drift_ks(t).collect()[0]
    assert 0 <= row["ks_bp"] <= 10000
    assert (
        row["n_first"] + row["n_second"]
        == t["events"].where(F.col("value").isNotNull()).count()
    )
    # self-comparison: duplicate every row into both halves → identical
    # CDFs → KS = 0
    ev = t["events"]
    lo = ev.agg(F.min("ts")).collect()[0][0]
    hi = ev.agg(F.max("ts")).collect()[0][0]
    first = ev.withColumn("ts", F.lit(lo).cast("timestamp"))
    second = ev.withColumn("ts", F.lit(hi).cast("timestamp"))
    both = {"events": first.unionAll(second)}
    row2 = profiling.value_drift_ks(both).collect()[0]
    assert row2["ks_bp"] == 0


def test_scd2_intervals_partition_users(spark):
    """SCD2 output: intervals chain per user (valid_to of one row equals
    valid_from of the next), exactly one current row per user."""
    from streamming_processing_pyspark_spark.operators import analytics2

    t = load_tables(spark, SF_DIR)
    rows = analytics2.user_scd2_intervals(t).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"]
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["event_type"] != b["event_type"]


def test_minhash_clusters_refine_exact(spark):
    """MinHash-fed CC labels refine the exact clustering: every MinHash
    cluster sits entirely inside one exact cluster (its edges are a
    verified subset of the exact pairs)."""
    from streamming_processing_pyspark_spark.operators import pipeline

    t = load_tables(spark, SF_DIR)
    exact = {
        r["doc_id"]: r["component"] for r in pipeline.dedup_clusters(t).collect()
    }
    approx = pipeline.dedup_clusters_minhash(t).collect()
    assert approx, "minhash clustering found no components"
    by_cluster = {}
    for r in approx:
        by_cluster.setdefault(r["component"], set()).add(r["doc_id"])
    for members in by_cluster.values():
        exact_labels = {exact[d] for d in members}
        assert len(exact_labels) == 1, (members, exact_labels)


def test_lsh_retuned_bits_still_subset(spark):
    """The corpus-sized tuning knob works: doubling the signature bits
    (tighter buckets — the 100 TB setting) still yields a verified subset
    of the exact pairs, with no more pairs than the default tuning."""
    t = load_tables(spark, SF_DIR)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(t).collect()
    }
    default = {
        (r["id_a"], r["id_b"]) for r in similarity.lsh_bucketed_pairs(t).collect()
    }
    tight = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_bucketed_pairs(t, n_planes=32, n_bands=4).collect()
    }
    assert tight <= exact
    assert len(tight) <= len(default)


def test_multiprobe_band_keys_flip_least_confident():
    """Query-directed probing math, pinned by hand: probe keys are the
    base key with exactly ONE bit flipped, chosen ascending by |margin|
    within the band (the planes the vector sits closest to)."""
    import numpy as np

    proj = np.array([[0.9, -0.05, 0.5, -0.7, 0.01, 0.6, -0.3, 0.2]])
    keys = similarity._multiprobe_band_keys(
        proj, n_bands=2, bits_per_band=4, n_probes=2
    )
    # band0 bits [1,0,1,0] → base 5; |margins| rank bits 1 then 2 → 7, 1
    # band1 bits [1,1,0,1] → base 11; rank bits 0 then 3 → 10, 3
    assert keys.tolist() == [[5, 7, 1, 11, 10, 3]]


def test_multiprobe_zero_probes_is_base_keys():
    """n_probes=0 must reproduce the historical base packing exactly —
    the registered single-probe ops' results are unchanged."""
    import numpy as np

    rng = np.random.default_rng(7)
    proj = rng.normal(size=(50, 16))
    keys = similarity._multiprobe_band_keys(
        proj, n_bands=4, bits_per_band=4, n_probes=0
    )
    bits = (proj >= 0).astype("int64")
    weights = (1 << np.arange(4, dtype="int64")).reshape(1, -1)
    expected = np.concatenate(
        [bits[:, 4 * b : 4 * (b + 1)] @ weights.T for b in range(4)], axis=1
    )
    assert (keys == expected).all()
    # and probes cap at bits_per_band (no duplicate/overflow flips)
    capped = similarity._multiprobe_band_keys(
        proj, n_bands=4, bits_per_band=4, n_probes=99
    )
    assert capped.shape == (50, 4 * (1 + 4))


def test_lsh_multiprobe_superset_recall_and_contract(spark):
    """Probing widens candidates, never output: single-probe pairs ⊆
    multi-probe pairs ⊆ exact pairs, so multi-probe recall is
    structurally ≥ single-probe recall — and the registered contract's
    flags hold on the fixture."""
    t = load_tables(spark, SF_DIR)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs_theta(t).collect()
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_pairs_at_theta(t).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_multiprobe_pairs(t).collect()
    }
    assert single <= multi <= exact
    assert exact, "theta fixture pairs must be non-empty"
    [chk] = similarity.lsh_multiprobe_recall_check(t).collect()
    assert chk["n_exact"] == len(exact)
    assert chk["subset_ok"] and chk["recall_ok"], dict(chk.asDict())


def test_lsh_auto_tuning_is_corpus_sized():
    """The auto default pins bucket occupancy: bits/band grows ~log2(n)
    (bands widening to hold recall), and the 500-row test corpus maps to
    the historical 16-plane/4-band setting so registered-query results
    are unchanged at sf."""
    assert similarity.lsh_tuning_for(500) == (16, 4)
    assert similarity.lsh_tuning_for(5_000) == (48, 6)
    assert similarity.lsh_tuning_for(40_000) == (77, 7)
    # int64 band keys: bits/band stays within the packable bound even at
    # absurd corpus sizes
    planes, bands = similarity.lsh_tuning_for(10**11)
    assert planes // bands <= similarity.LSH_MAX_BITS_PER_BAND
    # monotone: a bigger corpus never gets looser buckets
    prev_bits = 0
    for n in (100, 1_000, 10_000, 100_000, 1_000_000):
        p, b = similarity.lsh_tuning_for(n)
        assert p // b >= prev_bits
        prev_bits = p // b


def test_ivf_retuned_probe_widens_recall(spark):
    """The IVF tuning knob works: probing every centroid recovers the
    exact brute-force top-k (recall 100% when n_probe == n_centroids),
    and the default narrower probe returns a subset of real cosines."""
    t = load_tables(spark, SF_DIR)
    exact = {r["vec_id"] for r in similarity.cosine_topk(t).collect()}
    full_probe = {
        r["vec_id"]
        for r in similarity.ivf_topk(
            t, n_centroids=similarity.IVF_CENTROIDS,
            n_probe=similarity.IVF_CENTROIDS,
        ).collect()
    }
    assert full_probe == exact
    # default narrower probe: precision is exact — every returned score is
    # the real brute-force cosine for that vec_id (same 6-dp rounding)
    all_cos = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity._with_cosine_to_query(t).collect()
    }
    default_probe = similarity.ivf_topk(t).collect()
    assert default_probe
    for r in default_probe:
        assert all_cos[r["vec_id"]] == r["cos_sim"], r


def test_value_drift_ks_one_sided_guard(spark):
    """A value column populated only in one time-half (the advertised
    drift scenario) must report NULL ks_bp, not raise DIVIDE_BY_ZERO
    under ANSI mode."""
    from streamming_processing_pyspark_spark.operators import profiling

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", None),
            (2, "2024-01-01 06:00:00", None),
            (3, "2024-01-01 18:00:00", 1.25),
            (4, "2024-01-01 23:00:00", 2.50),
        ],
        "event_id long, ts_s string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    row = profiling.value_drift_ks({"events": ev}).collect()[0]
    assert row["n_first"] == 0 and row["n_second"] == 2
    assert row["ks_bp"] is None


def test_campaign_summary_empty_corpus(spark):
    """The campaign composition degrades gracefully on an empty corpus:
    one summary row of zeros, no empty-aggregate surprises in any stage."""
    from streamming_processing_pyspark_spark.operators import campaign

    docs = spark.createDataFrame([], "doc_id long, text string")
    row = campaign.dedup_campaign_summary({"documents": docs}).collect()
    assert len(row) == 1
    r = row[0]
    assert (
        r["n_ingested"],
        r["n_quality"],
        r["n_after_exact"],
        r["n_after_neardup"],
        r["n_tokens_packed"],
        r["n_bins"],
    ) == (0, 0, 0, 0, 0, 0)


def test_observed_gate_metrics_empty_corpus(spark):
    """An empty corpus observes a well-defined all-zero metrics row (the
    coalesced extrema), not nulls."""
    from streamming_processing_pyspark_spark.operators import observability

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = observability.observed_gate_metrics({"documents": docs}).collect()[0]
    assert (
        r["n_rows"],
        r["n_empty_text"],
        r["total_chars"],
        r["min_chars"],
        r["max_chars"],
        r["n_pass"],
    ) == (0, 0, 0, 0, 0, 0)


def test_variant_extraction_equals_json_path(spark):
    """Variant-typed extraction (parse_json → variant_get) agrees value-
    for-value with the classic get_json_object path on the same payloads."""
    from pyspark.sql import functions as F

    t = load_tables(spark, SF_DIR)
    ev = t["events"].select(
        F.get_json_object("props", "$.k").cast("int").alias("classic"),
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("via_variant"),
    )
    assert ev.where(
        ~F.col("classic").eqNullSafe(F.col("via_variant"))
    ).count() == 0


def test_referral_chain_depth_is_log2(spark):
    """The recursive-CTE ascent terminates with depth == floor(log2(key))
    for every customer — the analytic closed form of the binary tree."""
    import math

    from streamming_processing_pyspark_spark.operators import hierarchy

    t = load_tables(spark, SF_DIR)
    got = {
        r["depth"]: r["n_customers"]
        for r in hierarchy.referral_chain_depths(t).collect()
    }
    keys = [r["c_custkey"] for r in t["customer"].select("c_custkey").collect()]
    want: dict[int, int] = {}
    for k in keys:
        d = int(math.log2(k)) if k >= 1 else 0
        want[d] = want.get(d, 0) + 1
    assert got == want


def test_temperature_mix_rates_and_floor(spark):
    """The tau=1/2 gate keeps EVERY doc of the smallest language (rate 1)
    and downsamples each larger language at a rate within a few points of
    sqrt(n_min/n_g) — the binomial tolerance at this corpus size."""
    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    before = {
        r["lang"]: r["n"]
        for r in t["documents"].groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    after = {
        r["lang"]: r["n"]
        for r in mixing.temperature_mix_sample(t)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_min = min(before.values())
    min_lang = min(before, key=lambda l: (before[l], l))
    assert after[min_lang] == before[min_lang]  # rate exactly 1
    for lang, n in before.items():
        expect = (n_min / n) ** 0.5
        got = after.get(lang, 0) / n
        # 4-sigma binomial band (tiny groups at sf0.001 → generous)
        sigma = (expect * (1 - expect) / n) ** 0.5
        assert abs(got - expect) <= 4 * sigma + 1 / n, (lang, got, expect)


def test_dsir_resample_scores_target_lookalikes(spark):
    """DSIR mechanics: only raw-pool (non-target-lang) docs are returned,
    scores are finite, and the emitted ordering matches a recomputed
    brute-force score on the collected rows."""
    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    rows = mixing.dsir_resample(t).collect()
    assert rows, "resample returned nothing"
    assert all(r["lang"] != mixing.DSIR_TARGET_LANG for r in rows)
    # scores are descending in the emitted (floored-milli) form up to the
    # documented floor granularity; doc_id breaks exact-milli ties
    millis = [r["score_milli"] for r in rows]
    assert all(a >= b for a, b in zip(millis, millis[1:]))
    assert all(r["n_bigrams"] >= 1 for r in rows)


def test_epoch_upsample_floor_and_rates(spark):
    """Epoch upsampling invariants: every doc gets >= 1 epoch; every doc
    of the LARGEST source gets exactly 1 (the anchor); each source's
    epochs are within the guaranteed {f, f+1} band around sqrt(n_max/n_s)
    with the fractional share landing in a 4-sigma binomial band."""
    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    rows = mixing.epoch_upsample_manifest(t).collect()
    assert rows, "empty manifest"
    before = {
        r["source"]: r["n"]
        for r in t["documents"]
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_max = max(before.values())
    max_source = max(before, key=lambda s: (before[s], s))
    per_src: dict[str, list[int]] = {}
    for r in rows:
        assert r["n_epochs"] >= 1
        per_src.setdefault(r["source"], []).append(r["n_epochs"])
    assert set(per_src) == set(before)  # every doc appears exactly once
    assert all(len(v) == before[s] for s, v in per_src.items())
    assert set(per_src[max_source]) == {1}
    for s, epochs in per_src.items():
        rate = (n_max / before[s]) ** 0.5
        f = int(rate)
        if (f + 1) * (f + 1) * before[s] <= n_max:
            f += 1
        elif f * f * before[s] > n_max:
            f -= 1
        assert set(epochs) <= {f, f + 1}, (s, f, set(epochs))
        frac = rate - f
        got = sum(e - f for e in epochs) / len(epochs)
        sigma = (frac * (1 - frac) / len(epochs)) ** 0.5
        assert abs(got - frac) <= 4 * sigma + 1 / len(epochs), (s, got, frac)


def test_hourly_value_interpolated_matches_bruteforce(spark):
    """Observed hours pass through the exact hourly average; gap hours
    are linear between the surrounding anchors; hours outside the
    first/last observation of a type stay NULL."""
    from streamming_processing_pyspark_spark.operators import timeseries

    t = load_tables(spark, SF_DIR)
    got = {
        (r["event_type"], r["hour"]): (r["value_interp"], r["filled"])
        for r in timeseries.hourly_value_interpolated(t).collect()
    }
    obs: dict[str, dict] = {}
    for r in (
        t["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("s"),
            F.count("*").alias("c"),
        )
        .collect()
    ):
        obs.setdefault(r["event_type"], {})[r["hour"]] = r["s"] / r["c"]
    assert got, "empty result"
    for (et, hour), (v, filled) in got.items():
        series = obs[et]
        if hour in series:
            assert not filled and v == series[hour]
            continue
        assert filled
        prevs = [h for h in series if h < hour]
        nexts = [h for h in series if h > hour]
        if not prevs or not nexts:
            assert v is None  # no second anchor: stays NULL
            continue
        ph, nh = max(prevs), min(nexts)
        frac = (hour - ph) / (nh - ph)
        want = series[ph] + (series[nh] - series[ph]) * frac
        assert v is not None and abs(v - want) < 1e-9, (et, hour, v, want)


def test_cosine_range_search_supersets_topk(spark):
    """Range search at the floor must contain every top-k hit whose score
    clears the floor (both read the same 6-dp rounded score)."""
    t = load_tables(spark, SF_DIR)
    topk = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.cosine_topk(t).collect()
    }
    rng = {r["vec_id"]: r["cos_sim"] for r in similarity.cosine_range_search(t).collect()}
    for vid, sim in topk.items():
        if sim >= similarity.RANGE_THRESHOLD:
            assert rng.get(vid) == sim, (vid, sim)
    assert all(sim >= similarity.RANGE_THRESHOLD for sim in rng.values())


def test_bloom_prefilter_invariants(spark):
    """Blooms never drop a true match, and the realized fp rate stays far
    under the sizing bound (m=16384, k=3, n≈dim-side keys)."""
    from streamming_processing_pyspark_spark.operators import profiling

    t = load_tables(spark, SF_DIR)
    row = profiling.bloom_prefilter_check(t).collect()[0]
    assert row["n_false_neg"] == 0
    assert row["n_pass"] >= row["n_true"]
    assert row["fp_bp"] is None or row["fp_bp"] <= 100  # ≤1% at test sizing


def test_psi_value_drift_guard_and_identity(spark):
    """PSI reports NULL when a time-half is empty (same guard class as
    KS), and ~0 when both halves share one distribution (identical
    values in both halves -> every bucket's p == q -> each term is 0)."""
    from streamming_processing_pyspark_spark.operators import profiling

    one_sided = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", None),
            (2, "2024-01-01 18:00:00", 1.25),
            (3, "2024-01-01 23:00:00", 2.50),
        ],
        "event_id long, ts_s string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    row = profiling.psi_value_drift({"events": one_sided}).collect()[0]
    assert row["n_first"] == 0 and row["psi_micro"] is None

    same = spark.createDataFrame(
        [
            (i + 100 * half, f"2024-01-01 {3 + 12 * half:02d}:00:00", float(v))
            for half in (0, 1)
            for i, v in enumerate([1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 5.0])
        ],
        "event_id long, ts_s string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    row = profiling.psi_value_drift({"events": same}).collect()[0]
    assert row["n_first"] == 8 and row["n_second"] == 8
    # identical halves: psi exactly 0 -> floor(1e6 * 0.0) == 0, but allow
    # the -1 a pure -0.0-side fold could floor to
    assert row["psi_micro"] in (0, -1), row


def test_shingle_novelty_first_doc_and_totals(spark):
    """The first document is 100% novel; summed novel counts equal the
    corpus's distinct-shingle count (each shingle novel exactly once)."""
    from streamming_processing_pyspark_spark.operators import dedup as dd

    t = load_tables(spark, SF_DIR)
    rows = dd.shingle_novelty_scores(t).collect()
    by_id = {r["doc_id"]: r for r in rows}
    first = by_id[min(by_id)]
    assert first["novel_bp"] == 10000
    n_distinct = (
        dd._exploded_shingles(t["documents"]).select("sh").distinct().count()
    )
    assert sum(r["n_novel"] for r in rows) == n_distinct


def test_cdc_chunks_content_defined_shift_resilience(spark):
    """The CDC motivating property: prepending words to a document leaves
    every chunk after the first content-defined boundary unchanged (a
    fixed-position chunker would shift and rehash ALL of them), plus
    bookkeeping invariants (token totals, contiguous chunk ids)."""
    from streamming_processing_pyspark_spark.operators import pipeline2

    t = load_tables(spark, SF_DIR)
    base = t["documents"].where(F.col("doc_id") == 1).select("doc_id", "text")
    text = base.collect()[0]["text"]
    both = spark.createDataFrame(
        [(1, text), (2, "zzz qq " + text)], "doc_id long, text string"
    )
    rows = pipeline2.cdc_chunks({"documents": both}).collect()
    by_doc = {1: [], 2: []}
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    h1 = [r["chunk_md5"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])]
    h2 = [r["chunk_md5"] for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])]
    # all original chunks except the (prefix-polluted) first survive
    assert h1[1:] == h2[len(h2) - len(h1) + 1 :]
    # every shared chunk is flagged as a cross-doc dup on both sides
    shared = set(h1) & set(h2)
    assert shared
    for r in rows:
        assert r["cross_doc_dup"] == (r["chunk_md5"] in shared)

    # invariants on the real corpus: chunk ids contiguous from 0, token
    # counts add back up to the doc's whitespace token count
    full = pipeline2.cdc_chunks(t).collect()
    agg = {}
    for r in full:
        a = agg.setdefault(r["doc_id"], {"n": 0, "ids": []})
        a["n"] += r["n_chunk_tokens"]
        a["ids"].append(r["chunk_id"])
    tok = {
        r["doc_id"]: r["n"]
        for r in t["documents"]
        .select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .collect()
    }
    for doc_id, a in agg.items():
        assert a["n"] == tok[doc_id]
        assert sorted(a["ids"]) == list(range(len(a["ids"])))


def test_kl_source_divergence_identity_and_totals(spark):
    """A single-source corpus has Q == P_s, so KL is exactly 0; over the
    real corpus every KL is non-negative (information inequality) and
    n_tokens sums to the corpus token count."""
    from streamming_processing_pyspark_spark.operators import mixing

    t = load_tables(spark, SF_DIR)
    one = t["documents"].withColumn("source", F.lit("only"))
    row = mixing.kl_source_divergence({"documents": one}).collect()
    assert len(row) == 1
    assert row[0]["kl_micro"] in (0, -1)  # floor of a pure-roundoff -0.0 side

    rows = mixing.kl_source_divergence(t).collect()
    total = (
        t["documents"]
        .agg(F.sum(F.size(F.split(F.trim("text"), r"\s+"))))
        .collect()[0][0]
    )
    assert sum(r["n_tokens"] for r in rows) == total
    # smoothing keeps KL finite but information inequality keeps it >= 0
    # (micro-floored: allow the -1 floor of a roundoff -0.0)
    assert all(r["kl_micro"] >= -1 for r in rows)


def test_sorted_neighborhood_complements_blocking(spark):
    """Sorted-neighborhood invariants: ordered pairs of DISTINCT names,
    edit distance within bound, and neighborhood containment — any
    blocked-join pair whose two names are adjacent in global sort order
    (rank gap < SN_WINDOW) must be recovered."""
    from pyspark.sql import Window

    t = load_tables(spark, SF_DIR)
    rows = dedup.sorted_neighborhood_pairs(t).collect()
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert 0 < r["edit_dist"] <= dedup.NAME_EDIT_MAX

    ranks = {
        r["p_name"]: r["rk"]
        for r in t["part"]
        .select("p_name")
        .distinct()
        .select("p_name", F.row_number().over(Window.orderBy("p_name")).alias("rk"))
        .collect()
    }
    got = {(r["name_a"], r["name_b"]) for r in rows}
    blocked = dedup.name_near_dup_pairs(t).collect()
    for r in blocked:
        a, b = r["name_a"], r["name_b"]
        if a != b and abs(ranks[a] - ranks[b]) < dedup.SN_WINDOW:
            assert (min(a, b), max(a, b)) in got


def test_kmv_overlap_exact_when_sketch_holds_all(spark):
    """When every per-type user set fits inside the K-sketch (sf0.001 has
    ~50 distinct users), the KMV estimate IS the exact Jaccard — the
    estimator degrades to exact set math; and the claim flag must hold on
    every pair."""
    from streamming_processing_pyspark_spark.operators import sketches

    t = load_tables(spark, SF_DIR)
    rows = sketches.kmv_type_overlap(t).collect()
    assert rows
    n_users = t["events"].select("user_id").distinct().count()
    for r in rows:
        assert r["est_ok"]
        assert r["n_common"] <= min(r["n_a"], r["n_b"])
        if n_users <= sketches.KMV_K:
            assert r["jaccard_bp_est"] == r["jaccard_bp_exact"], r


def test_kmv_state_fn_batch_slicing_invariant():
    """The stateful KMV merge is associative: feeding hashes in two
    micro-batches (or any slicing) must leave the same final state as one
    batch — this is what makes the drained streaming sketch equal the
    batch sketch regardless of trigger pacing. Pure-Python check of the
    applyInPandasWithState function."""
    import pandas as pd

    from streamming_processing_pyspark_spark.operators.sketches import (
        KMV_K,
        make_kmv_state_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    fn = make_kmv_state_fn()
    vals = [(i * 7919 + 13) % 1_000_003 for i in range(300)]

    one = FakeState()
    list(fn(("view",), iter([pd.DataFrame({"h": vals})]), one))

    sliced = FakeState()
    list(fn(("view",), iter([pd.DataFrame({"h": vals[:137]})]), sliced))
    out = list(fn(("view",), iter([pd.DataFrame({"h": vals[137:]})]), sliced))

    assert one._v == sliced._v
    assert one._v[0] == sorted(set(vals))[:KMV_K]
    assert one._v[1] == sliced._v[1] == 300
    # the last emission carries the final sketch
    assert list(out[-1]["hs"][0]) == one._v[0]


def test_cms_join_size_guarantees(spark):
    """The CMS inner-product estimator must honor its one-sided guarantee
    (est >= exact: collisions only add mass) and sit within the 4x
    expected-excess bound; exact_join_rows must equal the true join count."""
    from streamming_processing_pyspark_spark.operators import sketches

    t = load_tables(spark, SF_DIR)
    row = sketches.cms_join_size_check(t).collect()[0]
    true_join = (
        t["events"]
        .join(t["orders"], F.col("user_id") == F.col("o_custkey"))
        .count()
    )
    assert row["exact_join_rows"] == true_join
    assert row["ge_ok"] and row["est_join_rows"] >= row["exact_join_rows"]
    assert row["bound_ok"]


def test_lm_bigram_nll_matches_manual(spark):
    """The corpus-trained bigram LM must reproduce a hand computation on a
    3-document corpus (add-one smoothing, context counts, position-ordered
    fold, micro-nat floor); bigram-less documents are excluded."""
    import math

    from streamming_processing_pyspark_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm.lm_bigram_nll({"documents": docs}).collect()}
    assert set(rows) == {1, 2}  # doc 3 has no bigram

    # trained model: c12 = {ab:3, ba:1, bc:1}; contexts c1 = {a:3, b:2}; V=3
    t_ab = -2.0 * math.log((3 + 1.0) / (3 + 3))
    t_ba = -1.0 * math.log((1 + 1.0) / (2 + 3))
    t_bc = -1.0 * math.log((1 + 1.0) / (2 + 3))
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["nll_micro"] == math.floor(1000000 * (t_ab + t_ba) / 3)
    assert rows[2]["n_bigrams"] == 2
    t2_ab = -1.0 * math.log((3 + 1.0) / (3 + 3))
    assert rows[2]["nll_micro"] == math.floor(1000000 * (t2_ab + t_bc) / 2)


def test_bpe_merge_candidates_manual(spark):
    """BPE step-1 pair counting: within-word adjacent char pairs weighted
    by word frequency, deterministic (freq desc, pair asc) order."""
    from streamming_processing_pyspark_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "ab c")],
        "doc_id long, text string",
    )
    got = [
        (r["pair"], r["freq"])
        for r in lm.bpe_merge_candidates({"documents": docs}).collect()
    ]
    # abab (freq 2): pairs ab, ba, ab -> ab x2, ba x1; ab (freq 1): ab x1
    # single-char word "c" contributes nothing
    assert got == [("ab", 5), ("ba", 2)]


def test_bpe_learn_merges_manual(spark):
    """The full BPE loop on a corpus small enough to run by hand: merge
    ranks, pair identities, frequencies, and the greedy non-overlap rule
    ('aaaa' yields two 'aa' merges, not three)."""
    from streamming_processing_pyspark_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaaa ab ab")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in lm.bpe_learn_merges({"documents": docs}).collect()]
    # wf: aaaa x3, ab x3
    # round 1: pairs aa:3*3=9 (non-overlap would count later; counting is
    # over ALL adjacencies: aaaa has 3 'aa' -> 9), ab:3 -> merge (a,a) f=9
    # vocab: [aa,aa] x3, [a,b] x3
    # round 2: aa+aa:3, a+b:3 -> tie on freq; (a,b) < (aa,aa) -> merge (a,b) f=3
    # vocab: [aa,aa] x3, [ab] x3
    # round 3: aa+aa:3 -> merge (aa,aa) f=3
    # round 4: no pairs left -> early stop
    assert got == [(1, "a", "a", 9), (2, "a", "b", 3), (3, "aa", "aa", 3)]


def test_bpe_encode_stats_manual(spark):
    """Distributed merge application: per-doc char/token/word accounting
    under the merges learned on the same corpus."""
    from streamming_processing_pyspark_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaaa ab ab")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in lm.bpe_encode_stats({"documents": docs}).collect()
    }
    # merges (see test above): (a,a), (a,b), (aa,aa)
    # aaaa -> [aa,aa] -> [aaaa]  (1 token); ab -> [ab] (1 token)
    assert rows[1]["n_chars"] == 10 and rows[1]["n_tokens"] == 3
    assert rows[1]["n_words"] == 3
    assert rows[2]["n_chars"] == 8 and rows[2]["n_tokens"] == 3
    assert rows[2]["n_words"] == 3


def test_bpe_merge_word_non_overlap():
    """The greedy left-to-right rule both engines implement: a just-merged
    token is never re-consumed as the left side of the same merge."""
    from streamming_processing_pyspark_spark.operators.lm import _merge_word

    assert _merge_word(tuple("aaa"), "a", "a") == ("aa", "a")
    assert _merge_word(tuple("aaaa"), "a", "a") == ("aa", "aa")
    assert _merge_word(("aa", "a", "a"), "aa", "a") == ("aaa", "a")
    assert _merge_word(tuple("abab"), "a", "b") == ("ab", "ab")
    assert _merge_word((), "a", "b") == ()


def test_bradley_terry_manual(spark):
    """BT strengths on a 2-type tournament with a closed-form fixpoint
    (W_A=2, W_B=1 over 3 comparisons -> s = (2/3, 1/3)); equal-value and
    same-type adjacencies contribute no trial."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import preference

    def e(i, u, ts, tp, v):
        return (i, datetime(2024, 1, 1, 0, 0, ts), u, tp, v)

    events = spark.createDataFrame(
        [
            e(1, 1, 1, "A", 1.0), e(2, 1, 2, "B", 2.0), e(3, 1, 3, "A", 3.0),
            e(4, 2, 1, "A", 5.0), e(5, 2, 2, "B", 1.0),
            e(6, 3, 1, "A", 1.0), e(7, 3, 2, "B", 1.0),  # tie: skipped
            e(8, 4, 1, "A", 1.0), e(9, 4, 2, "A", 2.0),  # same type: skipped
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in preference.bradley_terry_event_prefs({"events": events}).collect()
    ]
    assert got == [("A", 2, 1, 666666), ("B", 1, 2, 333333)]


def test_kcenter_coreset_orthogonal_clusters(spark):
    """Greedy k-center on 4 orthogonal directions x 3 power-of-two
    magnitudes: the first 4 picks cover the 4 directions (radius 0 cells,
    exact in floating point for power-of-two components), later picks are
    zero-distance duplicates that attract no assignments (ties go to the
    earlier rank), so 4 cells of 3 points each come back plus 4
    explicit empty centers (n_assigned=0, NULL radius) — the operator
    always emits exactly KCENTER_K rows."""
    from streamming_processing_pyspark_spark.operators import coreset

    rows = []
    vid = 0
    for mag in (1.0, 2.0, 4.0):
        for d in range(4):
            v = [0.0] * 4
            v[d] = mag
            rows.append((vid, v, 0))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = sorted(
        tuple(r) for r in coreset.kcenter_coreset({"embeddings": emb}).collect()
    )
    assert len(got) == coreset.KCENTER_K
    populated = [r for r in got if r[2] > 0]
    empty = [r for r in got if r[2] == 0]
    assert len(populated) == 4 and len(empty) == 4, got
    assert all(r[3] == 0 for r in populated), got  # radius exactly 0 per cell
    assert all(r[2] == 3 for r in populated), got  # 3 magnitudes per direction
    assert all(r[3] is None for r in empty), got  # empty cell -> NULL radius
    assert got[0][0] == 1 and got[0][1] == 0  # seed = min vec_id in pool


def test_target_encode_oof_manual(spark):
    """Out-of-fold mean = complement mean: a cell's encoding uses every
    fold but its own, and a single-fold category gets NULL (no
    leakage-safe encoding exists)."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import featurize

    # category = user_id % 100; fold = lehmer(event_id) % 5
    def fold(eid):
        return (eid % 2147483647) * 48271 % 2147483647 % 5

    rows = []
    # category 1: event_ids chosen to land in >= 2 folds; y=1 for even ids
    for eid in range(1, 9):
        rows.append((eid, datetime(2024, 1, 1), 1,
                     "purchase" if eid % 2 == 0 else "view", 1.0))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        (r["category"], r["fold"]): (r["n_rows"], r["oof_mean_bp"])
        for r in featurize.target_encode_oof({"events": ev}).collect()
    }
    from collections import Counter

    cells = Counter()
    ysum = Counter()
    for eid in range(1, 9):
        f = fold(eid)
        cells[f] += 1
        ysum[f] += 1 if eid % 2 == 0 else 0
    tot_n, tot_y = sum(cells.values()), sum(ysum.values())
    assert len(cells) >= 2  # the chosen ids must spread over folds
    for f, n in cells.items():
        want = (tot_y - ysum[f]) * 10000 // (tot_n - n)
        assert got[(1, f)] == (n, want), (f, got[(1, f)], (n, want))


def test_woe_value_bins_manual(spark):
    """WOE/IV on two buckets with hand-computed smoothed ratios."""
    import math
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import featurize

    rows = [
        # bucket 0 (value < 50): 3 purchases, 1 other
        (1, datetime(2024, 1, 1), 1, "purchase", 10.0),
        (2, datetime(2024, 1, 1), 1, "purchase", 20.0),
        (3, datetime(2024, 1, 1), 1, "purchase", 30.0),
        (4, datetime(2024, 1, 1), 1, "view", 40.0),
        # bucket 1: 1 purchase, 3 others
        (5, datetime(2024, 1, 1), 1, "purchase", 60.0),
        (6, datetime(2024, 1, 1), 1, "view", 70.0),
        (7, datetime(2024, 1, 1), 1, "view", 80.0),
        (8, datetime(2024, 1, 1), 1, "click", 90.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["bucket"]: r for r in featurize.woe_value_bins({"events": ev}).collect()
    }
    # good_tot=4, bad_tot=4, B=2
    for b, (ng, nb) in {0: (3, 1), 1: (1, 3)}.items():
        woe = math.log(((ng + 1) * (4 + 2)) / ((nb + 1) * (4 + 2)))
        dr = (ng + 1) / (4 + 2) - (nb + 1) / (4 + 2)
        assert got[b]["n_good"] == ng and got[b]["n_bad"] == nb
        assert got[b]["woe_micro"] == math.floor(1000000 * woe)
        assert got[b]["iv_micro"] == math.floor(1000000 * (dr * woe))


def test_lsh_query_topk_exact_cosines(spark):
    """Every candidate the probe surfaces carries its EXACT cosine (the
    pinned left-fold, bit-identical to a driver-side recomputation), is
    ranked (cos DESC, vec_id), and never includes the query itself."""
    import math

    from streamming_processing_pyspark_spark.operators import similarity
    from streamming_processing_pyspark_spark.tables import load_tables

    t = load_tables(spark, SF_DIR)
    got = similarity.lsh_query_topk(t).collect()
    assert got and all(r["vec_id"] != similarity.QUERY_VEC_ID for r in got)
    emb = {
        r["vec_id"]: list(r["e"])
        for r in t["embeddings"]
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
        .collect()
    }

    def dot(a, b):
        acc = 0.0
        for i in range(len(a)):
            acc = acc + a[i] * b[i]
        return acc

    q = emb[similarity.QUERY_VEC_ID]
    qn = math.sqrt(dot(q, q))
    for r in got:
        e = emb[r["vec_id"]]
        assert r["cos_sim"] == dot(e, q) / (math.sqrt(dot(e, e)) * qn)
    sims = [(r["cos_sim"], r["vec_id"]) for r in got]
    assert sims == sorted(sims, key=lambda s: (-s[0], s[1]))
    assert [r["rk"] for r in got] == list(range(1, len(got) + 1))


def test_apply_merge_column_equals_python_exhaustive(spark):
    """The BPE merge-application rule has two implementations — the
    driver-side scan (_merge_word, used by the learn loop) and the
    Column aggregate fold (_apply_merge, used by the distributed encode)
    — plus the oracle's recursive CTE. Pin the first two against each
    other EXHAUSTIVELY over every symbol sequence of length <= 5 drawn
    from {a, b, aa} for three merge pairs, including the overlap-greedy
    edge cases ('aaa', 'aa'+'a' vs 'a'+'aa')."""
    import itertools

    from pyspark.sql import functions as F

    from streamming_processing_pyspark_spark.operators.lm import (
        _apply_merge,
        _merge_word,
    )

    alphabet = ["a", "b", "aa"]
    seqs = []
    for n in range(6):
        seqs.extend(itertools.product(alphabet, repeat=n))
    rows = [(i, list(s)) for i, s in enumerate(seqs)]
    df = spark.createDataFrame(rows, "id long, syms array<string>")
    for a, b in (("a", "a"), ("a", "b"), ("aa", "a")):
        got = {
            r["id"]: tuple(r["m"])
            for r in df.select(
                "id", _apply_merge(F.col("syms"), a, b).alias("m")
            ).collect()
        }
        for i, s in enumerate(seqs):
            assert got[i] == _merge_word(tuple(s), a, b), (s, a, b, got[i])


def test_hourly_count_anomalies_mad_manual(spark):
    """Median/MAD anomaly flag on a hand-built hourly distribution: a
    single burst hour is flagged and the robust yardstick (med2, mad4)
    matches the hand computation in EXACT integers."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import events_analytics

    rows = []
    eid = 0
    # hours 0..4 carry 2,3,3,3,40 events: median 3, |dev| = 1,0,0,0,37
    # -> MAD = median(0,0,0,1,37) = 0 ... use counts 2,3,4,5,40 instead:
    # median 4, |dev| = 2,1,0,1,36 -> MAD = 1; anomaly iff |cnt-4| > 3.
    for h, n in enumerate((2, 3, 4, 5, 40)):
        for _ in range(n):
            rows.append((eid, datetime(2024, 1, 1, h, 30), 1, "view", 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["cnt"]: r
        for r in events_analytics.hourly_count_anomalies_mad({"events": ev}).collect()
    }
    assert all(r["med2"] == 8 and r["mad4"] == 4 for r in got.values())
    assert {c: r["is_anomaly"] for c, r in got.items()} == {
        2: False, 3: False, 4: False, 5: False, 40: True,
    }


def test_zipf_alpha_exact_power_law(spark):
    """A corpus built to follow freq(r) = C / r exactly over 4 ranks must
    fit alpha = 1 up to the regression's floating floor."""
    from streamming_processing_pyspark_spark.operators import text as text_ops

    # freq 24,12,8,6 = 24/r for r=1..4; distinct words w1..w4
    body = " ".join(
        " ".join([f"w{r}"] * (24 // r)) for r in (1, 2, 3, 4)
    )
    docs = spark.createDataFrame([(1, body)], "doc_id long, text string")
    row = text_ops.zipf_alpha({"documents": docs}).collect()[0]
    assert row["n_points"] == 4
    assert abs(row["alpha_micro"] - 1000000) <= 1  # floor of ~1.0


def test_peak_concurrency_manual(spark):
    """Sweep-line invariants on hand-placed intervals: overlapping holds
    stack, an interval starting exactly at another's end does NOT overlap
    it (half-open), and counts are per type."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import timeseries

    base = datetime(2024, 1, 1, 12, 0, 0)

    def at(minute, second=0):
        return datetime(2024, 1, 1, 12, minute, second)

    rows = [
        # type A: three events within one 5-min hold -> peak 3
        (1, at(0), 1, "A", 1.0),
        (2, at(1), 1, "A", 1.0),
        (3, at(2), 1, "A", 1.0),
        # type B: back-to-back (second starts exactly when first ends)
        (4, at(0), 1, "B", 1.0),
        (5, at(5), 1, "B", 1.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["event_type"]: (r["n_intervals"], r["peak_concurrent"])
        for r in timeseries.QUERIES["peak_concurrency"]({"events": ev}).collect()
    }
    assert got == {"A": (3, 3), "B": (2, 1)}


def test_twap_daily_value_holds_weighting(spark):
    """A value held 12 h weighs 12 h: two observations at 00:00 (10.00)
    and 12:00 (30.00) give TWAP exactly 20.00 over the 86400-s day."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import timeseries

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0), 1, "A", 10.0),
            (2, datetime(2024, 1, 1, 12, 0, 0), 1, "A", 30.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    row = timeseries.twap_daily_value({"events": ev}).collect()[0]
    assert (row["n_events"], row["covered_seconds"]) == (2, 86400)
    assert row["twap_cents_micro"] == 2_000_000_000


def test_funnel_with_deadlines_manual(spark):
    """Deadline semantics: a click 20 min after the view counts, 40 min
    does not; a purchase 70 min after the click misses the 60-min
    deadline, 20 min makes it."""
    from datetime import datetime, timedelta

    from streamming_processing_pyspark_spark.operators import windowed

    t0 = datetime(2024, 1, 1, 12)

    def at(**kw):
        return t0 + timedelta(**kw)

    rows = [
        (1, t0, 1, "view", 1.0), (2, at(minutes=20), 1, "click", 1.0),
        (3, at(minutes=95), 1, "purchase", 1.0),   # 75 min after click: late
        (4, t0, 2, "view", 1.0), (5, at(minutes=40), 2, "click", 1.0),  # late
        (6, t0, 3, "click", 1.0),                  # no view at all
        (7, t0, 4, "view", 1.0), (8, at(minutes=10), 4, "click", 1.0),
        (9, at(minutes=30), 4, "purchase", 1.0),   # 20 min after click: in
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    row = windowed.funnel_with_deadlines(ev).collect()[0]
    assert tuple(row) == (4, 3, 2, 1), row


def test_pareto_front_orders_manual(spark):
    """Skyline semantics: same-price earlier dates are dominated, exact
    (price, date) duplicates co-survive, lower-price earlier orders are
    dominated by any later-and-bigger order."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import relational2

    d = [datetime(2024, 1, i) for i in range(1, 5)]
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 100.0, d[0], "p"),   # dominated by 3 (same price, later)
            (3, 1, "O", 100.0, d[1], "p"),   # front
            (2, 1, "O", 50.0, d[2], "p"),    # dominated by 4/5
            (4, 1, "O", 70.0, d[3], "p"),    # front (duplicate pair)
            (5, 1, "O", 70.0, d[3], "p"),    # front (duplicate pair)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    got = sorted(
        r["o_orderkey"]
        for r in relational2.pareto_front_orders({"orders": orders}).collect()
    )
    assert got == [3, 4, 5], got


def test_bigram_pmi_topk_manual(spark, monkeypatch):
    """ln(4) for both collocations on a 3-doc corpus, ranked by
    (pmi_micro DESC, bigram ASC) so the lexicographically smaller
    bigram wins the tie."""
    import math

    from streamming_processing_pyspark_spark.operators import lm

    monkeypatch.setattr(lm, "PMI_MIN_COUNT", 1)
    docs = spark.createDataFrame(
        [(1, "a b", "en", "s", 3), (2, "a b", "en", "s", 3),
         (3, "a c", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        tuple(r)
        for r in lm.bigram_pmi_topk({"documents": docs}).orderBy("rk").collect()
    ]
    # both pairs: n*c_xy*n_uni^2/(n_bi*c_x*c_y) -> ln(4)
    m = math.floor(1000000.0 * math.log((2.0 * 6.0 * 6.0) / (3.0 * 3.0 * 2.0)))
    m2 = math.floor(1000000.0 * math.log((1.0 * 6.0 * 6.0) / (3.0 * 3.0 * 1.0)))
    assert got == [("a b", 2, m, 1), ("a c", 1, m2, 2)], got


def test_basket_pair_lift_manual(spark, monkeypatch):
    """3 baskets, s_A=3, s_B=2, s_AB=2 -> lift exactly 1.0; duplicate
    events inside a basket don't inflate support."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import events_analytics

    monkeypatch.setattr(events_analytics, "BASKET_MIN_SUPPORT", 1)
    d1, d2 = datetime(2024, 1, 1, 9), datetime(2024, 1, 2, 9)
    rows = [
        (1, d1, 1, "A", 1.0), (2, d1, 1, "B", 1.0), (3, d1, 1, "A", 1.0),
        (4, d2, 1, "A", 1.0),
        (5, d1, 2, "A", 1.0), (6, d1, 2, "B", 1.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in events_analytics.basket_pair_lift({"events": ev}).collect()
    ]
    assert got == [("A", "B", 2, 3, 2, 1000000)], got


def test_partition_layout_plan_manual(spark):
    """Exact byte accounting: 32 fixed + string lengths per row; file
    count is the integer ceiling."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import profiling

    rows = [
        (1, datetime(2024, 1, 1, 1), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 2), 1, "view", 1.0, "{}"),
        (3, datetime(2024, 1, 2, 1), 1, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        str(r["day"]): (r["n_rows"], r["est_bytes"], r["n_target_files"], r["skewed"])
        for r in profiling.partition_layout_plan({"events": ev}).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": (2, 76, 1, False),
        "2024-01-02 00:00:00": (1, 39, 1, False),
    }, got


def test_poisson_bootstrap_ci_brackets_mean(spark):
    """The ~5-95% bootstrap interval must be ordered, have the full
    replicate count, and bracket the exact per-type mean at this SF
    (deterministic given the data, so this is a stable pin, not a
    flaky statistical assertion)."""
    from streamming_processing_pyspark_spark.operators import sampling

    t = load_tables(spark, SF_DIR)
    exact = {
        r["event_type"]: r["m"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(
            F.expr(
                "sum(CAST(round(value * 100, 0) AS LONG)) DIV count(*)"
            ).alias("m")
        )
        .collect()
    }
    rows = sampling.poisson_bootstrap_ci(t).collect()
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["n_replicates"] == sampling.BOOT_REPLICATES
        assert (
            r["boot_lo_cents"] <= r["boot_median_cents"] <= r["boot_hi_cents"]
        )
        assert r["boot_lo_cents"] <= exact[r["event_type"]] <= r["boot_hi_cents"]


def test_km_conversion_survival_manual(spark):
    """Hand-computed KM with censoring: 4 users (convert@0h, convert@2h,
    censored@2h, censored@0h) -> S(0) = 3/4, S(2) = 3/4 * 1/2."""
    from datetime import datetime, timedelta

    from streamming_processing_pyspark_spark.operators import events_analytics

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def at(**kw):
        return t0 + timedelta(**kw)

    rows = [
        (1, t0, 1, "view", 1.0),
        (2, at(minutes=30), 1, "purchase", 1.0),   # conv, dur 0
        (3, t0, 2, "view", 1.0),
        (4, at(hours=2), 2, "purchase", 1.0),      # conv, dur 2
        (5, t0, 3, "view", 1.0),
        (6, at(hours=2), 3, "click", 1.0),         # censored, dur 2
        (7, t0, 4, "view", 1.0),                   # censored, dur 0
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["dur_hours"]: (r["n_risk"], r["n_conv"], r["n_censored"], r["km_micro"])
        for r in events_analytics.km_conversion_survival({"events": ev}).collect()
    }
    assert got == {0: (4, 1, 1, 750000), 2: (2, 1, 1, 375000)}, got


def test_knn_graph_triangles_complete_graph(spark):
    """4 distinct vectors with KNN_K >= 3 form the complete mutual-kNN
    graph K4: 6 edges, 12 wedges, 4 triangles, transitivity exactly 1."""
    from streamming_processing_pyspark_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.1], 0),
            (1, [0.0, 1.0, 0.0, 0.1], 0),
            (2, [0.0, 0.0, 1.0, 0.1], 0),
            (3, [1.0, 1.0, 0.0, 0.1], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    row = similarity.knn_graph_triangles({"embeddings": emb}).collect()[0]
    assert tuple(row) == (4, 6, 12, 4, 1000000), row


def test_label_propagation_majority_and_ties(spark):
    """On the complete graph with two seeds of different labels, every
    unlabeled node sees a 1-1 tie and must adopt the SMALLER label in
    round 1; seeds keep their labels at round 0."""
    from streamming_processing_pyspark_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.1], 3),   # seed (0 % 5 == 0), label 3
            (5, [0.0, 1.0, 0.0, 0.1], 1),   # seed, label 1
            (1, [0.0, 0.0, 1.0, 0.1], 9),   # unseeded (true label hidden)
            (2, [1.0, 1.0, 0.0, 0.1], 9),   # unseeded
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["vec_id"]: (r["label_out"], r["labeled_round"])
        for r in similarity.label_propagation_knn({"embeddings": emb}).collect()
    }
    assert got == {0: (3, 0), 5: (1, 0), 1: (1, 1), 2: (1, 1)}, got


def test_merge_upsert_orders_manual(spark):
    """MERGE action accounting on a hand-built table: key 3 both stays
    (untouched) and spawns an offset insert, key 7 is updated (+5% =
    DIV 20 cents), key 5 is untouched."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import analytics2

    orders = spark.createDataFrame(
        [
            (3, 1, "O", 10.00, datetime(2024, 1, 1), "1-URGENT"),
            (7, 1, "O", 20.00, datetime(2024, 1, 1), "1-URGENT"),
            (5, 1, "O", 30.00, datetime(2024, 1, 1), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    got = {
        r["action"]: (r["n_rows"], r["total_cents"])
        for r in analytics2.merge_upsert_orders({"orders": orders}).collect()
    }
    assert got == {
        "untouched": (2, 4000),
        "updated": (1, 2100),
        "inserted": (1, 1000),
    }


def test_mmr_diverse_topk_prefers_diversity(spark):
    """With two exact duplicates of the query direction and one off-axis
    vector, MMR must interleave: dup #1 (relevance tie -> smaller id),
    then the off-axis vector (the second dup is fully redundant), then
    dup #2 — and emit only as many rows as there are candidates."""
    import math

    from streamming_processing_pyspark_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),  # the query vector
            (1, [4.0, 3.0, 0.0, 0.0], 0),  # rel = 0.8
            (2, [8.0, 6.0, 0.0, 0.0], 0),  # rel = 0.8, duplicate of 1
            (3, [4.0, -3.0, 0.0, 0.0], 0),  # rel = 0.8, cos to 1 = 0.28
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = [
        tuple(r)
        for r in similarity.mmr_diverse_topk({"embeddings": emb})
        .orderBy("mmr_rank")
        .collect()
    ]
    lam, dw = similarity.MMR_LAMBDA, similarity.MMR_DIV_WEIGHT
    rel = 4.0 / 5.0
    c13 = 7.0 / 25.0

    def mf(x):
        return math.floor(1000000 * x)

    assert got == [
        (1, 1, mf(rel), mf(0.0), mf(lam * rel - dw * 0.0)),
        (2, 3, mf(rel), mf(c13), mf(lam * rel - dw * c13)),
        (3, 2, mf(rel), mf(1.0), mf(lam * rel - dw * 1.0)),
    ], got


def test_dataset_card_rollup_manual(spark):
    """Manifest arithmetic on a hand-built corpus: exact-dup redundancy
    is n_docs - distinct texts, token totals are whitespace counts,
    avg_chars is the integer floor mean."""
    from streamming_processing_pyspark_spark.operators import curation

    rows = [
        (1, "a b c", "en", "s1", 5),
        (2, "a b c", "en", "s1", 5),     # exact dup of doc 1
        (3, "d e", "fr", "s1", 3),
        (4, "x", "en", "s2", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["source"]: r.asDict()
        for r in curation.dataset_card_rollup({"documents": docs}).collect()
    }
    s1 = got["s1"]
    assert (s1["n_docs"], s1["total_chars"], s1["total_tokens"]) == (3, 13, 8)
    assert (s1["n_langs"], s1["n_redundant_docs"]) == (2, 1)
    assert (s1["max_chars"], s1["avg_chars"]) == (5, 4)
    s2 = got["s2"]
    assert (s2["n_docs"], s2["n_redundant_docs"], s2["avg_chars"]) == (1, 0, 1)


def test_mutual_info_dependent_and_independent(spark):
    """Perfect dependence gives each cell (n_ij/n)·ln2 (floored micro),
    perfect independence gives exactly 0 (ln 1)."""
    from datetime import datetime
    import math

    from streamming_processing_pyspark_spark.operators import featurize

    t0 = datetime(2024, 1, 1)

    def ev_frame(rows):
        return spark.createDataFrame(
            [(i, t0, 1, tp, v) for i, (tp, v) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )

    # dependent: A only in bucket 0, B only in bucket 1 (WOE_BUCKET=50)
    dep = ev_frame([("A", 10.0), ("A", 20.0), ("B", 60.0), ("B", 70.0)])
    got = {
        r["event_type"]: (r["n_type_rows"], r["n_cells"], r["mi_part_micro"])
        for r in featurize.mutual_info_type_bucket({"events": dep}).collect()
    }
    term = math.floor(1000000.0 * 0.5 * math.log(2.0))
    assert got == {"A": (2, 1, term), "B": (2, 1, term)}

    # independent: both types uniform over both buckets
    ind = ev_frame(
        [("A", 10.0), ("A", 60.0), ("B", 10.0), ("B", 60.0)]
    )
    got2 = {
        r["event_type"]: r["mi_part_micro"]
        for r in featurize.mutual_info_type_bucket({"events": ind}).collect()
    }
    assert got2 == {"A": 0, "B": 0}


def test_value_band_pairs_manual(spark):
    """Band-join boundary semantics: |Δ| == ε is included, pairs across
    a bucket boundary are found (neighbor probe), out-of-band values and
    other users produce nothing — each pair counted exactly once."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import analytics2

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: one view at 1.00; clicks at Δ=25 (edge, in), Δ=26 (out),
        # Δ=10 (in, same bucket)
        (1, t0, 1, "view", 1.00),
        (2, t0, 1, "click", 0.75),
        (3, t0, 1, "click", 1.26),
        (4, t0, 1, "click", 1.10),
        # user 2: match straddles buckets 0 and 1 (10 vs 30 cents)
        (5, t0, 2, "view", 0.10),
        (6, t0, 2, "click", 0.30),
        # user 3: nearby values but view-view only -> no pair
        (7, t0, 3, "view", 2.00),
        (8, t0, 3, "view", 2.01),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["user_id"]: (r["n_band_pairs"], r["min_diff_cents"], r["sum_diff_cents"])
        for r in analytics2.value_band_pairs({"events": ev}).collect()
    }
    assert got == {1: (2, 10, 35), 2: (1, 20, 20)}


def test_cusum_changepoint_manual(spark):
    """Closed-form CUSUM on a hand-computed series: type A hours
    [1,1,5,1] -> n=4, total=8, scaled prefix P=[-4,-8,4,0], running min
    [-4,-8,-8,-8], S=[0,0,12,8]: max 12 at hour 2, no alarm (threshold
    3*total=24). A quiet type with a constant series has S identically
    0 and peak at the FIRST hour (tie-break)."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import timeseries

    def h(i):
        return datetime(2024, 1, 1, i, 0, 0)

    rows = []
    eid = 0
    for hour, cnt in enumerate([1, 1, 5, 1]):
        for _ in range(cnt):
            rows.append((eid, h(hour), 1, "A", 1.0))
            eid += 1
    for hour in range(4):  # type B: constant 1/hour
        rows.append((eid, h(hour), 2, "B", 1.0))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["event_type"]: r.asDict()
        for r in timeseries.cusum_changepoint_hours({"events": ev}).collect()
    }
    a = got["A"]
    assert (a["n_hours"], a["total_cnt"], a["max_cusum_scaled"]) == (4, 8, 12)
    assert a["peak_hour"] == h(2)
    assert (a["n_alarm_hours"], a["first_alarm_hour"]) == (0, None)
    b = got["B"]
    assert (b["max_cusum_scaled"], b["peak_hour"]) == (0, h(0))


def test_lagged_crosscorr_shifted_series(spark):
    """A click series that is exactly the view series shifted one hour
    later must have corr == 1.0 at lag 1 (and fewer pairs at larger
    lags: n_pairs = n_hours - lag)."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import timeseries

    def h(i):
        return datetime(2024, 1, 1, i, 0, 0)

    views = [1, 3, 2, 5, 4, 1, 2]
    rows = []
    eid = 0
    for hour, cnt in enumerate(views):
        for _ in range(cnt):
            rows.append((eid, h(hour), 1, "view", 1.0))
            eid += 1
        for _ in range(cnt):  # clicks mirror views one hour later
            rows.append((eid, h(hour + 1), 1, "click", 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        r["lag"]: (r["n_pairs"], r["corr_xy"])
        for r in timeseries.lagged_crosscorr({"events": ev}).collect()
    }
    n_hours = len(views) + 1  # spine spans hour 0..7
    assert set(got) == set(range(timeseries.CROSSCORR_MAX_LAG + 1))
    for lag, (n_pairs, _corr) in got.items():
        assert n_pairs == n_hours - lag
    assert got[1][1] == 1.0


def test_markov_attribution_manual(spark):
    """Removal effects on a 3-journey graph solved by hand in the same
    integer fixed-point: baseline p(START)=0.666666, removing A leaves
    only the B path (p=0.166666 -> RE 750001), removing B leaves only
    the direct A->purchase half (p=0.333333 -> RE 500000)."""
    from datetime import datetime

    from streamming_processing_pyspark_spark.operators import attribution

    def e(i, u, s, tp):
        return (i, datetime(2024, 1, 1, 0, 0, s), u, tp, 1.0)

    events = spark.createDataFrame(
        [
            e(1, 1, 1, "A"), e(2, 1, 2, "purchase"),
            e(3, 2, 1, "A"), e(4, 2, 2, "B"),
            e(5, 3, 1, "B"), e(6, 3, 2, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in attribution.markov_attribution({"events": events}).collect()
    )
    assert got == [
        ("A", 666666, 166666, 750001),
        ("B", 666666, 333333, 500000),
    ], got


def test_lsh_theta_pairs_nonvacuous_subset_recall(spark):
    """lsh_pairs_at_theta runs the LSH ladder at an operating point the
    fixtures exercise (0.4 — the 0.95 default is structurally empty on
    the synthetic embeddings, VERDICT r7 §4): pairs must exist, be a
    subset of the exact ≥0.4 pairs, and clear the pinned recall floor."""
    t = load_tables(spark, SF_DIR)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_pairs_at_theta(t).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity._all_pairs_at(
            t, similarity.SEMDEDUP_THRESHOLD
        ).collect()
    }
    assert lsh, "theta-operating-point LSH must produce pairs"
    assert lsh <= exact
    assert 100 * len(lsh) >= similarity.LSH_THETA_RECALL_PCT * len(exact)
    row = similarity.lsh_theta_recall_check(t).first()
    assert row["subset_ok"] and row["recall_ok"]
    assert row["n_exact"] == len(exact)


def test_ivfpq_recall_and_exact_scores(spark):
    """IVFADC composition: overlap with brute-force top-k must clear the
    pinned floor and every returned score must be the exact cosine
    (re-rank contract)."""
    t = load_tables(spark, SF_DIR)
    exact = {r["vec_id"]: r["cos_sim"] for r in similarity.cosine_topk(t).collect()}
    ap = {r["vec_id"]: r["cos_sim"] for r in similarity.ivfpq_topk(t).collect()}
    assert len(ap) == similarity.TOPK
    overlap = set(exact) & set(ap)
    assert 100 * len(overlap) >= similarity.IVFPQ_RECALL_PCT * len(exact)
    for v in overlap:
        assert ap[v] == exact[v]
    row = similarity.ivfpq_recall_check(t).first()
    assert row["recall_ok"] and row["precision_ok"]


def test_whitening_identity_covariance(spark):
    """ZCA output must have identity sample covariance (the audit's whole
    point) and preserve row count / ids; the registered scalar audit's
    checksums must equal the internal array transform's row sums."""
    import numpy as np

    t = load_tables(spark, SF_DIR)
    pdf = similarity._whitened_vectors(t).toPandas()
    assert len(pdf) == t["embeddings"].count()
    m = np.array(pdf["whitened"].tolist(), dtype="float64")
    cov = np.cov(m, rowvar=False, bias=True)
    assert np.abs(np.diag(cov) - 1.0).max() <= 1e-6
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() <= 1e-6
    row = similarity.whiten_check(t).first()
    assert row["diag_ok"] and row["offdiag_ok"]
    assert row["n_vecs"] == len(pdf)
    # scalar slate projection: driver-safe AND traceable to the vectors
    audit = similarity.embedding_whiten_audit(t).toPandas()
    assert set(audit.columns) == {"vec_id", "whiten_checksum", "whiten_norm"}
    want = {
        int(v): round(float(np.sum(row_)), 6)
        for v, row_ in zip(pdf["vec_id"], m)
    }
    got = dict(zip(audit["vec_id"].astype(int), audit["whiten_checksum"]))
    assert got == want


def test_moment_collection_bounded_by_reduce_groups(spark):
    """VERDICT r8 §2: the moment partial collection must be bounded by
    MOMENT_REDUCE_GROUPS — repartitioning the input 4× wider must NOT
    grow the collected row count (driver bytes are f(d, R), not
    f(partitions)), and the reduced moments must equal the unreduced
    sums exactly under a pinned fold order."""
    from streamming_processing_pyspark_spark.operators.similarity import (
        MOMENT_REDUCE_GROUPS,
        _collect_moment_partials,
        _moment_partials,
        as_double,
    )

    t = load_tables(spark, SF_DIR)
    base = t["embeddings"].select(
        "vec_id", as_double("embedding").alias("vec")
    )
    counts = {}
    moments = {}
    for nparts in (MOMENT_REDUCE_GROUPS, MOMENT_REDUCE_GROUPS * 4):
        emb = base.repartition(nparts, "vec_id")
        parts = _moment_partials(emb)
        reduced = parts.withColumn(
            "rid", F.pmod(F.col("pid"), F.lit(MOMENT_REDUCE_GROUPS))
        )
        counts[nparts] = (
            reduced.groupBy("rid").count().count()
        )
        n, s, g = _collect_moment_partials(parts)
        moments[nparts] = (n, s.round(9).tolist(), len(g))
    assert counts[MOMENT_REDUCE_GROUPS * 4] <= MOMENT_REDUCE_GROUPS
    assert counts[MOMENT_REDUCE_GROUPS] <= MOMENT_REDUCE_GROUPS
    # same corpus → same counts and (to fp tolerance) same sums
    ns = {m[0] for m in moments.values()}
    assert len(ns) == 1


def test_containment_catches_subset_jaccard_misses(spark):
    """A short document quoted verbatim inside a long one must surface
    as a containment pair (containment = 1.0) even when its Jaccard
    falls below the registered near-dup threshold; on the fixture
    corpus the measures obey containment >= jaccard row-wise and the
    arithmetic identities hold."""
    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.replace("w", "v"))],
        "doc_id long, text string",
    )
    rows = dedup.containment_pairs({"documents": docs}).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] < dedup.JACCARD_THRESHOLD
    t = load_tables(spark, SF_DIR)
    for r in dedup.containment_pairs(t).collect():
        assert r["containment"] >= dedup.CONTAINMENT_MIN
        assert r["containment"] >= r["jaccard"]
        assert r["containment"] == round(
            r["common"] / min(r["n_a"], r["n_b"]), 4
        )


def test_matryoshka_fidelity_bounded_and_error_shrinks(spark):
    """The cosine ERROR must shrink as the prefix grows (longer prefix
    → closer to the full-dim dot product); overlap is bounded by TOPK
    but NOT asserted monotone — these synthetic embeddings aren't
    MRL-trained, and reporting their poor prefix overlap is exactly
    what the audit is for. A constructed Matryoshka-perfect corpus
    (all information in the first 8 dims) must score perfect overlap
    and zero error at every prefix."""
    t = load_tables(spark, SF_DIR)
    rows = sorted(
        similarity.matryoshka_fidelity_report(t).collect(),
        key=lambda r: r["prefix_dim"],
    )
    assert [r["prefix_dim"] for r in rows] == sorted(
        similarity.MATRYOSHKA_DIMS
    )
    for r in rows:
        assert 0 <= r["topk_overlap"] <= similarity.TOPK
        assert r["sum_abs_cos_delta_micro"] >= 0
    for prev, cur in zip(rows, rows[1:]):
        assert prev["sum_abs_cos_delta_micro"] >= cur["sum_abs_cos_delta_micro"]
    # Matryoshka-perfect corpus: only the first 8 dims carry signal
    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)] + [0.0] * 56)
        for i in range(40)
    ]
    perfect = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    prows = similarity.matryoshka_fidelity_report(
        {"embeddings": perfect}
    ).collect()
    for r in prows:
        assert r["topk_overlap"] == similarity.TOPK
        assert r["sum_abs_cos_delta_micro"] == 0


# ---------------------------------------------------------------------------
# Round 10: band-bucket caps, banded containment, range-partitioned
# sorted-neighborhood, symmetric block filters (VERDICT r9 §1/§3/§7, ADVICE)
# ---------------------------------------------------------------------------


def test_band_bucket_cap_bounds_degenerate_corpus(spark):
    """VERDICT r9 §4: a degenerate band bucket (here: one template shared
    by > BAND_BUCKET_CAP documents, which collapses every doc into ONE
    bucket per band) must be DROPPED, not exploded quadratically inside a
    single task — and a same-shape corpus under the cap must still pair."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    n_hot = dedup.BAND_BUCKET_CAP + 8
    hot = spark.createDataFrame(
        [(i, template) for i in range(n_hot)], "doc_id long, text string"
    )
    assert dedup.minhash_lsh_pairs({"documents": hot}).count() == 0
    assert dedup.simhash_near_dup_pairs({"documents": hot}).count() == 0

    cool = spark.createDataFrame(
        [(i, template) for i in range(12)], "doc_id long, text string"
    )
    assert dedup.minhash_lsh_pairs({"documents": cool}).count() == 12 * 11 // 2
    assert (
        dedup.simhash_near_dup_pairs({"documents": cool}).count()
        == 12 * 11 // 2
    )


def test_simhash_degenerate_fingerprints_excluded(spark):
    """Empty/whitespace docs fingerprint to NULL (no tokens — the actual
    degenerate condition, ADVICE r10, not the VALUE 0); they must never
    band-join each other into bogus hamming-0 'near-dups', the band check
    must stay green because the brute-force side mirrors the exclusion,
    and n_excluded publishes the exclusion as SQL-recomputable data."""
    base = "the quick brown fox jumps over the lazy dog again " * 4
    rows = [(0, base), (1, base.replace("lazy", "sleepy"))]
    rows += [(10 + i, "   " if i % 2 else "") for i in range(50)]
    t = {"documents": spark.createDataFrame(rows, "doc_id long, text string")}
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(t).collect()}
    assert fps[10] is None and fps[0] is not None
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(t).collect()
    }
    assert all(a < 10 and b < 10 for a, b in pairs)
    chk = dedup.simhash_band_check(t).first()
    assert chk["complete_ok"] and chk["subset_ok"]
    assert chk["n_docs"] == 52  # SQL-recomputable field: ALL docs
    assert chk["n_excluded"] == 50


def test_sorted_neighborhood_range_form_equals_global_window(spark):
    """VERDICT r9 §7: the range-partitioned form (per-prefix windows + a
    boundary strip) must emit EXACTLY the single-global-window pair set —
    on the fixture vocab and on a constructed vocab whose near-dups
    straddle prefix boundaries."""
    from pyspark.sql import Window

    def global_form(names_df):
        w = Window.orderBy("p_name")
        nb = names_df.select(
            F.col("p_name").alias("name_a"),
            F.array(
                *[
                    F.lead("p_name", k).over(w)
                    for k in range(1, dedup.SN_WINDOW)
                ]
            ).alias("cands"),
        ).select("name_a", F.explode("cands").alias("name_b"))
        d = F.levenshtein(F.col("name_a"), F.col("name_b"))
        return nb.where(d <= dedup.NAME_EDIT_MAX).select(
            "name_a", "name_b", d.alias("edit_dist")
        )

    t = load_tables(spark, SF_DIR)
    got = {tuple(r) for r in dedup.sorted_neighborhood_pairs(t).collect()}
    want = {
        tuple(r)
        for r in global_form(t["part"].select("p_name").distinct()).collect()
    }
    assert got == want

    # boundary-straddling vocab: aaaz/aaba sort adjacently but land in
    # different 4-char ranges; abc/abd exercise short single-range names;
    # the zz runs make one range longer than 2*(SN_WINDOW-1) so the strip
    # is a strict subset of that range
    vocab = (
        ["aaaz x", "aaba x", "abc", "abd"]
        + [f"zzzz {c}" for c in "abcdefghij"]
        + ["zzzy a"]
    )
    parts = spark.createDataFrame([(v,) for v in vocab], "p_name string")
    got2 = {
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs({"part": parts}).collect()
    }
    want2 = {tuple(r) for r in global_form(parts).collect()}
    assert got2 == want2
    # sanity: the cross-range near-dup actually exists in the expectation
    assert any(a == "aaaz x" and b == "aaba x" for a, b, _ in want2)


def test_containment_banded_subset_and_recall(spark):
    """containment_pairs_banded ⊆ the UNCAPPED exact containment set
    (exact rescoring ⇒ exact precision), the recall contract holds on the
    fixture corpus, and a moderate-ratio verbatim quote (containment 1.0,
    Jaccard within band reach) is FOUND by the banded route."""
    t = load_tables(spark, SF_DIR)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.containment_pairs(t, max_shingle_df=None).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in dedup.containment_pairs_banded(t).collect()
    }
    assert banded <= exact
    chk = dedup.containment_recall_check(t).first()
    assert chk["subset_ok"] and chk["recall_ok"]
    assert chk["n_exact"] == len(exact)

    quote = "one two three four five six seven eight nine ten eleven twelve"
    host = quote + " thirteen fourteen fifteen"
    docs = spark.createDataFrame(
        [(0, quote), (1, host), (2, "totally unrelated words everywhere")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.containment_pairs_banded(
            {"documents": docs}
        ).collect()
    }
    assert (0, 1) in got
    assert got[(0, 1)]["containment"] == 1.0


def test_blocked_candidates_exclude_single_token_names(spark):
    """ADVICE r9: single-token names have no second-token block; Spark
    (NULL) and DuckDB ('') disagreed on whether they join, so both
    engines now exclude them EXPLICITLY. Near-identical single-token
    names must still reach ER via the sorted-neighborhood generator."""
    parts = spark.createDataFrame(
        [("solo",), ("solp",), ("alpha beta",), ("alphb beta",)],
        "p_name string",
    )
    t = {"part": parts}
    tb = {
        (r["name_a"], r["name_b"])
        for r in dedup._token_block_candidates(t).collect()
    }
    assert tb == {("alpha beta", "alphb beta")}
    nn = {
        (r["name_a"], r["name_b"])
        for r in dedup.name_near_dup_pairs(t).collect()
        if r["name_a"] != r["name_b"]
    }
    assert nn == {("alpha beta", "alphb beta")}
    er = {
        (r["name_a"], r["name_b"])
        for r in dedup.er_candidate_pairs(t).collect()
    }
    assert ("solo", "solp") in er  # recovered by sorted-neighborhood


def test_ann_knn_route_properties(spark):
    """The IVF-routed kNN (production twin of the exact blocked matmul):
    per-anchor output is ≤ K rows with contiguous ranks, every score is
    the exact rounded cosine of its pair (precision exact), and at the
    fixture scale — where multi-probe covers most of the 4-centroid route
    — recall vs the exact kNN clears the driver-checked floor."""
    import numpy as np

    t = load_tables(spark, SF_DIR)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in t["embeddings"].select("vec_id", "embedding").collect()
    }

    rows = similarity.ann_knn_topk(t).collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r["vec_id"], []).append(r)
        a, b = emb[r["vec_id"]], emb[r["nbr_id"]]
        want = round(
            float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6
        )
        assert abs(r["cos_sim"] - want) <= 2e-6
        assert r["nbr_id"] != r["vec_id"]
    for anchor, rs in by_anchor.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rs) + 1))
        assert len(rs) <= similarity.KNN_K

    chk = similarity.ann_knn_recall_check(t).first()
    assert chk["recall_ok"]

    hn = similarity.hard_negative_mining_ann(t).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in t["embeddings"].select("vec_id", "label").collect()
    }
    for r in hn:
        assert r["label"] != r["nbr_label"]
        assert labels[r["vec_id"]] == r["label"]
        assert labels[r["nbr_id"]] == r["nbr_label"]
    assert similarity.hardneg_recall_check(t).first()["recall_ok"]
    edge_chk = similarity.knn_edge_agreement_check(t).first()
    assert edge_chk["recall_ok"]
    assert edge_chk["edge_ratio_ok"]
    assert edge_chk["n_exact_edges"] > 0


def test_margin_mining_prefers_reciprocal_pairs(spark):
    """The margin criterion must rank a RECIPROCALLY-close cross-label
    pair above a hub: construct label-0 anchor A whose raw cosine to hub
    H (label 1, close to everything) exceeds nothing, and a partner P
    (label 1) mutually isolated with A. The ratio margin normalizes by
    both neighborhoods, so A's best pair is P even when cos(A,H) is
    competitive; on the fixture corpus the ANN miner agrees with the
    exact miner above the driver-checked bound."""
    import math

    # 2-d embeddings, padded to 4 dims. A≈P along x; hub H at 45° is
    # fairly close to EVERYTHING (its own neighborhood mean is high, so
    # its margin deflates); distractors D* populate the neighborhoods.
    def v(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [
        (0, v(0), 0),     # A (label 0)
        (1, v(4), 1),     # P — reciprocal partner for A
        (2, v(45), 1),    # H — hub between the label-0 and label-1 packs
        (3, v(80), 1),    # far label-1 distractors
        (4, v(86), 1),
        (5, v(92), 1),
        (6, v(98), 1),
        (7, v(83), 0),    # label-0 pack near the distractors: H's
        (8, v(89), 0),    # neighborhood (and P-of-hub candidates)
        (9, v(95), 0),
    ]
    t = {
        "embeddings": spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
    }
    best = {
        r["vec_id"]: (r["nbr_id"], r["margin"])
        for r in similarity.bitext_margin_pairs(t).collect()
    }
    assert best[0][0] == 1  # A picks P, not the hub
    # the hub's own best margin is deflated below the reciprocal pair's
    assert best[2][1] < best[0][1]

    fx = load_tables(spark, SF_DIR)
    chk = similarity.bitext_ann_agreement_check(fx).first()
    assert chk["agree_ok"] and chk["n_exact"] > 0


# ---------------------------------------------------------------------------
# Round 11: capped+refined ER blocking (VERDICT r10 §1), SimHash sub-band
# refinement + degenerate gating (ADVICE r10)
# ---------------------------------------------------------------------------


def test_name_blocking_matches_uncapped_join(spark):
    """VERDICT r10 §1: the capped posting-list candidate build must emit
    EXACTLY the pair set of the former broadcast block self-join on any
    corpus where no block exceeds ER_BLOCK_CAP (the fixture vocab)."""

    def old_form(part_df):
        names = (
            part_df.groupBy("p_name")
            .agg(F.count("*").alias("n"))
            .withColumn("block", F.get(F.split("p_name", " "), 1))
            .where(F.col("block").isNotNull() & (F.col("block") != ""))
        )
        a, b = names.alias("a"), names.alias("b")
        dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        return (
            a.join(b, F.col("a.block") == F.col("b.block"))
            .where(F.col("a.p_name") <= F.col("b.p_name"))
            .where(dist <= dedup.NAME_EDIT_MAX)
            .select(
                F.col("a.p_name").alias("name_a"),
                F.col("b.p_name").alias("name_b"),
                dist.alias("edit_dist"),
                F.when(
                    F.col("a.p_name") == F.col("b.p_name"),
                    (F.col("a.n") * (F.col("a.n") - 1) / 2).cast("long"),
                )
                .otherwise(F.col("a.n") * F.col("b.n"))
                .alias("n_pairs"),
            )
        )

    t = load_tables(spark, SF_DIR)
    got = {tuple(r) for r in dedup.name_near_dup_pairs(t).collect()}
    want = {tuple(r) for r in old_form(t["part"]).collect()}
    assert got == want
    assert any(a != b for a, b, *_ in got)  # non-self pairs exist at sf


def test_name_blocking_mega_block_refined_and_capped(spark):
    """A mega-block (one second token shared by far more than
    ER_BLOCK_CAP names) must be REFINED by first token — near-dups inside
    a refined sub-block still pair — while a refined block still over cap
    is dropped loudly instead of exploding one task quadratically."""
    cap = dedup.ER_BLOCK_CAP
    # one 10k-name mega-block (VERDICT r10 §1): 100 first-token groups x
    # 100 names, so every group lands under cap after refinement; one
    # planted near-dup pair in g0
    rows = [f"g{i % 100} zzz n{i}" for i in range(100 * 100)]
    rows += ["g0 zzz ab", "g0 zzz ac"]
    # refined-but-still-hot family: same first token throughout, > cap
    rows += [f"same yyy n{i}" for i in range(cap + 100)]
    rows += ["same yyy ab", "same yyy ac"]
    t = {"part": spark.createDataFrame([(v,) for v in rows], "p_name string")}

    got = {
        (r["name_a"], r["name_b"])
        for r in dedup.name_near_dup_pairs(t).collect()
        if r["name_a"] != r["name_b"]
    }
    assert ("g0 zzz ab", "g0 zzz ac") in got
    # every cross pair stays within one refined sub-block (same 1st token)
    assert all(a.split()[0] == b.split()[0] for a, b in got)
    # the still-over-cap refined family is dropped loudly: no yyy pairs
    assert not any("yyy" in a for a, _ in got)
    # the other candidate generators share the capped build
    cand = {
        (r["name_a"], r["name_b"])
        for r in dedup.er_candidate_pairs(t).collect()
    }
    assert ("g0 zzz ab", "g0 zzz ac") in cand


def _brute_hamming_pairs(fps, ham_max):
    out = set()
    items = sorted(fps.items())
    for i, (ia, fa) in enumerate(items):
        for ib, fb in items[i + 1:]:
            if ((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).bit_count() <= ham_max:
                out.add((ia, ib))
    return out


def test_simhash_subband_refinement_preserves_completeness(spark):
    """ADVICE r10 (medium): the 16-bit band key space saturates at corpus
    scale, so an over-cap band bucket must be SUB-BAND REFINED (12-bit
    chunks of the remaining 48 bits, replicated per chunk) rather than
    dropped — a benign corpus whose docs happen to share one band value
    keeps full pigeonhole completeness. Constructed: every doc shares
    band 0 (bucket >> BAND_BUCKET_CAP), remainders diverse; one planted
    pair differs by exactly one bit in EACH of bands 1-3, so it agrees on
    no band except the over-cap one — only the refinement path can emit
    it."""
    import random

    rng = random.Random(11)
    shared_band0 = 0x1234
    n = dedup.BAND_BUCKET_CAP + 40
    raw = {}
    seen = set()
    for i in range(n):
        hi = rng.getrandbits(48)
        while hi in seen:
            hi = rng.getrandbits(48)
        seen.add(hi)
        raw[i] = (hi << 16) | shared_band0
    # planted near-dup: one dirty bit in each of bands 1, 2 and 3
    raw[1000] = raw[0] ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)
    want = _brute_hamming_pairs(raw, dedup.SIMHASH_HAM_MAX)
    assert (0, 1000) in want

    def to_long(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    fps = spark.createDataFrame(
        [(i, to_long(v)) for i, v in raw.items()],
        "doc_id long, simhash bigint",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup._simhash_pairs_from_fps(fps).collect()
    }
    assert got == want

    # identical-fingerprint template family > cap: still dropped loudly
    # (sub-buckets inherit the full bucket — exact-dedup territory)
    tmpl = spark.createDataFrame(
        [(i, 0x0F0F0F0F) for i in range(dedup.BAND_BUCKET_CAP + 8)],
        "doc_id long, simhash bigint",
    )
    assert dedup._simhash_pairs_from_fps(tmpl).count() == 0


def test_simhash_zero_fingerprint_is_legitimate(spark):
    """ADVICE r10: a fingerprint that happens to equal 0 (every
    bit-majority non-positive on a real token stream) is a legitimate
    document and must participate in near-dup detection — the exclusion
    gates on the NULL degenerate condition only."""
    fps = spark.createDataFrame(
        [(1, 0), (2, 1), (3, -1)],  # ham(0,1)=1; ham with -1 = 63-64
        "doc_id long, simhash bigint",
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup._simhash_pairs_from_fps(fps).collect()
    }
    assert got == {(1, 2, 1)}


def test_incremental_semantic_ingest_contract(spark):
    """VERDICT r10 §6: the semantic rung's ingest twin — batch vectors
    probe the corpus-trained IVF index; every emitted pair is an exact
    ≥-threshold CROSS pair (subset), recall holds the contract floor on
    the fixture, and the split is the ladder's shared ingest modulus."""
    from streamming_processing_pyspark_spark.operators.dedup import (
        INCR_BATCH_MOD,
    )

    t = load_tables(spark, SF_DIR)
    got = {
        (r["new_id"], r["old_id"])
        for r in similarity.incremental_semantic_pairs(t).collect()
    }
    assert all(a % INCR_BATCH_MOD == 0 and b % INCR_BATCH_MOD != 0
               for a, b in got)
    exact_cross = {
        (r["id_a"], r["id_b"])
        for r in similarity._all_pairs_at(
            t, similarity.SEMDEDUP_THRESHOLD
        ).collect()
        if (r["id_a"] % INCR_BATCH_MOD == 0) != (r["id_b"] % INCR_BATCH_MOD == 0)
    }
    norm = {(min(a, b), max(a, b)) for a, b in got}
    assert norm <= exact_cross
    assert exact_cross, "fixture must contain cross pairs at theta"
    assert 100 * len(norm) >= similarity.INCR_SEM_RECALL_PCT * len(exact_cross)
    chk = similarity.incremental_semantic_check(t).first()
    assert chk["subset_ok"] and chk["recall_ok"]
    assert chk["n_exact_cross"] == len(exact_cross)


def test_kmeans_driver_reduce_matches_executor_reduce(spark, monkeypatch):
    """r12: Lloyd partials reduce on the DRIVER when the input has few
    partitions (one Python stage fewer per round); the centroids must be
    bit-identical to the executor pre-reduction path (the cluster-scale
    shape), because they feed declared rows-only outputs."""
    t = load_tables(spark, SF_DIR)
    from streamming_processing_pyspark_spark.tables import clear_persist_slots

    def centroids():
        spark.catalog.clearCache()
        clear_persist_slots()
        emb = similarity._emb_frame(t)
        cents, _assign, _emb = similarity._spherical_kmeans(
            emb, 4, similarity.SEMDEDUP_ITERS
        )
        return cents

    a = centroids()
    monkeypatch.setattr(similarity, "KMEANS_DRIVER_REDUCE_MAX_PARTS", -1)
    b = centroids()
    assert a.tobytes() == b.tobytes()


def test_moment_driver_reduce_matches_executor_reduce(spark, monkeypatch):
    """r12: same bit-identity contract for the whitening moment pass."""
    t = load_tables(spark, SF_DIR)
    from streamming_processing_pyspark_spark.tables import clear_persist_slots

    def moments():
        spark.catalog.clearCache()
        clear_persist_slots()
        emb = similarity._emb_frame(t)
        return similarity._collect_moment_partials(
            similarity._moment_partials(emb)
        )

    n1, s1, g1 = moments()
    monkeypatch.setattr(similarity, "KMEANS_DRIVER_REDUCE_MAX_PARTS", -1)
    n2, s2, g2 = moments()
    assert n1 == n2
    assert s1.tobytes() == s2.tobytes()
    assert g1.tobytes() == g2.tobytes()


def test_fine_cells_split_is_multi_probe_cover():
    """The fine level of the two-level quantizer (shared by SemDeDup,
    incremental semantic ingest and the ANN kNN source) only engages on
    branches of more than (P+1)·TARGET/P rows — larger than the 500-vector
    corpora the registry tests and the benchmark run — so pin it
    directly in numpy: every row lands in exactly min(P, k_fine) cells,
    the cells cover every row, the split is deterministic, and a small
    branch stays one cell."""
    import numpy as np

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((1200, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    norms = np.linalg.norm(mat, axis=1)
    cells = similarity._fine_cells(mat, norms)
    p = similarity.SEMDEDUP_PROBES
    k_fine = len(mat) * p // similarity.SEMDEDUP_TARGET_CLUSTER
    assert len(cells) == k_fine > p
    membership = np.zeros(len(mat), dtype=int)
    for idx in cells:
        membership[idx] += 1
    assert (membership == min(p, k_fine)).all()
    again = similarity._fine_cells(mat, norms)
    assert all(np.array_equal(a, b) for a, b in zip(cells, again))

    small = mat[:300]
    [only] = similarity._fine_cells(small, norms[:300])
    assert np.array_equal(only, np.arange(300))


def test_contract_counts_on_tiny_frames(spark):
    """The exact-vs-approximate contract helper behind every *_check
    query returns one row of integer counts — zeros, never NULL — for
    overlapping sets, an empty approximate side and two empty sides."""
    from streamming_processing_pyspark_spark.tables import local_df

    schema = "id_a bigint, id_b bigint"
    exact = local_df(spark, [(1, 2), (1, 3), (2, 3)], schema)
    approx = local_df(spark, [(1, 2), (2, 3), (4, 5)], schema)
    empty = local_df(spark, [], schema)
    keys = ["id_a", "id_b"]
    cols = ["n_exact", "n_approx", "n_hit", "n_outside"]
    for (e, a), want in [
        ((exact, approx), (3, 3, 2, 1)),
        ((exact, empty), (3, 0, 0, 0)),
        ((empty, empty), (0, 0, 0, 0)),
    ]:
        [row] = dedup._contract_counts(e, a, keys).collect()
        assert tuple(row[c] for c in cols) == want
        assert all(isinstance(row[c], int) for c in cols)


def test_whiten_check_releases_its_broadcast(spark):
    """whiten_check consumes its (mean, zca) broadcast eagerly, so it
    must not park it in the lazy-frame slot: repeated calls without a
    k-means query would otherwise accumulate broadcasts."""
    t = load_tables(spark, SF_DIR)
    similarity.whiten_check(t).collect()
    live = len(similarity._ASSIGN_BROADCASTS)
    for _ in range(3):
        similarity.whiten_check(t).collect()
    assert len(similarity._ASSIGN_BROADCASTS) == live
