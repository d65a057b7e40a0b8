"""Similarity search over the ``embeddings`` table.

Two tiers, per the scale brief:

- :func:`cosine_topk` — brute-force cosine top-k against a query vector.
  The query vector is a 1-row broadcast; the scan is a single pass scored by
  the Arrow-batched BLAS pandas UDF (functions.vectors.cosine_pudf), and the
  top-k is ``TakeOrderedAndProject`` (per-partition heaps, no global sort).
  This is the exact baseline an IVF/LSH path must match.
- :func:`embedding_near_dup_pairs` — all pairs with cosine ≥ threshold.
  Locally a broadcast self-join; at 100 TB the same query runs over
  LSH-bucketed candidates (see :func:`lsh_bucketed_pairs`), which prunes the
  O(n²) candidate space to per-bucket blocks.
- :func:`lsh_bucketed_pairs` — random-hyperplane (SimHash) LSH: sign-bit
  signatures from deterministic hyperplanes, banded into buckets; candidate
  pairs are generated per bucket and *verified* with the exact cosine, so
  output ⊆ the brute-force pairs (approximate recall, exact precision).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine_pudf
from ..tables import fan_out, local_df, persist_replacing
from .dedup import INCR_BATCH_MOD, _contract_counts, _recall_ok

Tables = dict[str, DataFrame]

QUERY_VEC_ID = 0
TOPK = 10
NEAR_DUP_THRESHOLD = 0.95


def _with_cosine_to_query(t: Tables) -> DataFrame:
    # fan_out: spread the one-file local input across cores so the Arrow
    # scoring batches parallelize (no-op on real clusters)
    emb = fan_out(
        t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))
    )
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec").alias("qvec")
    )
    # 1-row dimension → broadcast cross join, no shuffle of the big side;
    # scoring via the BLAS pandas UDF (equality to the expression form
    # pinned in tests)
    return emb.crossJoin(F.broadcast(qvec)).select(
        "vec_id",
        F.round(cosine_pudf(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"),
    )


def cosine_topk(t: Tables) -> DataFrame:
    """Brute-force cosine top-k (excluding the query vector itself)."""
    return (
        _with_cosine_to_query(t)
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


FILTER_LABEL = 3


def quality_filtered_ann(t: Tables) -> DataFrame:
    """Cross-table filtered vector search: top-k cosine among vectors
    whose DOCUMENT passes the Gopher quality gate (vec_id == doc_id in
    this dataset) — the retrieval shape where the predicate lives in a
    different table than the vectors, which is how real corpora store
    quality metadata.

    Pre-filter order: the keep-set semi-join prunes the embeddings scan
    BEFORE any distance math (at sf the keep set broadcasts; at 100 TB
    both sides are doc-keyed and co-partitionable, or the gate column is
    denormalized onto the vector table at write time — either way the
    scored set is the filtered one). Scoring is the BLAS pandas UDF
    against the broadcast 1-row query vector; top-k is a
    TakeOrderedAndProject.
    """
    from .sampling import gopher_keep_col

    keep = (
        t["documents"].where(gopher_keep_col()).select(F.col("doc_id").alias("vec_id"))
    )
    emb = t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec").alias("qvec")
    )
    return (
        fan_out(
            emb.join(keep, "vec_id", "left_semi").where(
                F.col("vec_id") != QUERY_VEC_ID
            )
        )
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(cosine_pudf(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOPK)
    )


#: cosine floor for range search (the top pairwise cosines to the query
#: vector in the synthetic corpus sit ≈0.37; 0.25 returns a small
#: multi-row neighborhood at every test SF)
RANGE_THRESHOLD = 0.25


def cosine_range_search(t: Tables) -> DataFrame:
    """Radius search: every vector with cosine ≥ ``RANGE_THRESHOLD`` to
    the query vector — the dual of top-k (fixed quality floor, unbounded
    k), used for "collect ALL near-duplicates of this item" rather than
    "the best k".

    Same single-scan shape as :func:`cosine_topk` (broadcast 1-row query,
    Arrow-batched BLAS scoring) but the reducer is a plain filter: no
    ordering, no heap, so the output needs no global structure at all —
    at 100 TB this is embarrassingly parallel end-to-end. The threshold
    compares the 6-dp ROUNDED score (same value both engines emit), so
    the boundary is exact, not a float race.

    Plan note: the score UDF is marked nondeterministic HERE (it is in
    fact pure) purely as an optimizer fence — otherwise Catalyst pushes
    the threshold predicate into the broadcast join condition, then
    ``ExtractPythonUDFFromJoinCondition`` hoists it back out as a SECOND
    ``ArrowEvalPython`` node and every vector is scored twice. With the
    fence the plan keeps one scoring pass and filters above it.
    """
    emb = fan_out(
        t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))
    )
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec").alias("qvec")
    )
    cos_once = cosine_pudf.asNondeterministic()
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(cos_once(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= RANGE_THRESHOLD)
    )


def filtered_cosine_topk(t: Tables) -> DataFrame:
    """Metadata-filtered vector search: top-k among rows matching a
    predicate (label = FILTER_LABEL), ranked by cosine to the query vector.

    The filtered-ANN shape every retrieval stack needs (filter + rank in
    one plan). Pre-filtering is the right order at scale: the predicate
    prunes before any distance math, reaches the parquet scan as a pushed
    filter, and the top-k is a TakeOrderedAndProject. With an IVF/LSH
    index the same predicate gates the candidate set instead.
    """
    emb = t["embeddings"].select(
        "vec_id", "label", as_double("embedding").alias("vec")
    )
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec").alias("qvec")
    )
    return (
        fan_out(
            emb.where(
                (F.col("label") == FILTER_LABEL) & (F.col("vec_id") != QUERY_VEC_ID)
            )
        )
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "label",
            F.round(cosine_pudf(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


def _block_pair_groups(emb: DataFrame, score_fn, schema: str) -> DataFrame:
    """Shared harness for the distributed blocked-matmul operators.

    Rows are hash-assigned to NB blocks; every unordered block pair
    (i ≤ j) becomes ONE groupBy key carrying block i's rows tagged
    ``side=0`` and block j's tagged ``side=1`` (each row is replicated to
    the ~NB/2 pairs it participates in). ``score_fn(key, a_pdf, b_pdf)``
    sees the two blocks as separate frames. A single tagged union +
    grouped ``applyInPandas`` rather than ``cogroup``: identical shuffle
    volume, but it avoids the SELF-cogroup (both sides the same
    embeddings relation), where Spark 4.1's relation deduplication +
    column pruning drop the right side's payload columns whenever the
    operator's output is only partially consumed (``.count()``, a
    projected join — observed empirically; pinned in
    tests/test_operators.py::test_blocked_matmul_partial_consumption).
    Cogroups over two DISTINCT relations (operators/asof.py) are not
    affected. Grouped-map prunes correctly.
    Executor memory per task is two blocks (n/NB × d doubles),
    independent of total table size; NB grows with the cluster so
    block-pair tasks saturate it.
    """
    spark = emb.sparkSession
    # NB(NB+1)/2 block-pair tasks ≥ cluster parallelism
    nb = max(2, math.isqrt(2 * spark.sparkContext.defaultParallelism) + 1)
    blk = F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int")
    others = F.sequence(F.lit(0), F.lit(nb - 1))
    left = (
        emb.withColumn("bi", blk)
        .withColumn("bj", F.explode(others))
        .where(F.col("bi") <= F.col("bj"))
        .withColumn("side", F.lit(0))
    )
    right = (
        emb.withColumn("bj", blk)
        .withColumn("bi", F.explode(others))
        .where(F.col("bi") <= F.col("bj"))
        .withColumn("side", F.lit(1))
    )

    def split_and_score(key, pdf):
        a_pdf = pdf[pdf["side"] == 0]
        b_pdf = pdf[pdf["side"] == 1]
        return score_fn(key[:2], a_pdf, b_pdf)

    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(split_and_score, schema=schema)
    )


def _all_pairs_at(t: Tables, threshold: float) -> DataFrame:
    """All embedding pairs with cosine ≥ ``threshold`` — the blocked-matmul
    engine behind :func:`embedding_near_dup_pairs` and the SemDeDup
    contract check."""
    emb = t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))

    def score_block_pair(key, a_pdf, b_pdf):
        import numpy as np
        import pandas as pd

        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        a_ids = a_pdf["vec_id"].to_numpy()
        b_ids = b_pdf["vec_id"].to_numpy()
        a_mat = np.array(a_pdf["vec"].tolist(), dtype="float64")
        b_mat = np.array(b_pdf["vec"].tolist(), dtype="float64")
        # dot / (|a|·|b|) in the ORACLE's operation order (not
        # normalize-then-dot, whose different per-element rounding raises
        # the boundary-flip odds). Residual BLAS blocked-summation vs
        # DuckDB sequential list_dot_product reorderings can still flip a
        # 6-dp rounded score sitting exactly at the threshold — ~1e-7 per
        # pair, the same accepted risk documented for udtf._geomean.
        norms = np.outer(
            np.linalg.norm(a_mat, axis=1), np.linalg.norm(b_mat, axis=1)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((a_mat @ b_mat.T) / norms, 6)
        mask = sims >= threshold
        if key[0] == key[1]:
            # diagonal block: both sides are the same rows — a strict
            # ordering keeps each unordered pair once
            mask &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(mask)
        # off-diagonal: every unordered pair appears under exactly one
        # (i, j) key, but either element may carry the smaller id —
        # normalize to (min, max)
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[ai, bi]})

    return _block_pair_groups(
        emb, score_block_pair, "id_a bigint, id_b bigint, cos_sim double"
    )


def embedding_near_dup_pairs(t: Tables) -> DataFrame:
    """All embedding pairs with cosine ≥ 0.95 — distributed blocked matmul.

    O(n²·d) work belongs in a matrix engine, not per-pair expression eval —
    but the matrix must never land on the driver: see
    :func:`_block_pair_groups` for the block-pair harness. Inside each
    block pair a single numpy `A @ B.T` scores the pair and only pairs
    above threshold are emitted. At true 100 TB scale all-pairs is
    replaced by :func:`lsh_bucketed_pairs`; this is the exact baseline.
    """
    return _all_pairs_at(t, NEAR_DUP_THRESHOLD)


KNN_K = 5


def knn_join_topk(t: Tables) -> DataFrame:
    """kNN self-join: each vector's top-K cosine neighbors (excluding
    itself) — the retrieval-evaluation / cluster-assignment primitive.

    Same distributed blocked-matmul harness as
    :func:`embedding_near_dup_pairs`, but each block pair emits BOTH
    directions' per-row block-local top-K candidates via ``np.partition``
    (O(width) per row, no full sort), WITH every candidate tied at the
    k-th score included — so the block-local cut can never drop a tied
    candidate that the global window's deterministic (score DESC, nbr_id)
    tie-break would have chosen. A row's global top-K is then found among
    its ~NB·K candidates by one groupBy window. Shuffle volume after the
    matmul stage is O(n·NB·K + ties), independent of pairwise count;
    executor memory stays two blocks per task.
    """
    import numpy as np

    emb = t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))

    def block_topk(key, a_pdf, b_pdf):
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"vec_id": [], "nbr_id": [], "cos_sim": []})
        a_ids = a_pdf["vec_id"].to_numpy()
        b_ids = b_pdf["vec_id"].to_numpy()
        a_mat = np.array(a_pdf["vec"].tolist(), dtype="float64")
        b_mat = np.array(b_pdf["vec"].tolist(), dtype="float64")
        # dot / (|a|·|b|) in the oracle's operation order; residual BLAS
        # summation reorder risk at a rounded rank boundary is the same
        # accepted ~1e-7 class documented in embedding_near_dup_pairs
        norms = np.outer(
            np.linalg.norm(a_mat, axis=1), np.linalg.norm(b_mat, axis=1)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((a_mat @ b_mat.T) / norms, 6)
        sims[~np.isfinite(sims)] = -np.inf  # zero-norm rows can't rank
        if key[0] == key[1]:
            sims[a_ids[:, None] == b_ids[None, :]] = -np.inf  # mask self
            views = [(a_ids, b_ids, sims)]
        else:
            # off-diagonal: serve a-rows (neighbors in block j) AND b-rows
            # (neighbors in block i) from the one matmul
            views = [(a_ids, b_ids, sims), (b_ids, a_ids, sims.T)]
        frames = []
        for q_ids, c_ids, m in views:
            k = min(KNN_K, m.shape[1])
            # kth largest per row in O(width); emit EVERYTHING >= it so
            # score ties at the cut survive to the global window, whose
            # (score DESC, nbr_id) ordering resolves them deterministically
            kth = -np.partition(-m, k - 1, axis=1)[:, k - 1]
            rows, cols = np.nonzero((m >= kth[:, None]) & np.isfinite(m))
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": q_ids[rows],
                        "nbr_id": c_ids[cols],
                        "cos_sim": m[rows, cols],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    cands = _block_pair_groups(
        emb, block_topk, "vec_id bigint, nbr_id bigint, cos_sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id")
    )
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KNN_K)
        .select("vec_id", "nbr_id", "cos_sim", F.col("rk").cast("int").alias("rk"))
    )


#: negatives reported per anchor by hard_negative_mining
HARDNEG_K = 5


def hard_negative_mining(t: Tables) -> DataFrame:
    """Contrastive-training hard negatives: for EVERY vector, the
    ``HARDNEG_K`` most-similar vectors with a DIFFERENT label — the
    standard mining step for embedding/reranker training data (the
    near-misses the model must learn to push apart; easy random negatives
    teach nothing).

    Same distributed blocked-matmul harness and budget as
    :func:`knn_join_topk` (two blocks per task, candidates
    O(n·NB·K + ties) after the matmul stage) — the only change is the
    mask: SAME-label pairs are excluded instead of just self, so the
    block-local top-K cut is taken over valid negatives only. Ties at the
    k-th block-local score are all emitted and the global per-anchor
    window resolves them with the deterministic (score DESC, nbr_id)
    order, exactly as knn_join_topk does.

    STATUS (VERDICT r9 §2): this is the EXACT, campaign-priced baseline
    (α≈0.85 all-pairs matmul). The 100 TB production path is
    :func:`hard_negative_mining_ann` (IVF-routed candidates, linear);
    this op stays registered as its hash-green exact companion and the
    recall denominator of :func:`hardneg_recall_check`.

    Output: ``vec_id``, ``label``, ``nbr_id``, ``nbr_label``,
    ``cos_sim`` (6 dp), ``rk`` (1..K).
    """
    import numpy as np

    emb = t["embeddings"].select(
        "vec_id", as_double("embedding").alias("vec"), "label"
    )

    def block_topk(key, a_pdf, b_pdf):
        cols = ["vec_id", "label", "nbr_id", "nbr_label", "cos_sim"]
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({c: [] for c in cols})
        a_ids = a_pdf["vec_id"].to_numpy()
        b_ids = b_pdf["vec_id"].to_numpy()
        a_lab = a_pdf["label"].to_numpy()
        b_lab = b_pdf["label"].to_numpy()
        a_mat = np.array(a_pdf["vec"].tolist(), dtype="float64")
        b_mat = np.array(b_pdf["vec"].tolist(), dtype="float64")
        norms = np.outer(
            np.linalg.norm(a_mat, axis=1), np.linalg.norm(b_mat, axis=1)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((a_mat @ b_mat.T) / norms, 6)
        sims[~np.isfinite(sims)] = -np.inf
        sims[a_lab[:, None] == b_lab[None, :]] = -np.inf  # mask same label
        if key[0] == key[1]:
            views = [(a_ids, a_lab, b_ids, b_lab, sims)]
        else:
            views = [
                (a_ids, a_lab, b_ids, b_lab, sims),
                (b_ids, b_lab, a_ids, a_lab, sims.T),
            ]
        frames = []
        for q_ids, q_lab, c_ids, c_lab, m in views:
            k = min(HARDNEG_K, m.shape[1])
            kth = -np.partition(-m, k - 1, axis=1)[:, k - 1]
            rows, cc = np.nonzero((m >= kth[:, None]) & np.isfinite(m))
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": q_ids[rows],
                        "label": q_lab[rows],
                        "nbr_id": c_ids[cc],
                        "nbr_label": c_lab[cc],
                        "cos_sim": m[rows, cc],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    cands = _block_pair_groups(
        emb,
        block_topk,
        "vec_id bigint, label int, nbr_id bigint, nbr_label int,"
        " cos_sim double",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id")
    )
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HARDNEG_K)
        .select(
            "vec_id",
            "label",
            "nbr_id",
            "nbr_label",
            "cos_sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def hard_negative_mining_ann(t: Tables) -> DataFrame:
    """PRODUCTION hard-negative mining (VERDICT r9 §2): per-anchor top
    ``HARDNEG_K`` different-label near-misses from the IVF-routed
    candidate source (:func:`_ann_topk_candidates` with the same-label
    mask applied INSIDE each quantizer cell) — same output schema as
    the exact :func:`hard_negative_mining`, linear candidate cost
    instead of the all-pairs matmul. Rows-only;
    :func:`hardneg_recall_check` is the hash-green companion. Note the
    mined negatives are by construction near the anchor in embedding
    space, which is exactly the region IVF routing covers best — the
    recall tail is anchors whose hardest negative sits across an
    unprobed cell boundary."""
    return _ann_topk_candidates(t, HARDNEG_K, with_label=True)


def hardneg_recall_check(t: Tables) -> DataFrame:
    """DuckDB-checkable contract for :func:`hard_negative_mining_ann`
    (rows-only): one row with the exact hard-negative row count
    (SQL-recomputable) and a recall flag — ≥ HARDNEG_RECALL_PCT% of
    exact (vec_id, nbr_id) memberships found by the IVF route."""
    return _contract_counts(
        hard_negative_mining(t), hard_negative_mining_ann(t), ["vec_id", "nbr_id"]
    ).select("n_exact", _recall_ok(HARDNEG_RECALL_PCT).alias("recall_ok"))


def _margin_pairs_from(hardnegs: DataFrame) -> DataFrame:
    """Margin-criterion scoring shared by the exact and ANN mining ops:
    given a hard-negative frame (each anchor's top-K most-similar
    DIFFERENT-label neighbors with 6-dp cosines), score every candidate
    pair with the RATIO margin of Artetxe & Schwenk (2019, public) —
    cos(x, y) normalized by the mean of both sides' top-K neighborhoods
    — and keep each anchor's best pair. Margin beats absolute cosine for
    alignment mining because hubs (vectors globally similar to
    everything) inflate raw cosine but inflate their own neighborhood
    mean identically, so the ratio cancels the hubness.

    Cross-engine exactness: per-pair cosines become integer micros
    FIRST (``floor(cos·1e6 + 0.5)`` — identical IEEE doubles in both
    engines), neighborhood sums/counts are exact int64, and the one
    float division is a single fixed expression over those integers, so
    the rounded margin hash-matches. Cost: two joins of the K·n
    candidate frame against the n-row per-anchor sums — candidate-
    proportional, nothing corpus-quadratic beyond the upstream source.
    """
    cm = hardnegs.select(
        "vec_id",
        "label",
        "nbr_id",
        "nbr_label",
        F.expr(
            "cast(floor(cos_sim * 1000000 + 0.5) as bigint)"
        ).alias("cos_micro"),
    )
    sums = cm.groupBy("vec_id").agg(
        F.sum("cos_micro").alias("sumk"), F.count("*").alias("k")
    )
    sx = sums.select(
        F.col("vec_id"), F.col("sumk").alias("sum_x"), F.col("k").alias("k_x")
    )
    sy = sums.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("sumk").alias("sum_y"),
        F.col("k").alias("k_y"),
    )
    denom = F.col("sum_x") * F.col("k_y") + F.col("sum_y") * F.col("k_x")
    margin = F.round(
        F.lit(2.0)
        * F.col("cos_micro")
        * F.col("k_x")
        * F.col("k_y")
        / denom.cast("double"),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("margin").desc(), F.col("nbr_id")
    )
    return (
        cm.join(sx, "vec_id")
        .join(sy, "nbr_id")
        .where(denom != 0)
        .select(
            "vec_id",
            "label",
            "nbr_id",
            "nbr_label",
            "cos_micro",
            margin.alias("margin"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def bitext_margin_pairs(t: Tables) -> DataFrame:
    """Cross-label pair mining with the margin criterion (Artetxe &
    Schwenk 2019, the standard bitext/parallel-corpus mining score;
    labels stand in for languages on this dataset): each anchor's best
    DIFFERENT-label partner by ratio margin over its top-``HARDNEG_K``
    cross-label neighborhood. This is the aligned-pair miner an LLM
    data pipeline runs over multilingual embeddings to harvest
    translation pairs; thresholding ``margin`` (≥ ~1.06 in the paper)
    selects the mined corpus.

    EXACT baseline: candidates come from :func:`hard_negative_mining`
    (all-pairs matmul, campaign-priced); the production twin is
    :func:`bitext_margin_pairs_ann` over the IVF route. Integer-micro
    scoring makes the DuckDB oracle hash-match (see
    :func:`_margin_pairs_from`)."""
    return _margin_pairs_from(hard_negative_mining(t))


def bitext_margin_pairs_ann(t: Tables) -> DataFrame:
    """PRODUCTION margin mining: the same margin criterion scored over
    :func:`hard_negative_mining_ann`'s IVF-routed cross-label
    neighborhoods — linear candidate cost, the 100 TB path. Rows-only
    (the quantizer isn't SQL-replayable); quality is driver-checked by
    :func:`bitext_ann_agreement_check` (best-pair agreement vs the
    exact miner) on top of the candidate source's own
    :func:`hardneg_recall_check`."""
    return _margin_pairs_from(hard_negative_mining_ann(t))


#: best-pair agreement bound for the ANN margin miner (percent) —
#: measured 100% at sf0.001/0.01/0.1, floored at 90 (VERDICT r10 §5)
BITEXT_AGREE_PCT = 90


def bitext_ann_agreement_check(t: Tables) -> DataFrame:
    """DuckDB-checkable contract for :func:`bitext_margin_pairs_ann`
    (rows-only): one row with the exact miner's row count
    (SQL-recomputable) and an agreement flag — ≥ BITEXT_AGREE_PCT% of
    anchors pick the SAME best partner as the exact miner."""
    return _contract_counts(
        bitext_margin_pairs(t), bitext_margin_pairs_ann(t), ["vec_id", "nbr_id"]
    ).select("n_exact", _recall_ok(BITEXT_AGREE_PCT).alias("agree_ok"))


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (no RNG dependency:
    digits of a fixed LCG so results are reproducible everywhere)."""
    planes = []
    state = 1234567
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append((state / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


#: query-time LSH: signature width of the REGISTERED contract (kept
#: constant so the DuckDB oracle can inline the hyperplanes as literals;
#: production sizes it with lsh_tuning_for — the knob is the n_bits
#: parameter). 2^5 = 32 buckets; multi-probe covers the exact bucket plus
#: every 1-bit flip, so ~(bits+1)/2^bits of the corpus is re-ranked.
LSH_QUERY_BITS = 5

#: Embedding width the query-LSH oracle's hyperplanes are generated for
#: (the testdata table contract, TESTDATA.md). The Spark path asserts
#: this against the actual query vector so a corpus with a different
#: width fails loudly instead of silently diverging from the oracle.
LSH_QUERY_DIM = 64


def lsh_query_topk(t: Tables, n_bits: int = LSH_QUERY_BITS) -> DataFrame:
    """Query-time LSH ANN: hash every vector to a ``n_bits`` hyperplane
    signature ONCE, probe the query's bucket plus all 1-bit flips
    (multi-probe), exact-cosine re-rank the candidates, return the top
    ``TOPK``.

    This is the query-serving half of the LSH ladder
    (:func:`lsh_bucketed_pairs` is the pair-mining half) — and the one
    LSH operator with a FULL hash-match oracle: signatures here are
    computed with JVM ``aggregate`` folds over the float64-widened
    embedding (pinned left-to-right summation), not BLAS, so the sign of
    every plane dot — and therefore every bucket id, candidate set, and
    re-ranked cosine — is bit-identical in Spark, the driver-side query
    hash, and the DuckDB oracle's ``list_reduce`` twin. The plane
    matrix is the module's deterministic LCG, inlined into the oracle as
    literals (exact decimal round-trip).

    Scale: one map-only signature projection + a bucket IN-filter (at
    production widths, ``n_bits ~ log2(n/occupancy)`` via
    :func:`lsh_tuning_for` keeps probed candidates ≈ (bits+1)·occupancy,
    corpus-independent; the registered contract pins bits for oracle
    staticness and documents that), then ``TakeOrdered`` on the
    candidates. The query vector/bucket is the usual 1-row driver fetch.
    """
    import math as _math

    emb = t["embeddings"].select(
        "vec_id", as_double("embedding").alias("e")
    )
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).collect()[0]
    qvec = list(q["e"])
    if len(qvec) != LSH_QUERY_DIM:
        raise ValueError(
            f"lsh_query_topk: embedding dim {len(qvec)} != LSH_QUERY_DIM "
            f"{LSH_QUERY_DIM}; the DuckDB oracle's hyperplanes are "
            "generated for LSH_QUERY_DIM — update the constant (and "
            "thereby the oracle) for this corpus."
        )
    planes = _hyperplanes(len(qvec), n_bits)

    def py_dot(a, b):
        acc = 0.0
        for i in range(len(a)):
            acc = acc + a[i] * b[i]
        return acc

    q_norm = _math.sqrt(py_dot(qvec, qvec))
    q_bucket = 0
    for i, pl in enumerate(planes):
        if py_dot(qvec, pl) >= 0.0:
            q_bucket += 1 << i
    probes = [q_bucket] + [q_bucket ^ (1 << i) for i in range(n_bits)]

    def fold_dot(col, vals):
        return F.aggregate(
            F.zip_with(col, F.array(*[F.lit(v) for v in vals]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = None
    for i, pl in enumerate(planes):
        bit = F.when(fold_dot("e", pl) >= 0.0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.withColumn("bucket", bucket)
        .where(F.col("bucket").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
        .select(
            "vec_id",
            (fold_dot("e", qvec) / (norm * F.lit(q_norm))).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOPK)
        .select(
            "vec_id",
            "cos_sim",
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), "vec_id"))
            .cast("int")
            .alias("rk"),
        )
    )


def _lsh_query_oracle_sql(n_bits: int) -> str:
    """DuckDB twin of :func:`lsh_query_topk`: hyperplanes inlined as
    literal DOUBLE[] (repr round-trips exactly), the same left-fold dot
    for signatures and cosines, bucket probes unrolled with xor."""
    # Planes are generated for LSH_QUERY_DIM — the Spark path asserts the
    # live query vector has exactly this width, so a corpus with a
    # different embedding width raises there instead of silently
    # comparing against a wrong-dim oracle.
    planes = _hyperplanes(LSH_QUERY_DIM, n_bits)

    def fold(a, b):
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, len({a})),"
            f" i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
        )

    lits = [
        "([" + ", ".join(repr(v) for v in pl) + "]::DOUBLE[])" for pl in planes
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN {fold('e', lit)} >= 0.0 THEN {1 << i} ELSE 0 END)"
        for i, lit in enumerate(lits)
    )
    probe_cond = " OR ".join(
        ["c.bucket = q.bucket"]
        + [f"c.bucket = xor(q.bucket, {1 << i})" for i in range(n_bits)]
    )
    return f"""
        WITH n AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ),
        sig AS MATERIALIZED (
          SELECT vec_id, e,
                 sqrt({fold('e', 'e')}) AS nr,
                 {bucket_expr} AS bucket
          FROM n
        ),
        q AS (SELECT e, nr, bucket FROM sig WHERE vec_id = {QUERY_VEC_ID}),
        cand AS (
          SELECT c.vec_id,
                 {fold('c.e', 'q.e')} / (c.nr * q.nr) AS cos_sim
          FROM sig c, q
          WHERE ({probe_cond}) AND c.vec_id != {QUERY_VEC_ID}
        )
        SELECT vec_id, cos_sim,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                    AS INTEGER) AS rk
        FROM cand
        ORDER BY cos_sim DESC, vec_id
        LIMIT {TOPK}
    """


#: MMR: relevance-pool size, picks, and the relevance/diversity trade-off
MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7
#: the diversity weight — computed ONCE so Spark, the driver greedy, and
#: the oracle all use the identical double (1 − 0.7 is NOT the literal
#: 0.3 in binary; repr() round-trips the exact value into the SQL)
MMR_DIV_WEIGHT = 1.0 - MMR_LAMBDA


def mmr_diverse_topk(t: Tables) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the ``MMR_POOL`` most
    query-similar vectors, greedily pick ``MMR_K`` that trade relevance
    against redundancy — ``score = λ·cos(q,d) − (1−λ)·max_{s∈S}
    cos(d,s)`` — the standard diverse-retrieval/context-selection
    operator (Carbonell & Goldstein 1998).

    Placement follows the engine's tiny-fixpoint rule (kcenter, BPE, MM
    loops): the CORPUS-sized work is one distributed exact-cosine
    ``TakeOrdered`` (pinned left-fold dots, so the pool and every
    downstream number is bit-identical across engines); the greedy
    O(K·POOL) selection runs on the ≤``MMR_POOL`` collected rows —
    corpus-independent driver state. Every pairwise cosine uses the same
    left-fold; ties break to the smaller ``vec_id``; per-pick floors are
    taken at micro scale so the emitted ints are exact.

    Output (``MMR_K`` rows): ``mmr_rank``, ``vec_id``, ``rel_micro``,
    ``maxsim_micro`` (redundancy vs the already-picked set at pick
    time; 0 for the first pick), ``score_micro``.
    """
    import math as _math

    spark = t["embeddings"].sparkSession
    emb = t["embeddings"].select("vec_id", as_double("embedding").alias("e"))
    qrow = emb.where(F.col("vec_id") == QUERY_VEC_ID).collect()[0]
    qvec = list(qrow["e"])

    def py_dot(a, b):
        acc = 0.0
        for i in range(len(a)):
            acc = acc + a[i] * b[i]
        return acc

    q_norm = _math.sqrt(py_dot(qvec, qvec))

    def fold_dot(col, vals):
        return F.aggregate(
            F.zip_with(col, F.array(*[F.lit(v) for v in vals]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norm = F.sqrt(
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pool_rows = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "e",
            norm.alias("nr"),
            (fold_dot("e", qvec) / (norm * F.lit(q_norm))).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .collect()
    )
    cands = {
        r["vec_id"]: (list(r["e"]), r["nr"], r["rel"]) for r in pool_rows
    }
    maxsim = {vid: 0.0 for vid in cands}
    picks = []
    for rank in range(1, min(MMR_K, len(cands)) + 1):
        best = max(
            cands,
            key=lambda v: (
                MMR_LAMBDA * cands[v][2] - MMR_DIV_WEIGHT * maxsim[v],
                -v,
            ),
        )
        e_b, nr_b, rel_b = cands.pop(best)
        ms_b = maxsim.pop(best)
        score = MMR_LAMBDA * rel_b - MMR_DIV_WEIGHT * ms_b
        picks.append(
            (
                rank,
                int(best),
                _math.floor(1000000 * rel_b),
                _math.floor(1000000 * ms_b),
                _math.floor(1000000 * score),
            )
        )
        for vid, (e_v, nr_v, _rel) in cands.items():
            s = py_dot(e_v, e_b) / (nr_v * nr_b)
            if s > maxsim[vid]:
                maxsim[vid] = s
    return local_df(
        spark,
        picks,
        "mmr_rank int, vec_id long, rel_micro long,"
        " maxsim_micro long, score_micro long",
    )


def _mmr_oracle_sql(k: int) -> str:
    """DuckDB twin of :func:`mmr_diverse_topk`: ``k`` unrolled greedy
    picks over the materialized relevance pool, each round folding the
    newly-picked vector's cosine into the running max-sim via CASE, with
    the identical left-fold dot and exact double weights."""

    def fold(a, b):
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, len({a})),"
            f" i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
        )

    lam, dw = repr(MMR_LAMBDA), repr(MMR_DIV_WEIGHT)
    parts = [
        f"""
        WITH n AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 sqrt({fold("CAST(embedding AS DOUBLE[])",
                            "CAST(embedding AS DOUBLE[])")}) AS nr
          FROM embeddings
        ),
        q AS (SELECT e, nr FROM n WHERE vec_id = {QUERY_VEC_ID}),
        m0 AS MATERIALIZED (
          SELECT c.vec_id, c.e, c.nr,
                 {fold('c.e', 'q.e')} / (c.nr * q.nr) AS rel,
                 CAST(0.0 AS DOUBLE) AS ms
          FROM n c, q WHERE c.vec_id != {QUERY_VEC_ID}
          ORDER BY rel DESC, c.vec_id LIMIT {MMR_POOL}
        )"""
    ]
    for j in range(1, k + 1):
        parts.append(
            f"""
        , s{j} AS MATERIALIZED (
          SELECT vec_id, e, nr, rel, ms,
                 {lam} * rel - {dw} * ms AS score
          FROM m{j - 1}
          ORDER BY {lam} * rel - {dw} * ms DESC, vec_id LIMIT 1
        )"""
        )
        if j < k:
            parts.append(
                f"""
        , m{j} AS MATERIALIZED (
          SELECT p.vec_id, p.e, p.nr, p.rel,
                 CASE WHEN {fold('p.e', 'c.e')} / (p.nr * c.nr) > p.ms
                      THEN {fold('p.e', 'c.e')} / (p.nr * c.nr)
                      ELSE p.ms END AS ms
          FROM m{j - 1} p, s{j} c WHERE p.vec_id != c.vec_id
        )"""
            )
    pick_union = "\n        UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS mmr_rank, vec_id,"
        f" CAST(floor(1000000 * rel) AS BIGINT) AS rel_micro,"
        f" CAST(floor(1000000 * ms) AS BIGINT) AS maxsim_micro,"
        f" CAST(floor(1000000 * score) AS BIGINT) AS score_micro"
        f" FROM s{j}"
        for j in range(1, k + 1)
    )
    parts.append(f"\n        {pick_union}")
    return "".join(parts)


#: recall bounds the driver-checked ANN-kNN claims assert (percent):
#: multi-probe IVF routing misses a true neighbor only when query and
#: neighbor share no probed branch/cell. Measured recall is 100% at
#: sf0.001/0.01/0.1, so the floors sit at 90 (VERDICT r10 §5: a 60
#: floor would have let a silent regression to 65% — a third of
#: duplicate clusters missed at 100 TB — keep every check green; 90
#: still leaves margin for benign quantizer-seed drift).
ANN_KNN_RECALL_PCT = 90
KNN_EDGE_RECALL_PCT = 90
HARDNEG_RECALL_PCT = 90

#: band for the ANN/exact mutual-edge COUNT ratio (percent, ADVICE r10):
#: recall alone cannot see spurious-edge inflation; measured ratio is
#: 100% at all three SFs.
KNN_EDGE_RATIO_LO_PCT = 90
KNN_EDGE_RATIO_HI_PCT = 110


def _emb_frame(t: Tables) -> DataFrame:
    """The (vec_id, vec double-array) working frame every vector-index
    op scans, fan_out-spread and PERSISTED under one slot (r11).

    Why: the index ops make SEVERAL full passes over this exact frame —
    quantizer sample / sizing count / query-vector probe / assignment
    scan / shortlist re-rank (pq_topk made five) — and unpersisted each
    pass was its own parquet scan + cast + fan_out shuffle. One slot
    (``persist_replacing``) bounds the footprint at a single cached copy,
    shared by every op that builds the identical plan (the k-means slot
    reuses it through ``sameSemantics``), and the bench's per-iteration
    ``clearCache`` keeps timings honest. Guide §5: persist exactly the
    frame that is re-read, nothing else."""
    from ..tables import persist_replacing

    return persist_replacing(
        fan_out(
            t["embeddings"].select(
                "vec_id", as_double("embedding").alias("vec")
            )
        ),
        "similarity.kmeans_emb",
    )


def _fine_cells(mat, norms) -> list:
    """Fine level of the two-level quantizer, run inside one coarse
    branch task: local spherical k-means over the branch's rows (the
    caller sorts them by vec_id, so init = the lowest ids and float means
    don't depend on shuffle arrival order), then top-``SEMDEDUP_PROBES``
    multi-probe membership. Returns each fine cell's row indices.

    Sized on the REPLICATED membership (each row lands in P fine cells),
    so realized cell size ≈ TARGET; skipped — one cell holding the whole
    branch — when it cannot prune (k_fine ≤ P would put every member in
    every cell: pure P× duplication of the branch all-pairs, measured 3×
    the work for zero pruning). Fewer Lloyd rounds than the coarse
    level: fine cells only need to be locality-plausible (multi-probe
    covers the boundaries), and each round costs n_b·k_fine·d — at
    larger branches that rivals the per-cell work itself. Fine codebooks
    are built, used and dropped here: they never touch the driver or a
    broadcast."""
    import numpy as np

    n_b = len(mat)
    k_fine = max(1, n_b * SEMDEDUP_PROBES // SEMDEDUP_TARGET_CLUSTER)
    if k_fine <= SEMDEDUP_PROBES:
        return [np.arange(n_b)]
    unit = mat / norms[:, None]
    c = unit[:k_fine].copy()
    for _ in range(SEMDEDUP_FINE_ITERS):
        a = (unit @ c.T).argmax(axis=1)
        for j in np.unique(a):
            v = mat[a == j].sum(axis=0)
            nv = np.linalg.norm(v)
            if nv > 0:
                c[j] = v / nv
    # top-P via argpartition (O(k_fine) per row, not a full sort)
    top = np.argpartition(-(unit @ c.T), SEMDEDUP_PROBES - 1, axis=1)
    top = top[:, :SEMDEDUP_PROBES]
    return [np.where((top == j).any(axis=1))[0] for j in range(k_fine)]


def _coarse_branches(corpus: DataFrame, route, cells_fn, schema: str) -> DataFrame:
    """Coarse level of the two-level quantizer plus the per-branch task
    every semantic ANN operator runs.

    Sizing: k_total = max(SEMDEDUP_K, n/TARGET) and k_coarse = ⌈√k_total⌉
    (floored at SEMDEDUP_COARSE_MIN). ``corpus`` must already be
    persisted in the k-means slot (r11): this sizing count is the first
    of 4+ passes over it (k-means init, every Lloyd round, the final
    assignment). :func:`_spherical_kmeans` trains the routing centroids;
    ``route(assign, corpus)`` builds the (vec_id, cluster, vec, …)
    membership frame; each branch task sorts its rows by vec_id, splits
    them with :func:`_fine_cells` and returns ``cells_fn(pdf, ids, mat,
    norms, cells)``.

    Exchange width is pinned (r12): AQE's byte-based partition
    coalescing (64 MB advisory) sees only the tiny candidate BYTES and
    serializes the CPU-per-row numpy branch work into one task
    (measured: the whole branch top-k ran as a single 630 ms task at
    sf0.1 while 31 cores idled). ~3 partitions per coarse cell (hash
    spread over few distinct keys, guide §2.5) bounded by the session
    shuffle width — scale-adaptive through k_coarse ∝ √(n/TARGET), no
    constant tuned to the local core count."""
    import numpy as np

    k_total = max(SEMDEDUP_K, int(corpus.count()) // SEMDEDUP_TARGET_CLUSTER)
    k_coarse = max(SEMDEDUP_COARSE_MIN, math.isqrt(k_total - 1) + 1)
    _, assign, corpus = _spherical_kmeans(corpus, k_coarse, SEMDEDUP_ITERS)
    width = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )

    def branch(pdf):
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        mat = np.array(pdf["vec"].tolist(), dtype="float64")
        norms = np.linalg.norm(mat, axis=1)
        ids = pdf["vec_id"].to_numpy()
        return cells_fn(pdf, ids, mat, norms, _fine_cells(mat, norms))

    return (
        route(assign, corpus)
        .repartition(max(2, min(width, 3 * k_coarse)), "cluster")
        .groupBy("cluster")
        .applyInPandas(branch, schema=schema)
    )


def _ann_topk_candidates(t: Tables, k: int, with_label: bool) -> DataFrame:
    """IVF-routed kNN: per-vector top-``k`` neighbors found WITHIN
    quantizer cells only (VERDICT r9 §2) — the candidate source that
    replaces the exact all-pairs blocked matmul in the production graph
    ops. Same two-level spherical quantizer as
    :func:`semantic_dedup_pairs` (:func:`_coarse_branches`), but each
    fine cell emits per-row TOP-K candidates (ties at the k-th score
    included, exactly like :func:`knn_join_topk`'s block-local cut)
    instead of ≥-threshold pairs. The per-anchor global top-k over the
    deduped candidate union is one bounded window.

    Cost: assignment FLOPs ~n·d·√(n/TARGET), per-cell top-k ~n·TARGET·P²
    (linear in n), candidates ≤ n·P·(k + ties) — never all-pairs.
    Scores are exact rounded cosines (precision exact); recall is the
    approximate axis — a neighbor is missed only if anchor and neighbor
    share no probed cell — quantified as driver-checked data by
    :func:`ann_knn_recall_check` / :func:`knn_edge_agreement_check` /
    :func:`hardneg_recall_check`. ``with_label`` masks SAME-label
    candidates inside the cell (the hard-negative shape) instead of
    just self."""
    import numpy as np

    if with_label:
        schema = (
            "vec_id bigint, label int, nbr_id bigint, nbr_label int,"
            " cos_sim double"
        )
        cols = ["vec_id", "label", "nbr_id", "nbr_label", "cos_sim"]
    else:
        schema = "vec_id bigint, nbr_id bigint, cos_sim double"
        cols = ["vec_id", "nbr_id", "cos_sim"]

    def route(assign, emb):
        assigned = assign(emb, probes=SEMDEDUP_PROBES)
        if with_label:
            assigned = assigned.join(
                t["embeddings"].select("vec_id", "label"), "vec_id"
            )
        return assigned

    def topk_in_cells(pdf, ids, mat, norms, cells):
        labs = pdf["label"].to_numpy() if with_label else None
        frames = []
        for idx in cells:
            if len(idx) < 2:
                continue
            sub = mat[idx]
            # same operation order + 6 dp rounding as knn_join_topk's
            # blocked matmul, so overlapping candidates carry the same
            # score up to the documented ~1e-7 BLAS-order class
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.round(
                    (sub @ sub.T) / np.outer(norms[idx], norms[idx]), 6
                )
            sims[~np.isfinite(sims)] = -np.inf
            np.fill_diagonal(sims, -np.inf)
            if with_label:
                cl = labs[idx]
                sims[cl[:, None] == cl[None, :]] = -np.inf
            kk = min(k, sims.shape[1])
            kth = -np.partition(-sims, kk - 1, axis=1)[:, kk - 1]
            rows, cc = np.nonzero(
                (sims >= kth[:, None]) & np.isfinite(sims)
            )
            data = {
                "vec_id": ids[idx[rows]],
                "nbr_id": ids[idx[cc]],
                "cos_sim": sims[rows, cc],
            }
            if with_label:
                data["label"] = labs[idx[rows]]
                data["nbr_label"] = labs[idx[cc]]
            frames.append(pd.DataFrame(data))
        if not frames:
            return pd.DataFrame({c: [] for c in cols})
        return pd.concat(frames, ignore_index=True)[cols]

    cands = _coarse_branches(_emb_frame(t), route, topk_in_cells, schema)
    # multi-probe emits the same candidate from several cells; the
    # grouped max is the deterministic dedup (scores agree up to the
    # BLAS class; max pins the survivor)
    group_cols = [c for c in cols if c != "cos_sim"]
    deduped = cands.groupBy(*group_cols).agg(
        F.max("cos_sim").alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id")
    )
    return (
        deduped.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(*cols, F.col("rk").cast("int").alias("rk"))
    )


def ann_knn_topk(t: Tables) -> DataFrame:
    """PRODUCTION kNN self-join: each vector's top-``KNN_K`` neighbors
    from the IVF-routed candidate source (:func:`_ann_topk_candidates`)
    — same output schema as :func:`knn_join_topk`, which stays
    registered as its campaign-priced exact baseline (α≈0.57 all-pairs
    matmul, VERDICT r9 §2). Rows-only (float k-means isn't
    SQL-replayable); :func:`ann_knn_recall_check` is the hash-green
    companion."""
    return _ann_topk_candidates(t, KNN_K, with_label=False)


def ann_knn_recall_check(t: Tables) -> DataFrame:
    """DuckDB-checkable contract for :func:`ann_knn_topk` (rows-only):
    one row with the exact kNN row count (SQL-recomputable) and a
    recall flag — ≥ ANN_KNN_RECALL_PCT% of exact (vec_id, nbr_id) kNN
    memberships are found by the IVF route."""
    return _contract_counts(
        knn_join_topk(t), ann_knn_topk(t), ["vec_id", "nbr_id"]
    ).select("n_exact", _recall_ok(ANN_KNN_RECALL_PCT).alias("recall_ok"))


def _mutual_edges(knn: DataFrame) -> DataFrame:
    """Undirected mutual-kNN graph (a < b; edge iff each is in the
    other's top-``KNN_K``) of a (vec_id, nbr_id) kNN frame — the
    bounded-degree similarity graph downstream graph analytics run on;
    mutuality is one intersect of the two directions (shuffle of ≤ n·K
    id pairs)."""
    knn = knn.select("vec_id", "nbr_id")
    fwd = knn.where(F.col("vec_id") < F.col("nbr_id")).select(
        F.col("vec_id").alias("a"), F.col("nbr_id").alias("b")
    )
    rev = knn.where(F.col("vec_id") > F.col("nbr_id")).select(
        F.col("nbr_id").alias("a"), F.col("vec_id").alias("b")
    )
    return fwd.intersect(rev)


def _mutual_knn_edges(t: Tables) -> DataFrame:
    """PRODUCTION mutual-edge build (VERDICT r9 §2): from
    :func:`ann_knn_topk`'s IVF-routed candidates, so the corpus-sized
    stage is the linear cell-local top-k, not an all-pairs matmul. Edge
    agreement vs the exact build is driver-checked data
    (:func:`knn_edge_agreement_check`)."""
    return _mutual_edges(ann_knn_topk(t))


def _mutual_knn_edges_exact(t: Tables) -> DataFrame:
    """Exact-kNN mutual edge build — the check-priced baseline
    (:func:`knn_join_topk` all-pairs matmul) the agreement check
    compares the production ANN build against."""
    return _mutual_edges(knn_join_topk(t))


def knn_edge_agreement_check(t: Tables) -> DataFrame:
    """DuckDB-checkable contract for the production ANN edge build: one
    row with the EXACT mutual-kNN edge count (SQL-recomputable via the
    same edge CTE the old triangle oracle used), a recall flag — ≥
    KNN_EDGE_RECALL_PCT% of exact mutual edges are present in the ANN
    edge set — and an edge-COUNT ratio band flag (ADVICE r10: recall
    alone cannot see spurious-edge inflation, and a loose floor lets
    large silent edge loss stay green; the band pins |ANN| within
    [KNN_EDGE_RATIO_LO_PCT, KNN_EDGE_RATIO_HI_PCT]% of |exact|).
    Everything downstream of the edge list (triangles, label
    propagation) is degree-bounded linear either way; this check
    quantifies the one approximation the repoint introduced."""
    n_ann = F.lit(100) * F.col("n_approx")
    return _contract_counts(
        _mutual_knn_edges_exact(t), _mutual_knn_edges(t), ["a", "b"]
    ).select(
        F.col("n_exact").alias("n_exact_edges"),
        _recall_ok(KNN_EDGE_RECALL_PCT).alias("recall_ok"),
        (
            (n_ann >= F.lit(KNN_EDGE_RATIO_LO_PCT) * F.col("n_exact"))
            & (n_ann <= F.lit(KNN_EDGE_RATIO_HI_PCT) * F.col("n_exact"))
        ).alias("edge_ratio_ok"),
    )


def knn_graph_triangles(t: Tables, edge_fn=None) -> DataFrame:
    """Triangle census of the mutual-kNN graph — the local-density /
    hubness diagnostic for an embedding space (high transitivity =
    tight clusters; near-zero = random-like neighborhoods).

    Scale argument: mutual-kNN degree is BOUNDED by ``KNN_K``, so the
    two-hop join explores ≤ n·K² wedges — triangle counting on this
    graph is linear in vertices, no degree-ordering needed (that trick
    exists for skewed general graphs; the a<b<c orientation here already
    makes each triangle count once). The edge build is the IVF-routed
    ANN route (VERDICT r9 §2 — the exact all-pairs build made the whole
    diagnostic α≈0.69 despite the linear downstream), so the
    corpus-sized stage is now the linear cell-local top-k; everything
    after runs on ≤ n·K/2 edges. ANN edges aren't SQL-replayable →
    rows-only driver check, with :func:`knn_edge_agreement_check` as
    the hash-green companion quantifying edge recall.

    Output (one row): ``n_vertices`` (with ≥1 mutual edge),
    ``n_edges``, ``n_wedges`` (Σ C(deg,2)), ``n_triangles``,
    ``transitivity_micro`` = floor(1e6·3T/W) (NULL when no wedges).
    """
    e = persist_replacing((edge_fn or _mutual_knn_edges)(t), "knn_edges")
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("n"))
    )
    dstats = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.expr("n * (n - 1) DIV 2")).alias("n_wedges"),
    )
    ecnt = e.agg(F.count("*").alias("n_edges"))
    tri = (
        e.alias("xy")
        .join(e.alias("yz"), F.col("xy.b") == F.col("yz.a"))
        .join(
            e.alias("xz"),
            (F.col("xz.a") == F.col("xy.a")) & (F.col("xz.b") == F.col("yz.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        dstats.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.floor(
                    F.lit(1000000.0)
                    * F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double")
                ).cast("long"),
            ).alias("transitivity_micro"),
        )
    )


#: label-propagation: seed fraction (vec_id % LPA_SEED_MOD == 0 keeps its
#: true label) and synchronized rounds
LPA_SEED_MOD = 5
LPA_ROUNDS = 2


def label_propagation_knn(t: Tables, edge_fn=None) -> DataFrame:
    """Semi-supervised label propagation over the mutual-kNN graph: 1 in
    ``LPA_SEED_MOD`` vectors keeps its true label (the "labeled pool");
    each synchronized round, every still-unlabeled vector adopts the
    majority label among its ALREADY-labeled neighbors (ties → smaller
    label; no labeled neighbor → stays unlabeled). The weak-labeling /
    label-spreading primitive for stretching a small annotation budget
    across a large corpus.

    Monotone variant (a label, once assigned, is frozen) — that keeps
    every round a pure join + grouped argmax over the bounded-degree
    edge list (≤ n·K rows), ``LPA_ROUNDS`` such passes total, and makes
    the fixpoint deterministic (classic async LPA is famously
    order-dependent; this one is pinned by the (count DESC, label ASC)
    argmax). The edge list is the PRODUCTION ANN build (VERDICT r9 §2 —
    see :func:`knn_graph_triangles`), so the op no longer inherits the
    exact kNN's quadratic candidate stage; rows-only driver check, edge
    recall hash-checked by :func:`knn_edge_agreement_check`.

    Output per vector: ``vec_id``, ``label_out`` (NULL if never
    reached), ``labeled_round`` (0 = seed, r = adopted in round r,
    NULL = unlabeled).
    """
    # ONE edge build feeding both directions (the ANN route's quantizer
    # pass is the dominant cost — building it per direction doubled the
    # query); localCheckpoint materializes the edge list so the union's
    # two branches read rows, not two copies of the pipeline
    e = (edge_fn or _mutual_knn_edges)(t).localCheckpoint()
    und = persist_replacing(
        e.select(F.col("a").alias("v"), F.col("b").alias("nb")).union(
            e.select(F.col("b").alias("v"), F.col("a").alias("nb"))
        ),
        "lpa_edges",
    )
    seed = F.col("vec_id") % LPA_SEED_MOD == 0
    labels = t["embeddings"].select(
        "vec_id",
        F.when(seed, F.col("label")).alias("lab"),
        F.when(seed, F.lit(0)).alias("labeled_round"),
    )
    for rnd in range(1, LPA_ROUNDS + 1):
        known = labels.where(F.col("lab").isNotNull()).select(
            F.col("vec_id").alias("nb"), F.col("lab").alias("nb_lab")
        )
        pick = (
            und.join(known, "nb")
            .groupBy("v", "nb_lab")
            .agg(F.count("*").alias("c"))
            .groupBy("v")
            .agg(
                F.min_by(
                    "nb_lab",
                    F.struct(
                        (-F.col("c")).alias("c"), F.col("nb_lab").alias("l")
                    ),
                ).alias("new_lab")
            )
        )
        labels = (
            labels.join(
                F.broadcast(pick), F.col("vec_id") == F.col("v"), "left"
            )
            .select(
                "vec_id",
                F.coalesce("lab", "new_lab").alias("lab"),
                F.coalesce(
                    "labeled_round",
                    F.when(F.col("new_lab").isNotNull(), F.lit(rnd)),
                ).alias("labeled_round"),
            )
        )
    return labels.select(
        "vec_id", F.col("lab").alias("label_out"), "labeled_round"
    )


#: integer scale for centroid-drift component sums
DRIFT_SCALE = 1_000_000


def embedding_centroid_drift(t: Tables) -> DataFrame:
    """Embedding-space drift monitor: per label, the mean absolute
    per-dimension centroid difference between two cohorts (even vs odd
    ``vec_id`` — in production, yesterday's batch vs today's) — the
    check that catches a silently retrained/renormalized embedding model
    before mismatched vectors poison the ANN index.

    Exactness without float-sum order risk: components are floored to
    integer micro-units FIRST, so the per-(label, dim, cohort) sums are
    exact int64 in any partitioning, the per-dim mean difference is the
    integer cross-product ``|s_a·n_b − s_b·n_a|``, and only the final
    per-label division is float (one fixed expression). One explode
    (×dims, map-side combinable) + one shuffle of ≤ labels×dims cells.

    Output per label (with both cohorts non-empty): ``label``, ``n_a``,
    ``n_b``, ``drift_micro``.
    """
    e = t["embeddings"].select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("half_a"),
        F.posexplode(as_double("embedding")).alias("dim", "x"),
    )
    sx = F.floor(F.col("x") * DRIFT_SCALE).cast("long")
    cells = (
        e.select("label", "half_a", "dim", sx.alias("sx"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("half_a"), F.col("sx"))).alias("s_a"),
            F.sum(F.when(~F.col("half_a"), F.col("sx"))).alias("s_b"),
            F.sum(F.when(F.col("half_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~F.col("half_a"), 1).otherwise(0)).alias("n_b"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    lab = cells.groupBy("label").agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.count("*").alias("n_dims"),
        F.sum(
            F.abs(F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a"))
        ).alias("num"),
    )
    return lab.select(
        "label",
        "n_a",
        "n_b",
        F.floor(
            F.col("num").cast("double")
            / (F.col("n_dims") * F.col("n_a") * F.col("n_b")).cast("double")
        )
        .cast("long")
        .alias("drift_micro"),
    )


def _knn_edge_cte() -> str:
    """Shared oracle CTE chain building the mutual-kNN edge list (the
    same sims + rk≤K definition as the knn_join_topk oracle)."""
    return f"""
        sims AS MATERIALIZED (
          SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                 {_COS_DUCK} AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        ),
        knn AS MATERIALIZED (
          SELECT vec_id, nbr_id FROM (
            SELECT vec_id, nbr_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_sim DESC, nbr_id) AS rk
            FROM sims
          ) WHERE rk <= {KNN_K}
        ),
        e AS MATERIALIZED (
          SELECT vec_id AS a, nbr_id AS b FROM knn WHERE vec_id < nbr_id
          INTERSECT
          SELECT nbr_id AS a, vec_id AS b FROM knn WHERE nbr_id < vec_id
        )"""


def _triangles_oracle_sql() -> str:
    return f"""
        WITH {_knn_edge_cte()},
        deg AS (
          SELECT v, count(*) AS n
          FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          GROUP BY v
        ),
        d AS (
          SELECT count(*) AS n_vertices,
                 CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg
        ),
        ec AS (SELECT count(*) AS n_edges FROM e),
        tr AS (
          SELECT count(*) AS n_triangles
          FROM e xy
          JOIN e yz ON xy.b = yz.a
          JOIN e xz ON xz.a = xy.a AND xz.b = yz.b
        )
        SELECT n_vertices, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                    THEN CAST(floor(1000000.0 * 3.0
                                    * CAST(n_triangles AS DOUBLE)
                                    / CAST(n_wedges AS DOUBLE)) AS BIGINT)
               END AS transitivity_micro
        FROM d, ec, tr
    """


def _lpa_oracle_sql(rounds: int) -> str:
    parts = [
        f"""
        WITH {_knn_edge_cte()},
        und AS MATERIALIZED (
          SELECT a AS v, b AS nb FROM e
          UNION ALL SELECT b AS v, a AS nb FROM e
        ),
        l0 AS MATERIALIZED (
          SELECT vec_id,
                 CASE WHEN vec_id % {LPA_SEED_MOD} = 0 THEN label END AS lab,
                 CASE WHEN vec_id % {LPA_SEED_MOD} = 0 THEN 0 END
                   AS labeled_round
          FROM embeddings
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
        , p{r} AS MATERIALIZED (
          SELECT v, nb_lab AS new_lab FROM (
            SELECT u.v, l.lab AS nb_lab, count(*) AS c
            FROM und u JOIN l{r - 1} l ON u.nb = l.vec_id
            WHERE l.lab IS NOT NULL
            GROUP BY u.v, l.lab
          ) QUALIFY row_number() OVER (PARTITION BY v
                                       ORDER BY c DESC, nb_lab) = 1
        ),
        l{r} AS MATERIALIZED (
          SELECT l.vec_id,
                 coalesce(l.lab, p.new_lab) AS lab,
                 coalesce(l.labeled_round,
                          CASE WHEN p.new_lab IS NOT NULL THEN {r} END)
                   AS labeled_round
          FROM l{r - 1} l LEFT JOIN p{r} p ON l.vec_id = p.v
        )"""
        )
    parts.append(
        f"""
        SELECT vec_id, lab AS label_out, labeled_round FROM l{rounds}"""
    )
    return "".join(parts)


#: CORPUS-SIZED TUNING (auto by default): expected band-bucket occupancy
#: is ≈ n / 2^(bits/band), so per-band candidate volume is ≈ n·occ/2 —
#: keeping occupancy PINNED as n grows (bits/band ~ log2(n/occ)) keeps
#: candidate volume ∝ n instead of n²/2^bits. With the constants FIXED,
#: SCALE.md r4 measured α≈1.04 over ×8 data — exactly the
#: occupancy-squared drift the auto default removes. Floors below are the
#: 500-row test-corpus setting (4 bands × 4 bits); band count grows
#: gently with the bit width ((r−4)//2 extra bands) to hold recall while
#: bits tighten — OR-amplification compensating the AND-amplification.
N_PLANES = 16
N_BANDS = 4  # 4 bands × 4 bits
#: target rows per band-bucket for the auto tuning
LSH_TARGET_OCCUPANCY = 32
#: int64 band keys bound bits/band ≤ 62; 24 covers ~500 B rows at the
#: target occupancy — past that, raise occupancy/bands via the knobs
LSH_MAX_BITS_PER_BAND = 24


def lsh_tuning_for(n_rows: int) -> tuple[int, int]:
    """(n_planes, n_bands) for a corpus of ``n_rows``: bits/band =
    ceil(log2(n/occupancy)) floored at the test-corpus default, bands
    widened by (bits−4)//2 to hold recall as buckets tighten."""
    import math

    r = max(
        N_PLANES // N_BANDS,
        min(
            LSH_MAX_BITS_PER_BAND,
            math.ceil(math.log2(max(n_rows, 2) / LSH_TARGET_OCCUPANCY)),
        ),
    )
    b = N_BANDS + max(0, (r - N_PLANES // N_BANDS) // 2)
    return r * b, b


def _multiprobe_band_keys(proj, n_bands: int, bits_per_band: int, n_probes: int):
    """Per-band bucket keys with query-directed multi-probe extensions
    (Lv/Josephson/Wang/Charikar/Li, "Multi-Probe LSH", VLDB 2007, adapted
    to sign-bit hyperplane signatures): after each band's base key (packed
    sign bits), emit ``n_probes`` extra keys, each the base with ONE bit
    flipped — the bits whose projections have the smallest |margin|, i.e.
    the planes this vector sits closest to. A near-duplicate that lands on
    the other side of exactly such a plane (the overwhelmingly likely way
    near-dups separate) shares the probe key even though the base keys
    differ.

    ``proj`` is the n × n_planes raw projection matrix; returns an
    n × n_bands·(1+eff) int64 array ordered
    ``[b0_base, b0_probe1, …, b1_base, …]`` so ``pos // (1+eff)`` is the
    band and ``pos % (1+eff) == 0`` marks base keys. Pure numpy — unit
    tested directly, shared by the pandas UDF in
    :func:`lsh_bucketed_pairs`.
    """
    import numpy as np

    bits = (proj >= 0).astype("int64")
    weights = (1 << np.arange(bits_per_band, dtype="int64")).reshape(1, -1)
    eff = min(n_probes, bits_per_band)
    cols = []
    for b in range(n_bands):
        sl = slice(b * bits_per_band, (b + 1) * bits_per_band)
        base = (bits[:, sl] @ weights.T)[:, 0]
        cols.append(base)
        if eff:
            order = np.argsort(np.abs(proj[:, sl]), axis=1)
            for tp in range(eff):
                cols.append(base ^ (np.int64(1) << order[:, tp]))
    return np.stack(cols, axis=1)


def lsh_bucketed_pairs(
    t: Tables,
    dim: int = 64,
    n_planes: int | None = None,
    n_bands: int | None = None,
    threshold: float = NEAR_DUP_THRESHOLD,
    n_probes: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH near-dup: candidates per band-bucket, verified
    with exact cosine. The scale path for `embedding_near_dup_pairs`.

    Signatures come from ONE BLAS pass (batch × plane-matrix matmul in a
    pandas UDF → sign bits → packed per-band keys), replacing 16
    interpreted higher-order dot products per row. Banding is a single
    equi-join on (band_id, band_key) — posexplode of the key array — so
    candidate generation is one shuffle instead of n_bands unioned joins.

    By default the signature width is CORPUS-SIZED: one cheap ``count()``
    picks bits/band ~ log2(n / target-occupancy) via :func:`lsh_tuning_for`
    (500-row test corpus → the historical 16 planes / 4 bands, so the
    registered default is unchanged at sf), which pins expected bucket
    occupancy and keeps candidate volume ∝ n as the corpus grows — the
    100 TB posture. Pass explicit ``n_planes``/``n_bands`` to override.

    ``n_probes > 0`` turns on query-directed multi-probe
    (:func:`_multiprobe_band_keys`): every row additionally lands in the
    ``n_probes`` Hamming-1 buckets across its least-confident band bits,
    and candidates join probe-extended keys against BASE keys only — a
    pair is found when EITHER side's flip bridges the one differing bit,
    so candidate volume grows ≤ (1+n_probes)× while band-collision
    recall at cos 0.4 roughly doubles (see
    :func:`lsh_multiprobe_recall_check`). At 100 TB this is the
    space-efficient recall lever: the VLDB'07 result is that probing
    buys the recall of ~an order of magnitude more hash tables at the
    same index size, and here the signature/index build is unchanged —
    only the explode width and one join side grow.
    """
    import numpy as np

    # r11: persisted shared frame — the corpus-sized tuning count and the
    # signature pass both scan it (and unlike ivf/pq there is no
    # order-sensitive limit() here: band keys are a pure per-row
    # function, so reading through the cache cannot change the output)
    emb = _emb_frame(t)
    if n_planes is None or n_bands is None:
        auto_planes, auto_bands = lsh_tuning_for(emb.count())
        n_planes = auto_planes if n_planes is None else n_planes
        n_bands = auto_bands if n_bands is None else n_bands
    planes = np.array(_hyperplanes(dim, n_planes), dtype="float64")
    bits_per_band = n_planes // n_bands
    if n_probes < 0:
        # auto: probe half the band width (floored at LSH_MULTIPROBE_T).
        # The corpus-sized tuning grows bits/band ~log2(n), which shrinks
        # the chance a fixed-T probe set covers the one differing
        # boundary bit — scaling T ∝ r holds that coverage constant
        # (measured: fixed T=2 decays 87→75% recall sf0.001→0.1; r//2
        # holds 87/96/82)
        n_probes = max(LSH_MULTIPROBE_T, bits_per_band // 2)
    kpb = 1 + min(n_probes, bits_per_band)  # keys emitted per band

    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype="float64")
        packed = _multiprobe_band_keys(
            mat @ planes.T, n_bands, bits_per_band, n_probes
        )
        return pd.Series(list(packed))

    # checkpoint before the self-join so the BLAS signature pass runs once,
    # not once per join side (the per-side rename precedes the exchange,
    # so ReuseExchange can't deduplicate the branches)
    exploded = emb.select(
        "vec_id", F.posexplode(band_keys("vec")).alias("pos", "band_key")
    )
    if kpb == 1:
        banded = exploded.select(
            "vec_id", F.col("pos").alias("band_id"), "band_key"
        ).localCheckpoint()
        a = banded.select(F.col("vec_id").alias("id_a"), "band_id", "band_key")
        b = banded.select(F.col("vec_id").alias("id_b"), "band_id", "band_key")
        cands = (
            a.join(b, ["band_id", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        banded = exploded.select(
            "vec_id",
            F.floor(F.col("pos") / kpb).cast("int").alias("band_id"),
            (F.col("pos") % kpb == 0).alias("is_base"),
            "band_key",
        ).localCheckpoint()
        a = banded.select(F.col("vec_id").alias("id_a"), "band_id", "band_key")
        # probe-extended keys join against BASE keys only: Hamming-1 pairs
        # collide when either side flips its differing bit (the pair shows
        # up as (x-probe, y-base) or (y-probe, x-base)); joining probes to
        # probes would admit Hamming-2 noise without a recall argument
        b = banded.where("is_base").select(
            F.col("vec_id").alias("id_b"), "band_id", "band_key"
        )
        cands = (
            a.join(b, ["band_id", "band_key"])
            .where(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )

    emb_a = t["embeddings"].select(
        F.col("vec_id").alias("id_a"), as_double("embedding").alias("vec_a")
    )
    emb_b = t["embeddings"].select(
        F.col("vec_id").alias("id_b"), as_double("embedding").alias("vec_b")
    )
    return (
        cands.join(emb_a, "id_a")
        .join(emb_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_pudf(F.col("vec_a"), F.col("vec_b")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


#: operating point for the non-vacuous LSH slate row (VERDICT r7 §4): the
#: synthetic embedding table's max pairwise cosine is ~0.51, so the 0.95
#: near-dup cut is structurally empty at every test SF — the default
#: lsh_bucketed_pairs row passed the driver gate on 0 rows in r3 and r7.
#: The fixtures are immutable, so the verified-as-data variant runs at the
#: SemDeDup threshold (0.4: 59-66 exact pairs at sf0.01/sf0.001) where the
#: bucketing, verification, and subset/recall claims are all exercised on
#: real pairs.
LSH_THETA_RECALL_PCT = 30


def lsh_pairs_at_theta(t: Tables) -> DataFrame:
    """:func:`lsh_bucketed_pairs` at the SemDeDup threshold — the same
    banded random-hyperplane candidate mining + exact-cosine verification,
    run at an operating point the test fixtures actually exercise (the
    0.95 default is empty on every test SF — see LSH_THETA_RECALL_PCT
    note). Rows-only driver check (hyperplane signatures aren't
    SQL-reproducible); :func:`lsh_theta_recall_check` is the contract.
    """
    return lsh_bucketed_pairs(t, threshold=SEMDEDUP_THRESHOLD)


def _pair_contract(t: Tables, approx: DataFrame, recall_pct: int) -> DataFrame:
    """Subset + recall contract of an approximate (id_a, id_b) pair
    operator against the exact SEMDEDUP_THRESHOLD pair set."""
    return _contract_counts(
        _all_pairs_at(t, SEMDEDUP_THRESHOLD), approx, ["id_a", "id_b"]
    ).select(
        "n_exact",
        (F.col("n_outside") == 0).alias("subset_ok"),
        _recall_ok(recall_pct).alias("recall_ok"),
    )


def lsh_theta_recall_check(t: Tables) -> DataFrame:
    """Hard driver contract for :func:`lsh_pairs_at_theta`, and — unlike
    ``lsh_subset_check``, whose n_exact is 0 on the test fixtures — one
    whose claims quantify over REAL pairs: one row with the exact
    ≥-threshold pair count (oracle recomputes it), the subset claim
    (every LSH pair is exact-verified), and a pinned recall floor
    (≥ LSH_THETA_RECALL_PCT% of exact pairs recovered — sign-bit
    collision probability for cos 0.4 is ~0.16/band, ~50% over 4 bands;
    the pin is set below the worst measured fixture).
    """
    return _pair_contract(t, lsh_pairs_at_theta(t), LSH_THETA_RECALL_PCT)


#: probes per band for the registered multi-probe op — 2 flips of the
#: least-confident bits triple each row's bucket memberships per band
#: (1 base + 2 probes) and, by the Hamming-1 bridge argument in
#: :func:`lsh_bucketed_pairs`, lifts per-band collision odds at cos 0.4
#: from p^r to roughly p^r + r·(1−p)·p^(r−1)·cover(T) — measured on the
#: fixtures it takes recall from ~50% (single-probe, the theory value
#: the r7 docstring states) to the LSH_MULTIPROBE_RECALL_PCT band.
LSH_MULTIPROBE_T = 2
#: floor set from the measured band 87/96/82 % at sf0.001/0.01/0.1 (vs
#: single-probe 51/47/32) with margin under the worst cell; strictly
#: above the ~50% single-probe theory value so silently dropping the
#: probe keys trips recall_ok
LSH_MULTIPROBE_RECALL_PCT = 75


def lsh_multiprobe_pairs(t: Tables) -> DataFrame:
    """:func:`lsh_bucketed_pairs` at the SemDeDup operating point with
    query-directed multi-probe: the RECALL-tier production path. Same
    index, same single candidate shuffle — each row just lands in (1+T)
    buckets per band and probe keys join against base keys, so recall
    roughly doubles vs :func:`lsh_pairs_at_theta` (measured 87/96/82 %
    vs 51/47/32 % at sf0.001/0.01/0.1) for ≤(1+T)× candidate volume
    instead of the ~2^T× more bands a table-count fix would cost
    (Multi-Probe LSH, VLDB 2007). T auto-scales with the corpus-sized
    band width (max(2, bits_per_band // 2)) so probe coverage of the
    boundary bits holds as tuning tightens buckets. Rows-only driver
    check (hyperplane signatures aren't SQL-reproducible);
    :func:`lsh_multiprobe_recall_check` is the hash-green contract."""
    return lsh_bucketed_pairs(t, threshold=SEMDEDUP_THRESHOLD, n_probes=-1)


def lsh_multiprobe_recall_check(t: Tables) -> DataFrame:
    """Hard driver contract for :func:`lsh_multiprobe_pairs`: one row with
    the oracle-recomputed exact ≥-threshold pair count, the subset claim
    (probing widens CANDIDATES, never output — every pair is still
    exact-cosine verified), and a recall floor strictly above the
    single-probe theory value (~50% at cos 0.4), so a regression that
    silently drops the probe keys trips the check."""
    return _pair_contract(t, lsh_multiprobe_pairs(t), LSH_MULTIPROBE_RECALL_PCT)


def embedding_near_dup_pairs_theta(t: Tables) -> DataFrame:
    """Exact cosine pairs at the SemDeDup operating point
    (SEMDEDUP_THRESHOLD) — the HASH-GREEN exact twin of
    :func:`lsh_pairs_at_theta` (VERDICT r10 §4: the synthetic embedding
    fixtures top out at cosine ~0.51, so the 0.95-threshold
    `embedding_near_dup_pairs` / `lsh_bucketed_pairs` driver rows had
    only ever value-checked the EMPTY pair set across ten rounds; this
    row drives the same blocked-matmul path over real pairs — 59 at
    sf0.01 — with a value-hashed DuckDB oracle, and the fixtures are
    immutable so the operating point, not the data, moves)."""
    return _all_pairs_at(t, SEMDEDUP_THRESHOLD)


#: recall floor for the incremental-semantic ingest contract (percent) —
#: measured 100% at sf0.001/0.01/0.1, floored with margin like the other
#: ANN contracts (VERDICT r10 §5)
INCR_SEM_RECALL_PCT = 90


def incremental_semantic_pairs(t: Tables) -> DataFrame:
    """Incremental SEMANTIC dedup ingest — the semantic rung of the
    incremental ladder (VERDICT r10 §6; MinHash and winnowing already
    have ingest twins): each vector of an incoming batch
    (``vec_id % INCR_BATCH_MOD == 0``, the ladder's shared ingest split)
    probes the CORPUS IVF index — the coarse spherical quantizer trained
    on the already-ingested corpus only — and is scored with exact
    rounded cosine against the corpus members of its probed branches;
    pairs ≥ SEMDEDUP_THRESHOLD emit as (new_id, old_id, cos_sim)
    near-dup hits, novelty = batch ids that emit nothing.

    Per-drop cost ∝ batch (the incremental contract): at 100 TB the
    corpus assignment is a PERSISTED table written once at ingest time
    (here computed inline, exactly like the corpus band keys of
    ``dedup.incremental_minhash_pairs``); a new drop costs only its own
    assignment FLOPs plus per-cell batch×members matmuls — the branch
    task runs the SAME fine-level split as
    :func:`semantic_dedup_pairs`, so per-cell work stays TARGET-bounded
    instead of scaling with the √(n·TARGET)-wide coarse branch. The
    corpus side sits in its HOME branch, the batch side multi-probes
    (SEMDEDUP_PROBES); a true neighbor is missed only if its home
    branch escapes every probe of the batch vector, or the pair shares
    no probed fine cell — the same recall axis as the semantic rung
    itself, quantified as driver-checked data by
    :func:`incremental_semantic_check`. Float k-means isn't
    SQL-replayable → rows-only; the check is the hash-green contract.
    """
    import numpy as np

    emb = fan_out(
        t["embeddings"].select("vec_id", as_double("embedding").alias("vec"))
    )
    # the corpus side sits in the k-means slot (re-read by the sizing
    # count, every Lloyd round and the home assignment); the batch side
    # is read once (its one assignment pass), as the ingest contract says
    corpus = persist_replacing(
        emb.where(F.col("vec_id") % INCR_BATCH_MOD != 0),
        "similarity.kmeans_emb",
    )
    batch = emb.where(F.col("vec_id") % INCR_BATCH_MOD == 0)

    def route(assign, corpus):
        return (
            assign(corpus, probes=1)
            .withColumn("is_new", F.lit(False))
            .unionByName(
                assign(batch, probes=SEMDEDUP_PROBES).withColumn(
                    "is_new", F.lit(True)
                )
            )
        )

    empty = pd.DataFrame(
        {
            "new_id": np.array([], dtype="int64"),
            "old_id": np.array([], dtype="int64"),
            "cos_sim": np.array([], dtype="float64"),
        }
    )

    def cross_in_cells(pdf, ids, mat, norms, cells):
        # the fine split keeps per-cell work TARGET-bounded: without it
        # the cross matmul is |batch ∩ branch| × |branch| and the branch
        # is √(n·TARGET) wide at corpus scale, so per-drop cost would
        # stop tracking the batch
        is_new = pdf["is_new"].to_numpy()
        out_n: list = []
        out_o: list = []
        out_s: list = []
        for idx in cells:
            ni = idx[is_new[idx]]
            oi = idx[~is_new[idx]]
            if not len(ni) or not len(oi):
                continue
            # same operation order as _all_pairs_at (dot / (|a|·|b|),
            # 6 dp) so the subset claim vs the exact cross set can't
            # flip at the threshold boundary
            sims = np.round(
                (mat[ni] @ mat[oi].T) / np.outer(norms[ni], norms[oi]), 6
            )
            ia, ib = np.where(sims >= SEMDEDUP_THRESHOLD)
            out_n.append(ids[ni[ia]])
            out_o.append(ids[oi[ib]])
            out_s.append(sims[ia, ib])
        if not out_n:
            return empty
        return pd.DataFrame(
            {
                "new_id": np.concatenate(out_n),
                "old_id": np.concatenate(out_o),
                "cos_sim": np.concatenate(out_s),
            }
        ).drop_duplicates(["new_id", "old_id"])

    return _coarse_branches(
        corpus,
        route,
        cross_in_cells,
        "new_id bigint, old_id bigint, cos_sim double",
    ).dropDuplicates(["new_id", "old_id"])


def incremental_semantic_check(t: Tables) -> DataFrame:
    """Hash-green contract for :func:`incremental_semantic_pairs` (itself
    rows-only): one row with the exact batch×corpus ≥-threshold pair
    count (SQL-recomputable — the cross pairs of the exact cosine set
    under the shared ingest split), a subset flag (every emitted pair is
    exact-scored, so nothing may fall outside the exact cross set) and a
    recall floor (≥ INCR_SEM_RECALL_PCT% of exact cross pairs found via
    the corpus-index probe)."""
    is_batch_a = F.col("id_a") % INCR_BATCH_MOD == 0
    is_batch_b = F.col("id_b") % INCR_BATCH_MOD == 0
    exact = _all_pairs_at(t, SEMDEDUP_THRESHOLD).where(is_batch_a != is_batch_b)
    inc = incremental_semantic_pairs(t).select(
        F.least("new_id", "old_id").alias("id_a"),
        F.greatest("new_id", "old_id").alias("id_b"),
    )
    return _contract_counts(exact, inc, ["id_a", "id_b"]).select(
        F.col("n_exact").alias("n_exact_cross"),
        (F.col("n_outside") == 0).alias("subset_ok"),
        _recall_ok(INCR_SEM_RECALL_PCT).alias("recall_ok"),
    )


#: CORPUS-SIZED TUNING: the classic IVF setting is n_centroids ≈ √n with
#: n_probe a small fraction of it (recall/latency dial) — 16/6 suits the
#: 500-row test table; 100 B rows → ~300k centroids trained offline.
#: Pass ``n_centroids``/``n_probe`` to re-tune; the assignment stays
#: map-only and the probed fraction stays n_probe/n_centroids regardless.
IVF_CENTROIDS = 16
IVF_PROBE = 6
IVF_KMEANS_ITERS = 5


def _quantizer_sample(emb: DataFrame, n_rows: int):
    """Unit-normalized training sample for the driver-trained quantizers
    (offline-trainable at 100 TB): every 7th vec_id, ``orderBy(vec_id)``
    before the ``limit()`` so the sample never depends on scan/cache
    block arrival order — which is what lets ivf/pq/ivfpq read the shared
    persisted :func:`_emb_frame` (one cached scan feeds the sample, the
    query probe, the assignment pass and the re-rank; r12, VERDICT r11
    §4)."""
    import numpy as np

    sample = np.array(
        emb.where(F.col("vec_id") % 7 == 0).orderBy("vec_id")
        .limit(n_rows)
        .toPandas()["vec"].tolist(),
        dtype="float64",
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    return sample


def _sample_kmeans(sample, k: int):
    """Spherical k-means over a unit sample: init = the first ``k`` rows,
    ``IVF_KMEANS_ITERS`` Lloyd rounds, unit-mean centroid updates."""
    import numpy as np

    cents = sample[:k].copy()
    for _ in range(IVF_KMEANS_ITERS):
        assign = (sample @ cents.T).argmax(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def _pq_codebooks(x):
    """Per-subspace PQ codebooks (``PQ_M`` × ``PQ_K`` × d/PQ_M) trained
    by plain k-means on the rows of ``x`` — raw vectors for PQ, coarse
    residuals for IVFPQ."""
    import numpy as np

    dsub = x.shape[1] // PQ_M
    books = np.empty((PQ_M, PQ_K, dsub))
    for m in range(PQ_M):
        sub = x[:, m * dsub : (m + 1) * dsub]
        bc = sub[:PQ_K].copy()
        for _ in range(PQ_KMEANS_ITERS):
            d2 = ((sub[:, None, :] - bc[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(PQ_K):
                members = sub[a == c]
                if len(members):
                    bc[c] = members.mean(axis=0)
        books[m] = bc
    return books


def _adc_table(books, qvec):
    """ADC lookup table: ``table[m][k] = q_m · c_mk``."""
    import numpy as np

    dsub = books.shape[2]
    return np.array(
        [books[m] @ qvec[m * dsub : (m + 1) * dsub] for m in range(PQ_M)]
    )


def _adc_scores(x, books, table, score):
    """Encode the rows of ``x`` against ``books`` and add each row's
    table lookups into ``score`` — executor-side, so codes never
    materialize (at scale the codes table is written once offline and
    only this scan runs per query)."""
    dsub = books.shape[2]
    for m in range(PQ_M):
        sub = x[:, m * dsub : (m + 1) * dsub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        score += table[m][d2.argmin(axis=1)]
    return score


def _query_unit_vec(emb: DataFrame):
    """The L2-normalized query vector (one-row driver fetch)."""
    import numpy as np

    qvec = np.array(
        emb.where(F.col("vec_id") == QUERY_VEC_ID).toPandas()["vec"].tolist(),
        dtype="float64",
    )[0]
    return qvec / np.linalg.norm(qvec)


def _adc_shortlist(emb: DataFrame, adc_batches) -> DataFrame:
    """ADC top-``max(PQ_SHORTLIST, n // PQ_SHORTLIST_FRAC)`` vec_ids as a
    ``TakeOrderedAndProject`` — ``adc_batches`` is the mapInPandas body
    emitting (vec_id, adc) rows."""
    shortlist_n = max(PQ_SHORTLIST, int(emb.count()) // PQ_SHORTLIST_FRAC)
    return (
        emb.mapInPandas(adc_batches, schema="vec_id bigint, adc double")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(shortlist_n)
    )


def _exact_rerank(emb: DataFrame, keep: DataFrame, qvec) -> DataFrame:
    """Exact top-``TOPK`` over the ``keep`` candidates: real rounded
    cosines (BLAS pandas UDF against the constant unit query array, so
    cosine == dot/|vec|) — precision of every returned score is exact."""
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        emb.join(keep.select("vec_id"), "vec_id", "left_semi")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            F.round(cosine_pudf(F.col("vec"), qlit), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


def _topk_recall_check(t: Tables, approx_topk, recall_pct: int) -> DataFrame:
    """DuckDB-checkable claim about a rows-only approximate top-k (the
    quantizers aren't reproducible in SQL): one row stating the exact
    top-k size, that recall vs the brute-force top-k is ≥ ``recall_pct``%,
    and that every approximate score for an overlapping id equals the
    brute-force score exactly (the re-rank computes real cosines). The
    oracle expects both flags TRUE. Full-outer join, each side computed
    ONCE: exact count / overlap / score agreement from one aggregation."""
    exact = cosine_topk(t).select("vec_id", "cos_sim")
    approx = approx_topk(t).select(
        "vec_id", F.col("cos_sim").alias("approx_sim")
    )
    j = exact.join(approx, "vec_id", "full_outer")
    return j.agg(
        F.count("cos_sim").alias("n_exact"),
        F.count(
            F.when(F.col("cos_sim").isNotNull(), F.col("approx_sim"))
        ).alias("n_hit"),
        F.coalesce(
            F.sum((F.col("approx_sim") != F.col("cos_sim")).cast("long")),
            F.lit(0),
        ).alias("n_score_mismatch"),
    ).select(
        "n_exact",
        _recall_ok(recall_pct).alias("recall_ok"),
        (F.col("n_score_mismatch") == 0).alias("precision_ok"),
    )


def ivf_topk(
    t: Tables, n_centroids: int = IVF_CENTROIDS, n_probe: int = IVF_PROBE
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer →
    bucket assignment → probe the query's nearest buckets only.

    The scale path for :func:`cosine_topk`: at 100 TB the quantizer is
    trained offline on a sample (here: numpy k-means on a driver-side
    sample, deterministic seeds), assignment is a map-only matmul per Arrow
    batch, and each query scans ~n_probe/n_centroids of the data. Recall is
    approximate; precision is exact (real cosines on probed rows).
    Rows-only driver check; the contract is :func:`ivf_recall_check`.
    """
    import numpy as np

    emb = _emb_frame(t)
    cents = _sample_kmeans(_quantizer_sample(emb, n_centroids * 20), n_centroids)
    b_cents = emb.sparkSession.sparkContext.broadcast(cents)

    def assign_buckets(batches):
        cc = b_cents.value
        for pdf in batches:
            mat = np.array(pdf["vec"].tolist(), dtype="float64")
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "bucket": (mat @ cc.T).argmax(axis=1).astype("int32"),
                }
            )

    buckets = emb.mapInPandas(assign_buckets, schema="vec_id bigint, bucket int")
    qvec = _query_unit_vec(emb)
    probe = [int(b) for b in np.argsort(-(cents @ qvec))[:n_probe]]
    return _exact_rerank(emb, buckets.where(F.col("bucket").isin(probe)), qvec)


#: recall bound the driver-checked IVF claim asserts (percent).
#: r12 (VERDICT r10 §5 carried): measured 80/90/90 at sf0.001/0.01/0.1
#: with the deterministic quantizer sample — floor raised 60 → 75 (worst
#: band minus 5 pts slack; the sample is order-pinned now, so per-SF
#: recall is reproducible).
IVF_RECALL_PCT = 75


def ivf_recall_check(t: Tables) -> DataFrame:
    """Recall/precision contract for :func:`ivf_topk` at IVF_RECALL_PCT
    (see :func:`_topk_recall_check`)."""
    return _topk_recall_check(t, ivf_topk, IVF_RECALL_PCT)


def lsh_subset_check(t: Tables) -> DataFrame:
    """DuckDB-checkable claim about :func:`lsh_bucketed_pairs` (itself
    rows-only — hyperplane signatures aren't SQL-reproducible): one row
    stating the exact near-dup pair count and that the LSH output is a
    SUBSET of the brute-force pairs (exact-cosine verification guarantees
    precision; recall is the approximate axis and stays test-pinned). The
    oracle expects the flag TRUE.
    """
    return _contract_counts(
        embedding_near_dup_pairs(t), lsh_bucketed_pairs(t), ["id_a", "id_b"]
    ).select("n_exact", (F.col("n_outside") == 0).alias("subset_ok"))


#: SemDeDup clustering/pairing parameters
SEMDEDUP_K = 16
#: coarse Lloyd rounds. The coarse level only ROUTES (multi-probe covers
#: branch boundaries and the fine level re-clusters inside each branch),
#: so near-converged coarse centroids buy no recall: measured at sf0.1,
#: 3→2 rounds keeps recall 906/920 (vs 912/920) and drops one whole
#: distributed (scan + partial-reduce) round per call.
SEMDEDUP_ITERS = 2
SEMDEDUP_THRESHOLD = 0.4
#: multi-probe width: each vector joins its P nearest clusters
SEMDEDUP_PROBES = 3
#: target vectors per (fine) cluster: the TOTAL cluster count grows as
#: max(SEMDEDUP_K, n/TARGET) so the per-cluster pairwise block stays
#: BOUNDED as the corpus grows — with a fixed k the within-cluster
#: all-pairs is n²/k (quadratic at scale); with k ∝ n it is n·TARGET
#: (linear). This is the "k ~ n/target_cluster_size" production rule.
SEMDEDUP_TARGET_CLUSTER = 400
#: floor on the COARSE (routing) cluster count of the two-level quantizer
SEMDEDUP_COARSE_MIN = 4
#: Lloyd rounds for the per-branch FINE k-means (cheaper than the coarse
#: level: multi-probe covers cell boundaries, so near-converged fine
#: centroids buy no recall)
SEMDEDUP_FINE_ITERS = 2
#: Lloyd's-iteration convergence tolerance: stop when no centroid moved
#: more than this (1 − cos of old vs new unit centroid). Near-converged
#: rounds don't change assignments, so stopping early is free recall-wise
#: and drops whole (scan + shuffle) rounds at 100 TB.
KMEANS_TOL = 1e-4

#: Lloyd partials are pre-reduced ON THE EXECUTORS (groupBy(cluster) +
#: applyInPandas) when the input has MORE partitions than this; at or
#: below it the ≤ P·k partial rows are collected raw and reduced on the
#: driver with the SAME numpy ops in the SAME (cluster, pid, seq) order —
#: bit-identical centroids, one Python stage and one scheduled job fewer
#: per Lloyd round (r12, guide §1.2/§4: each extra Python stage costs a
#: fixed ~0.2-0.4 s of worker round-trip latency regardless of data).
#: Driver bytes stay bounded at ≤ this·k·d doubles; above the threshold
#: the executor pre-reduction keeps the r8 §2 O(k·d) driver contract —
#: that path is what runs at cluster scale and stays test-covered.
KMEANS_DRIVER_REDUCE_MAX_PARTS = 64

#: live assignment broadcasts of the CURRENT _spherical_kmeans call.
#: Assignment frames are lazy — the broadcast must outlive the call — so
#: each new call retires the previous call's broadcasts instead (slot
#: pattern, same lifetime discipline as tables.persist_replacing). Bounds
#: a long session at one call's broadcast blocks (ADVICE r7).
_ASSIGN_BROADCASTS: list = []


def _retire_assign_broadcasts() -> None:
    while _ASSIGN_BROADCASTS:
        b = _ASSIGN_BROADCASTS.pop()
        try:
            b.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped


def _spherical_kmeans(emb: DataFrame, k: int, iters: int, tol: float = KMEANS_TOL):
    """Distributed spherical k-means (Lloyd's) over (vec_id, vec).

    Each iteration is ONE map-only Python stage and ZERO shuffles: the
    Arrow-batched UDF assigns its partition's vectors against the
    BROADCAST centroid matrix and emits per-(partition, cluster) PARTIAL
    SUMS — ≤ k rows per batch, the map-side-combine shape — which a
    keyed groupBy(cluster) pre-reduction collapses ON THE EXECUTORS to
    ≤ k rows before the driver sees anything: driver bytes per Lloyd
    round are O(k·d), independent of the input partition count
    (VERDICT r8 §2 — the per-partition collect was O(P·k·d), real at
    10⁴–10⁵ task inputs). The pre-reduction's shuffle moves only the
    partial rows (≤ P·k, each d doubles), NOT carried vectors — the
    earlier formulation shuffled all n vectors into a groupBy(cluster)
    per round. Partials are reduced in sorted (cluster, partition,
    batch) order, so centroids are deterministic for a given
    partitioning.

    Iteration cost control: the input frame is PERSISTED for the life of
    the call (every Lloyd's round — and the caller's final assignment —
    re-reads it; uncached that is one full parquet scan + cast + fan_out
    per round), and the loop stops as soon as the largest centroid
    movement (1 − cos(old, new)) drops under ``tol`` instead of always
    running ``iters`` rounds.

    Broadcast hygiene (ADVICE r7): every Lloyd round's partial-sum
    broadcast is unpersisted as soon as the round's toPandas() completes
    (the job is done with it), and assignment broadcasts are slot-managed
    — a new ``_spherical_kmeans`` call retires the previous call's live
    assignment broadcasts — so a long session holds at most one call's
    worth of broadcast blocks instead of accumulating one per round.

    Deterministic: init = the k lowest vec_ids; no RNG anywhere.
    Returns (centroids ndarray, assign_fn, persisted_emb) where
    assign_fn(df, probes=P) yields (vec_id, cluster, vec) rows map-side —
    one row per (vector, probed cluster), P = 1 giving the plain hard
    assignment.
    """
    import numpy as np

    from ..tables import persist_replacing

    emb = persist_replacing(emb, "similarity.kmeans_emb")
    spark = emb.sparkSession
    _retire_assign_broadcasts()

    def normalize(m):
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    cents = normalize(
        np.array(
            emb.orderBy("vec_id").limit(k).toPandas()["vec"].tolist(),
            dtype="float64",
        )
    )

    def make_assign(c, probes=1):
        b = spark.sparkContext.broadcast(c)
        _ASSIGN_BROADCASTS.append(b)

        def assign(batches):
            for pdf in batches:
                mat = normalize(np.array(pdf["vec"].tolist(), dtype="float64"))
                sims = mat @ b.value.T
                if probes == 1:
                    top = sims.argmax(axis=1).astype("int32")[:, None]
                else:
                    top = np.argsort(-sims, axis=1)[:, :probes].astype("int32")
                p = top.shape[1]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy().repeat(p),
                        "cluster": top.ravel(),
                        "vec": pdf["vec"].to_numpy().repeat(p),
                    }
                )

        return assign

    def make_partials(c):
        b = spark.sparkContext.broadcast(c)

        def partials(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for seq, pdf in enumerate(batches):
                raw = np.array(pdf["vec"].tolist(), dtype="float64")
                sims = normalize(raw) @ b.value.T
                top = sims.argmax(axis=1)
                clusters = np.unique(top)
                yield pd.DataFrame(
                    {
                        "pid": pid,
                        "seq": seq,
                        "cluster": clusters.astype("int32"),
                        # raw-vector sums: centroid = normalize(mean(raw)),
                        # matching the original groupBy-mean formulation
                        "sum_vec": [
                            raw[top == cl].sum(axis=0).tolist()
                            for cl in clusters
                        ],
                        "cnt": [int((top == cl).sum()) for cl in clusters],
                    }
                )

        return partials, b

    _ASSIGN_SCHEMA = "vec_id bigint, cluster int, vec array<double>"
    _PARTIAL_SCHEMA = (
        "pid int, seq int, cluster int, sum_vec array<double>, cnt long"
    )

    def reduce_cluster(key, pdf):
        # executor-side keyed pre-reduction (VERDICT r8 §2): the driver
        # receives ≤ k rows per Lloyd round — O(k·d) bytes, independent
        # of the input partition count (the per-partition collect was
        # O(P·k·d)). Float-sum order pinned by (pid, seq) for
        # determinism under a fixed partitioning.
        pdf = pdf.sort_values(["pid", "seq"], kind="mergesort")
        total = np.array(pdf["sum_vec"].tolist(), dtype="float64").sum(
            axis=0
        )
        return pd.DataFrame(
            {
                "cluster": [int(key[0])],
                "sum_vec": [total.tolist()],
                "cnt": [int(pdf["cnt"].sum())],
            }
        )

    _REDUCED_SCHEMA = "cluster int, sum_vec array<double>, cnt long"

    def reduce_partials_driver(raw):
        # driver twin of the executor pre-reduction (small-P path): the
        # same reduce_cluster per cluster, so centroids are bit-for-bit
        # the ones the executor path produces
        return pd.concat(
            [reduce_cluster((cl,), grp) for cl, grp in raw.groupby("cluster")],
            ignore_index=True,
        )

    # one plan→RDD translation per CALL (not per round) to learn the
    # partition count; the persisted frame makes this cheap
    try:
        n_parts = emb.rdd.getNumPartitions()
    except Exception:
        n_parts = None
    driver_reduce = (
        n_parts is not None and n_parts <= KMEANS_DRIVER_REDUCE_MAX_PARTS
    )

    for _ in range(iters):
        partials_fn, b_round = make_partials(cents)
        partials_df = emb.mapInPandas(partials_fn, schema=_PARTIAL_SCHEMA)
        if driver_reduce:
            # ≤ n_parts·k rows of (d+3) numbers — bounded by the
            # KMEANS_DRIVER_REDUCE_MAX_PARTS constant, see its comment
            upd = reduce_partials_driver(partials_df.toPandas())
        else:
            upd = (
                partials_df.groupBy("cluster")
                .applyInPandas(reduce_cluster, schema=_REDUCED_SCHEMA)
                .toPandas()
            )
        # the round's job is complete — its centroid broadcast is garbage
        # now, not at session end (ADVICE r7: these accumulated per round)
        b_round.unpersist(blocking=False)
        upd = upd.sort_values("cluster", kind="mergesort")
        moved = 0.0
        for _, row in upd.iterrows():
            cl = int(row["cluster"])
            cnt = int(row["cnt"])
            if cnt == 0:
                continue
            v = np.array(row["sum_vec"], dtype="float64") / cnt
            n = np.linalg.norm(v)
            if n > 0:
                new = v / n
                moved = max(moved, 1.0 - float(new @ cents[cl]))
                cents[cl] = new
        if moved < tol:
            break

    def assign_df(df: DataFrame, probes: int = 1) -> DataFrame:
        return df.mapInPandas(make_assign(cents, probes), schema=_ASSIGN_SCHEMA)

    # the persisted frame, so the caller's final assignment pass reads
    # the cache instead of re-scanning parquet
    return cents, assign_df, emb


def semantic_dedup_pairs(t: Tables) -> DataFrame:
    """SemDeDup: semantic near-duplicate pairs found WITHIN quantizer
    cells only (Abbas et al. 2023 shape) — cluster the embedding space,
    then run exact pairwise cosine inside each cell, so the candidate
    space is sum-of-cell-sizes², not n². Output pairs are verified with
    the exact cosine (precision exact; recall approximate, bounded
    empirically in tests and by semdedup_check's subset claim).

    TWO-LEVEL quantizer (VERDICT r7 §2 — the single-level k ∝ n rule kept
    pairwise cost linear but made assignment FLOPs n²d/TARGET and the
    broadcast/driver model state O(n); at 10¹⁰ docs × 768 dims that is a
    ~150 GB driver-held centroid matrix — dead):

    - COARSE: distributed spherical k-means with k₁ = ⌈√k_total⌉ routing
      centroids (k_total = max(SEMDEDUP_K, n/TARGET)), multi-probe
      assignment (each vector enters its SEMDEDUP_PROBES nearest coarse
      branches, so pairs split across a coarse boundary still share a
      branch — the IVF multi-probe pattern of :func:`ivf_topk`).
    - FINE: per-branch LOCAL spherical k-means inside one applyInPandas
      task — k₂ = |branch|/TARGET cells, multi-probe again, exact
      pairwise cosine within each fine cell. Fine codebooks are built,
      used, and dropped inside their branch task: they never touch the
      driver or a broadcast.

    Cost bounds as f(n), d = dims, P = SEMDEDUP_PROBES, T = TARGET:
    broadcast bytes = 8·d·k₁ ≈ 8·d·√(n/T)  (O(√n): n = 10¹⁰, d = 768 →
    ~31 MB; the old rule needed ~150 GB); driver model state identical;
    assignment FLOPs = n·d·(k₁ + k₂) ≈ 2·n·d·√(n/T) (n^1.5, vs n²d/T);
    per-cell pairwise stays ~n·T·P² (linear). The one remaining growth
    term is the per-branch task working set, 8·P·d·√(T·n) bytes (~36 GB
    at 10¹⁰×768) — past that, the same split recurses inside the branch
    (k₁ per level ∝ n^(1/3)); the branch function is self-contained
    numpy, so the recursion is a local change.

    Determinism: coarse init/reduction as in :func:`_spherical_kmeans`;
    the branch UDF sorts by vec_id before fine init/means, so results
    don't depend on shuffle arrival order. Rows-only driver check (float
    kmeans isn't SQL-replayable); semdedup_check is the hard contract.
    """
    import numpy as np

    def pairs_in_cells(pdf, ids, mat, norms, cells):
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for idx in cells:
            if len(idx) < 2:
                continue
            sub = mat[idx]
            # same operation order as _all_pairs_at (dot / (|a|·|b|),
            # rounded to 6 dp) so a threshold-boundary pair can never
            # appear here while missing from the exact set
            # semdedup_check compares against
            sims = np.round(
                (sub @ sub.T) / np.outer(norms[idx], norms[idx]), 6
            )
            ia, ib = np.where(np.triu(sims >= SEMDEDUP_THRESHOLD, k=1))
            gi, gj = ids[idx[ia]], ids[idx[ib]]
            out_a.append(np.minimum(gi, gj))
            out_b.append(np.maximum(gi, gj))
            out_s.append(sims[ia, ib])
        if not out_a:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype="int64"),
                    "id_b": np.array([], dtype="int64"),
                    "cos_sim": np.array([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        ).drop_duplicates(["id_a", "id_b"])

    return _coarse_branches(
        _emb_frame(t),
        lambda assign, emb: assign(emb, probes=SEMDEDUP_PROBES),
        pairs_in_cells,
        "id_a bigint, id_b bigint, cos_sim double",
    ).dropDuplicates(["id_a", "id_b"])


def semdedup_check(t: Tables) -> DataFrame:
    """Hard driver contract for :func:`semantic_dedup_pairs`: one row with
    the EXACT global >=-threshold pair count (oracle-computable in DuckDB)
    and the claim that every SemDeDup pair is one of them (exact
    precision). The oracle recomputes n_exact and expects subset_ok TRUE."""
    return _contract_counts(
        _all_pairs_at(t, SEMDEDUP_THRESHOLD),
        semantic_dedup_pairs(t),
        ["id_a", "id_b"],
    ).select("n_exact", (F.col("n_outside") == 0).alias("subset_ok"))


def label_centroid_sim(t: Tables) -> DataFrame:
    """Per-label mean vector and each vector's cosine to its label centroid.

    Plan: one applyInPandas over groupBy(label) reduces each label's
    vectors to a centroid array (ONE shuffle of n rows — the earlier
    posexplode formulation shuffled n×d rows three times); the
    labels×d centroid frame is tiny and **broadcasts** back onto the
    embeddings scan, where the BLAS pandas UDF scores map-side.
    """
    emb = t["embeddings"].select("vec_id", "label", as_double("embedding").alias("vec"))

    def centroid(pdf):
        import numpy as np

        mat = np.array(pdf["vec"].tolist(), dtype="float64")
        return pd.DataFrame(
            {"label": [pdf["label"].iloc[0]], "centroid": [mat.mean(axis=0).tolist()]}
        )

    cents = emb.groupBy("label").applyInPandas(
        centroid, schema="label bigint, centroid array<double>"
    )
    return emb.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.round(cosine_pudf(F.col("vec"), F.col("centroid")), 6).alias(
            "centroid_sim"
        ),
    )


#: product quantization: M subspaces x K centroids (64-dim -> 8 x 8-dim
#: blocks, 16 codes each = 8-byte codes, 32x compression of float32 vecs)
#: CORPUS-SIZED TUNING: PQ accuracy/compression is set by sub-space count
#: M and codebook size K (code bytes = M·log2(K)/8; 8×16 = 8 B codes for
#: 64-dim vectors). Larger corpora raise K (256 = 1 B/sub-space, the
#: faiss default) and train on a bigger offline sample; the ADC scan cost
#: per vector stays M lookups regardless.
PQ_M = 8
PQ_K = 16
PQ_KMEANS_ITERS = 5
#: ADC shortlist size before exact re-rank — FLOOR of the corpus-aware
#: sizing below; see PQ_SHORTLIST_FRAC
PQ_SHORTLIST = 8 * TOPK
#: ADC shortlist sizing for pq_topk and ivfpq_topk: max(PQ_SHORTLIST,
#: n // FRAC) — the faiss "k-factor" re-rank dial. A FIXED 8·TOPK
#: shortlist under the test corpus's tiny PQ_K=16 codebooks loses true
#: neighbors into the ADC tail as the corpus grows: measured 80/100/30%
#: PQ recall at sf0.001/0.01/0.1 before this fix — the sf0.1 cell quietly
#: under the 60% contract floor the smaller SFs kept green — and 30% IVFPQ
#: recall at n=2000 (stacked coarse + residual quantization noise) vs 70%
#: at n/6. At production scale the recall lever is PQ_K=256 codebooks
#: (1 B/sub-space) trained on a real sample, which keeps the shortlist
#: O(TOPK); the corpus fraction compensates for the fixture-sized
#: codebooks, not a property you'd ship.
PQ_SHORTLIST_FRAC = 6
#: recall bound the driver-checked PQ claim asserts (percent).
#: r12: measured 60/80/90 at sf0.001/0.01/0.1 — the sf0.001 band sits ON
#: the 60 floor (tiny corpus, PQ_K=16 codebooks), so the floor stays.
PQ_RECALL_PCT = 60


def pq_topk(t: Tables) -> DataFrame:
    """Product-quantization ANN top-k with exact re-rank.

    The memory-bound scale path for :func:`cosine_topk`: vectors compress
    to ``PQ_M`` one-byte codes (sub-space k-means codebooks trained on a
    bounded driver-side sample — offline-trainable at 100 TB, same harness
    as :func:`ivf_topk`), queries score candidates via asymmetric distance
    computation (one ``PQ_M × PQ_K`` lookup table per query, summed by
    code — no float vectors touched), the ADC top-``max(PQ_SHORTLIST,
    n // PQ_SHORTLIST_FRAC)`` (the k-factor dial — see the constant) is a
    ``TakeOrderedAndProject`` shortlist, and only the shortlist is
    re-ranked with exact cosines. Executors hold codes (8 B/vector), not
    embeddings (256 B/vector) — the working set shrinks 32×, which is what
    makes scanning a 100 TB vector corpus feasible. Recall is approximate
    (shortlist may miss true neighbors); precision of returned scores is
    exact. Rows-only driver check; the quality contract is
    :func:`pq_recall_check`.
    """
    import numpy as np

    emb = _emb_frame(t)
    books = _pq_codebooks(_quantizer_sample(emb, PQ_K * 20))
    qvec = _query_unit_vec(emb)
    # db vectors are L2-normalized before encoding, so
    # sum_m table[m][code_m] ~ cosine
    b_model = emb.sparkSession.sparkContext.broadcast(
        (books, _adc_table(books, qvec))
    )

    def adc_scores(batches):
        bb, tt = b_model.value
        for pdf in batches:
            mat = np.array(pdf["vec"].tolist(), dtype="float64")
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            score = _adc_scores(mat, bb, tt, np.zeros(len(mat)))
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "adc": score})

    return _exact_rerank(emb, _adc_shortlist(emb, adc_scores), qvec)


def pq_recall_check(t: Tables) -> DataFrame:
    """Recall/precision contract for :func:`pq_topk` at PQ_RECALL_PCT
    (see :func:`_topk_recall_check`)."""
    return _topk_recall_check(t, pq_topk, PQ_RECALL_PCT)


#: IVFPQ: recall floor the driver-checked claim asserts (percent). Lower
#: than plain IVF/PQ — the composition stacks both approximations.
#: r12: measured 70/90/90 at sf0.001/0.01/0.1 (deterministic sample) —
#: floor raised 50 → 65, worst band minus 5 pts.
IVFPQ_RECALL_PCT = 65


def ivfpq_topk(
    t: Tables, n_centroids: int = IVF_CENTROIDS, n_probe: int = IVF_PROBE
) -> DataFrame:
    """IVF routing + PQ RESIDUAL codes + ADC shortlist + exact re-rank —
    the full inverted-file-ADC composition (the faiss ``IVFx,PQy`` index
    shape) that serves billion-vector corpora: :func:`ivf_topk` bounds
    how much of the corpus a query SCANS (n_probe/n_centroids of it),
    :func:`pq_topk` bounds what each scanned vector COSTS (M byte-code
    lookups against an 8 B/vector working set); this stacks both.

    Residual encoding is what makes the stack work: PQ codebooks are
    trained on ``r = x − c(bucket)`` (the residual after coarse
    assignment), whose spread is much tighter than raw vectors', so the
    same code budget quantizes finer. ADC for cosine decomposes exactly:
    ``q·x ≈ q·c_b + Σ_m table[m][code_m(r)]`` — one per-bucket offset
    plus M lookups.

    All model state (coarse centroids, shared residual codebooks, the
    query's ADC tables) is trained on a bounded deterministic sample and
    broadcast — offline-trainable at 100 TB, same harness as its two
    parents. Recall approximate (both stages can drop true neighbors);
    returned scores exact (shortlist re-ranked with real cosines).
    Rows-only driver check; the contract is :func:`ivfpq_recall_check`.
    """
    import numpy as np

    emb = _emb_frame(t)
    sample = _quantizer_sample(emb, n_centroids * 20)
    cents = _sample_kmeans(sample, n_centroids)
    books = _pq_codebooks(sample - cents[(sample @ cents.T).argmax(axis=1)])
    qvec = _query_unit_vec(emb)
    probe = np.argsort(-(cents @ qvec))[:n_probe]
    offsets = cents @ qvec  # q·c_b per bucket
    adc = _adc_table(books, qvec)
    b_model = emb.sparkSession.sparkContext.broadcast(
        (cents, books, set(int(b) for b in probe), offsets, adc)
    )

    def adc_probed(batches):
        cc, bb, probed, off, tt = b_model.value
        for pdf in batches:
            mat = np.array(pdf["vec"].tolist(), dtype="float64")
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            bucket = (mat @ cc.T).argmax(axis=1)
            keep = np.isin(bucket, list(probed))
            if not keep.any():
                continue
            mat, bucket = mat[keep], bucket[keep]
            score = _adc_scores(mat - cc[bucket], bb, tt, off[bucket].copy())
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[keep], "adc": score}
            )

    return _exact_rerank(emb, _adc_shortlist(emb, adc_probed), qvec)


def ivfpq_recall_check(t: Tables) -> DataFrame:
    """Recall/precision contract for :func:`ivfpq_topk` at
    IVFPQ_RECALL_PCT (see :func:`_topk_recall_check`)."""
    return _topk_recall_check(t, ivfpq_topk, IVFPQ_RECALL_PCT)


#: whitening audit tolerances (on the whitened sample covariance)
WHITEN_DIAG_TOL = 1e-6
WHITEN_OFFDIAG_TOL = 1e-6
#: eigenvalue regularization floor (rank-deficient covariance guard)
WHITEN_EIG_FLOOR = 1e-10
#: executor-side reduce fan-in for moment partials: the driver receives
#: at most this many (d²+d+1)-sized rows, INDEPENDENT of the input
#: partition count (VERDICT r8 §2 — the per-partition collect was
#: O(P·d²) driver bytes, ~4.7 MB/partition at d=768, dead at 10⁴–10⁵
#: task inputs)
MOMENT_REDUCE_GROUPS = 32


def _collect_moment_partials(parts: DataFrame):
    """Reduce per-partition moment rows (pid, n, s, g) to ≤
    MOMENT_REDUCE_GROUPS rows ON THE EXECUTORS (groupBy pid % R +
    Arrow zip-sum), then collect and finish on the driver. Driver bytes
    are O(R·d²) regardless of how many partitions produced partials;
    float-sum order is pinned (sort by pid inside each group, by rid on
    the driver) so the result is deterministic for a given partitioning.

    Returns (n, s, g) as (int, np.ndarray[d], np.ndarray[d²]).

    r12: when the input has ≤ KMEANS_DRIVER_REDUCE_MAX_PARTS partitions
    the ≤ P partial rows are collected raw and reduced on the driver with
    the SAME numpy ops in the SAME (rid, pid) order — bit-identical
    moments, one Python stage + one job fewer per pass; the executor
    pre-reduction stays the >threshold path (the cluster-scale shape)."""
    import numpy as np

    try:
        n_parts = parts.rdd.getNumPartitions()
    except Exception:
        n_parts = None
    if n_parts is not None and n_parts <= KMEANS_DRIVER_REDUCE_MAX_PARTS:
        raw = parts.toPandas()
        if not len(raw):
            raise ValueError("no moment partials (empty input)")
        raw = raw.assign(rid=raw["pid"] % MOMENT_REDUCE_GROUPS)
        # identical ops/order to reduce_group + the rid-sorted driver
        # finish below: per-rid numpy pairwise sum (pid-sorted), then
        # zeros-init += accumulation in rid order
        n = 0
        s = g = None
        for _, grp in raw.groupby("rid", sort=True):
            grp = grp.sort_values("pid", kind="mergesort")
            gs = np.array(grp["s"].tolist(), dtype="float64").sum(axis=0)
            gg = np.array(grp["g"].tolist(), dtype="float64").sum(axis=0)
            if s is None:
                s = np.zeros(len(gs))
                g = np.zeros(len(gg))
            n += int(grp["n"].sum())
            s += gs
            g += gg
        return n, s, g

    def reduce_group(key, pdf):
        pdf = pdf.sort_values("pid", kind="mergesort")
        s = np.array(pdf["s"].tolist(), dtype="float64").sum(axis=0)
        g = np.array(pdf["g"].tolist(), dtype="float64").sum(axis=0)
        return pd.DataFrame(
            {
                "rid": [int(key[0])],
                "n": [int(pdf["n"].sum())],
                "s": [s.tolist()],
                "g": [g.tolist()],
            }
        )

    reduced = (
        parts.withColumn(
            "rid", F.pmod(F.col("pid"), F.lit(MOMENT_REDUCE_GROUPS))
        )
        .groupBy("rid")
        .applyInPandas(
            reduce_group,
            schema="rid int, n long, s array<double>, g array<double>",
        )
        .toPandas()
    )
    reduced = reduced.sort_values("rid", kind="mergesort")
    n = int(reduced["n"].sum())
    s = np.zeros(len(reduced["s"].iloc[0]))
    g = np.zeros(len(reduced["g"].iloc[0]))
    for _, row in reduced.iterrows():
        s += np.array(row["s"])
        g += np.array(row["g"])
    return n, s, g


def _moment_partials(emb: DataFrame) -> DataFrame:
    """One map-only pass: each partition emits its (count, sum, Mᵀ·M)
    partial — d²+d+1 numbers, the map-side-combine shape."""
    import numpy as np

    def partial_moments(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc_g = None
        acc_s = None
        n = 0
        for pdf in batches:
            m = np.array(pdf["vec"].tolist(), dtype="float64")
            g = m.T @ m
            s = m.sum(axis=0)
            acc_g = g if acc_g is None else acc_g + g
            acc_s = s if acc_s is None else acc_s + s
            n += len(m)
        if acc_g is None:
            return
        yield pd.DataFrame(
            {
                "pid": [pid],
                "n": [n],
                "s": [acc_s.tolist()],
                "g": [acc_g.ravel().tolist()],
            }
        )

    return emb.mapInPandas(
        partial_moments,
        schema="pid int, n long, s array<double>, g array<double>",
    )


def _whitening_model(emb: DataFrame):
    """Mean + ZCA whitening matrix of the embedding table.

    Corpus-sized work is ONE map-only pass (``_moment_partials``); the
    partials are pre-reduced ON THE EXECUTORS to ≤ MOMENT_REDUCE_GROUPS
    rows (``_collect_moment_partials``), so driver bytes are O(R·d²) —
    a function of the model dimension, NOT of the input partition count
    — and the driver eigen-decomposes the d×d covariance. Model state
    is O(d²) regardless of n; the whitening matrix broadcasts back.
    This is the driver-fixpoint pattern (BPE/DoReMi/k-center) applied
    to second moments.
    """
    import numpy as np

    n, s, g = _collect_moment_partials(_moment_partials(emb))
    d = len(s)
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)
    w = np.maximum(w, WHITEN_EIG_FLOOR)
    zca = v @ np.diag(1.0 / np.sqrt(w)) @ v.T
    return mean, zca, n


def _whitened_vectors(t: Tables) -> DataFrame:
    """INTERNAL: ZCA-whitened embeddings as (vec_id, whitened
    array<double>) — the decorrelation step semantic-dedup / retrieval
    stacks run before cosine thresholds mean the same thing in every
    direction. Two map-only passes over the corpus (moments, then
    transform against the broadcast d×d matrix). NOT registered as a
    slate query: the driver's canonicalizer requires scalar columns
    (the r8 red row), so the registered surface is the scalar
    :func:`embedding_whiten_audit` projection plus
    :func:`whiten_check`'s identity-covariance contract."""
    import numpy as np

    # r11: persisted shared frame — the model moment pass and the
    # transform pass both scan it; see _emb_frame
    emb = _emb_frame(t)
    mean, zca, _ = _whitening_model(emb)
    b = emb.sparkSession.sparkContext.broadcast((mean, zca))
    _ASSIGN_BROADCASTS.append(b)

    def transform(batches):
        mu, wm = b.value
        for pdf in batches:
            m = np.array(pdf["vec"].tolist(), dtype="float64")
            out = (m - mu) @ wm.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "whitened": list(out)}
            )

    return emb.mapInPandas(
        transform, schema="vec_id bigint, whitened array<double>"
    )


def embedding_whiten_audit(t: Tables) -> DataFrame:
    """Driver-safe scalar view of the ZCA whitening transform: per
    vector, its whitened coordinate-sum checksum and L2 norm (both
    rounded) — the per-row audit a pipeline joins back to vec_id
    without ever shipping arrays to the slate (VERDICT r8 §1: the raw
    ``array<double>`` output crashed the driver canonicalizer; the
    array-producing transform lives on as :func:`_whitened_vectors`).

    Rows-only driver check (eigenvectors aren't SQL-reproducible);
    :func:`whiten_check` carries the hash-checked identity-covariance
    contract in the same slate."""
    return _whitened_vectors(t).select(
        "vec_id",
        F.round(
            F.expr("aggregate(whitened, 0D, (a, x) -> a + x)"), 6
        ).alias("whiten_checksum"),
        F.round(
            F.sqrt(
                F.expr("aggregate(whitened, 0D, (a, x) -> a + x * x)")
            ),
            6,
        ).alias("whiten_norm"),
    )


def whiten_check(t: Tables) -> DataFrame:
    """Hard driver contract for the whitening path: one row with the
    corpus size (oracle recomputes it) and the claims that the WHITENED
    sample covariance is the identity — every diagonal within
    WHITEN_DIAG_TOL of 1, every off-diagonal within WHITEN_OFFDIAG_TOL
    of 0 — verified by a second distributed moment pass over the
    whitened output (never driver-collected vectors; the partial rows
    reduce to ≤ MOMENT_REDUCE_GROUPS before the collect, same O(R·d²)
    driver bound as the model pass).

    r12 (guide §4): the whiten transform and the verification moment
    accumulation run FUSED in ONE mapInPandas — the same float64 whitened
    values the two-stage chain produced (Arrow round-trips doubles
    exactly), same per-partition batch accumulation, one Python worker
    round-trip instead of two. The transform itself still ships
    standalone as :func:`_whitened_vectors` for the audit query."""
    import numpy as np

    emb = _emb_frame(t)
    mean, zca, _ = _whitening_model(emb)
    # consumed eagerly by the collect below, so it is released here
    # rather than parked in the lazy-frame slot (ADVICE r12 #3: repeated
    # calls without a k-means query piled these up)
    b = emb.sparkSession.sparkContext.broadcast((mean, zca))

    def whitened_moments(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        mu, wm = b.value
        acc_g = acc_s = None
        nn = 0
        for pdf in batches:
            m = (np.array(pdf["vec"].tolist(), dtype="float64") - mu) @ wm.T
            gg = m.T @ m
            ss = m.sum(axis=0)
            acc_g = gg if acc_g is None else acc_g + gg
            acc_s = ss if acc_s is None else acc_s + ss
            nn += len(m)
        if acc_g is None:
            return
        yield pd.DataFrame(
            {
                "pid": [pid],
                "n": [nn],
                "s": [acc_s.tolist()],
                "g": [acc_g.ravel().tolist()],
            }
        )

    parts = emb.mapInPandas(
        whitened_moments,
        schema="pid int, n long, s array<double>, g array<double>",
    )
    n, s, g = _collect_moment_partials(parts)
    b.unpersist(blocking=False)
    d = len(s)
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    diag = np.diag(cov)
    off = cov - np.diag(diag)
    diag_ok = bool(np.all(np.abs(diag - 1.0) <= WHITEN_DIAG_TOL))
    offdiag_ok = bool(np.abs(off).max() <= WHITEN_OFFDIAG_TOL)
    spark = t["embeddings"].sparkSession
    return local_df(
        spark,
        [(n, diag_ok, offdiag_ok)],
        "n_vecs long, diag_ok boolean, offdiag_ok boolean",
    )


_COS_DUCK = (
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)"
)

ORACLES: dict[str, str] = {
    "cosine_topk": f"""
        SELECT a.vec_id AS vec_id, {_COS_DUCK.replace('b.embedding', 'q.embedding')} AS cos_sim
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE a.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT {TOPK}
    """,
    "cosine_range_search": f"""
        SELECT a.vec_id AS vec_id,
               {_COS_DUCK.replace('b.embedding', 'q.embedding')} AS cos_sim
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE a.vec_id != {QUERY_VEC_ID}
          AND {_COS_DUCK.replace('b.embedding', 'q.embedding')} >= {RANGE_THRESHOLD}
    """,
    "filtered_cosine_topk": f"""
        SELECT a.vec_id AS vec_id, a.label AS label,
               {_COS_DUCK.replace('b.embedding', 'q.embedding')} AS cos_sim
        FROM embeddings a,
             (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE a.label = {FILTER_LABEL} AND a.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT {TOPK}
    """,
    "embedding_near_dup_pairs": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_DUCK} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_DUCK} >= {NEAR_DUP_THRESHOLD}
    """,
    # lsh_bucketed_pairs / ivf_topk: approximate — rows-only by design;
    # the *_check companions below turn their quality contracts into hard
    # driver checks (count + TRUE-flag hash comparison).
    "ivf_recall_check": f"""
        SELECT count(*) AS n_exact, TRUE AS recall_ok, TRUE AS precision_ok
        FROM (
          SELECT a.vec_id
          FROM embeddings a,
               (SELECT embedding FROM embeddings
                WHERE vec_id = {QUERY_VEC_ID}) q
          WHERE a.vec_id != {QUERY_VEC_ID}
          ORDER BY {_COS_DUCK.replace('b.embedding', 'q.embedding')} DESC, a.vec_id
          LIMIT {TOPK}
        )
    """,
    "pq_recall_check": f"""
        SELECT count(*) AS n_exact, TRUE AS recall_ok, TRUE AS precision_ok
        FROM (
          SELECT a.vec_id
          FROM embeddings a,
               (SELECT embedding FROM embeddings
                WHERE vec_id = {QUERY_VEC_ID}) q
          WHERE a.vec_id != {QUERY_VEC_ID}
          ORDER BY {_COS_DUCK.replace('b.embedding', 'q.embedding')} DESC, a.vec_id
          LIMIT {TOPK}
        )
    """,
    "ivfpq_recall_check": f"""
        SELECT count(*) AS n_exact, TRUE AS recall_ok, TRUE AS precision_ok
        FROM (
          SELECT a.vec_id
          FROM embeddings a,
               (SELECT embedding FROM embeddings
                WHERE vec_id = {QUERY_VEC_ID}) q
          WHERE a.vec_id != {QUERY_VEC_ID}
          ORDER BY {_COS_DUCK.replace('b.embedding', 'q.embedding')} DESC, a.vec_id
          LIMIT {TOPK}
        )
    """,
    # embedding_whiten_audit: rows-only (eigenvectors aren't
    # SQL-reproducible); whiten_check carries the identity-covariance
    # contract with the corpus size as its oracle-recomputed exact field
    "whiten_check": """
        SELECT count(*) AS n_vecs, TRUE AS diag_ok, TRUE AS offdiag_ok
        FROM embeddings
    """,
    # semantic_dedup_pairs: float kmeans isn't SQL-replayable — rows-only;
    # semdedup_check is its hard driver contract (exact pair count + the
    # exact-precision subset claim).
    "semdedup_check": f"""
        SELECT count(*) AS n_exact, TRUE AS subset_ok
        FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_DUCK} >= {SEMDEDUP_THRESHOLD}
        )
    """,
    "lsh_subset_check": f"""
        SELECT count(*) AS n_exact, TRUE AS subset_ok
        FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_DUCK} >= {NEAR_DUP_THRESHOLD}
        )
    """,
    # lsh_pairs_at_theta: rows-only (hyperplane signatures); its contract
    # check quantifies subset AND recall over the 0.4-threshold pairs the
    # fixtures actually contain (lsh_subset_check's n_exact is 0 there)
    "lsh_theta_recall_check": f"""
        SELECT count(*) AS n_exact, TRUE AS subset_ok, TRUE AS recall_ok
        FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_DUCK} >= {SEMDEDUP_THRESHOLD}
        )
    """,
    # lsh_multiprobe_pairs: rows-only (hyperplane signatures + probe
    # sequences); its contract pins subset + a recall floor ABOVE the
    # single-probe theory value, over the same exact 0.4-threshold pairs
    "lsh_multiprobe_recall_check": f"""
        SELECT count(*) AS n_exact, TRUE AS subset_ok, TRUE AS recall_ok
        FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_DUCK} >= {SEMDEDUP_THRESHOLD}
        )
    """,
    # the VALUE-hashed exact twin at the same operating point (VERDICT
    # r10 §4: non-empty on the immutable fixtures, unlike the 0.95 rows)
    "embedding_near_dup_pairs_theta": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_DUCK} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_DUCK} >= {SEMDEDUP_THRESHOLD}
    """,
    # incremental_semantic_pairs: rows-only (float k-means); its ingest
    # contract quantifies subset + recall over the exact CROSS pairs of
    # the shared batch split (VERDICT r10 §6)
    "incremental_semantic_check": f"""
        SELECT count(*) AS n_exact_cross, TRUE AS subset_ok,
               TRUE AS recall_ok
        FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_DUCK} >= {SEMDEDUP_THRESHOLD}
            AND ((a.vec_id % {INCR_BATCH_MOD} = 0)
                 != (b.vec_id % {INCR_BATCH_MOD} = 0))
        )
    """,
    "lsh_query_topk": _lsh_query_oracle_sql(LSH_QUERY_BITS),
    "mmr_diverse_topk": _mmr_oracle_sql(MMR_K),
    # knn_graph_triangles / label_propagation_knn: now ride the
    # PRODUCTION ANN edge build (r9 §2) — float k-means isn't
    # SQL-replayable → rows-only; knn_edge_agreement_check below is the
    # hash-green companion (exact edge count + recall flag). Their old
    # exact-edge oracles live on in tests/test_oracle_parity.py, which
    # pins the exact builds (_mutual_knn_edges_exact + the unchanged
    # downstream algebra) against _triangles_oracle_sql/_lpa_oracle_sql.
    "knn_edge_agreement_check": f"""
        WITH {_knn_edge_cte()}
        SELECT count(*) AS n_exact_edges, TRUE AS recall_ok,
               TRUE AS edge_ratio_ok
        FROM e
    """,
    "embedding_centroid_drift": f"""
        WITH e AS (
          SELECT label, vec_id % 2 = 0 AS half_a,
                 generate_subscripts(embedding, 1) AS dim,
                 CAST(floor(CAST(unnest(CAST(embedding AS DOUBLE[]))
                                 AS DOUBLE) * {DRIFT_SCALE}) AS BIGINT) AS sx
          FROM embeddings
        ),
        cells AS (
          SELECT label, dim,
                 sum(CASE WHEN half_a THEN sx END) AS s_a,
                 sum(CASE WHEN NOT half_a THEN sx END) AS s_b,
                 CAST(sum(CASE WHEN half_a THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN NOT half_a THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_b
          FROM e GROUP BY 1, 2
        ),
        filtered AS (
          SELECT * FROM cells WHERE n_a > 0 AND n_b > 0
        ),
        lab AS (
          SELECT label,
                 any_value(n_a) AS n_a, any_value(n_b) AS n_b,
                 count(*) AS n_dims,
                 CAST(sum(abs(s_a * n_b - s_b * n_a)) AS BIGINT) AS num
          FROM filtered GROUP BY label
        )
        SELECT label, n_a, n_b,
               CAST(floor(CAST(num AS DOUBLE)
                          / CAST(n_dims * n_a * n_b AS DOUBLE))
                    AS BIGINT) AS drift_micro
        FROM lab
    """,
    "hard_negative_mining": f"""
        WITH sims AS (
          SELECT a.vec_id AS vec_id, a.label AS label,
                 b.vec_id AS nbr_id, b.label AS nbr_label,
                 {_COS_DUCK} AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.label != b.label
        )
        SELECT vec_id, label, nbr_id, nbr_label, cos_sim,
               CAST(rk AS INTEGER) AS rk
        FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos_sim DESC, nbr_id) AS rk
          FROM sims
        )
        WHERE rk <= {HARDNEG_K}
    """,
    "knn_join_topk": f"""
        WITH sims AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, {_COS_DUCK} AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        )
        SELECT vec_id, nbr_id, cos_sim, CAST(rk AS INTEGER) AS rk
        FROM (
          SELECT vec_id, nbr_id, cos_sim,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos_sim DESC, nbr_id) AS rk
          FROM sims
        )
        WHERE rk <= {KNN_K}
    """,
    "label_centroid_sim": """
        WITH e AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ), c AS (
          SELECT label, dim, avg(x) AS cx FROM e GROUP BY label, dim
        )
        SELECT e.vec_id, e.label,
               round(sum(e.x * c.cx) /
                     (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))), 6)
               AS centroid_sim
        FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.vec_id, e.label
    """,
}


def _quality_filtered_ann_oracle() -> str:
    # late import: campaign imports sampling/text at module level; nothing
    # on that chain imports similarity back, but keeping it out of this
    # module's top keeps the dependency one-directional and obvious
    from .campaign import _GATE_DUCK

    return f"""
        WITH {_GATE_DUCK}
        SELECT a.vec_id AS vec_id,
               {_COS_DUCK.replace('b.embedding', 'q.embedding')} AS cos_sim
        FROM embeddings a
        JOIN g ON a.vec_id = g.doc_id
        CROSS JOIN (SELECT embedding FROM embeddings
                    WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE a.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, a.vec_id
        LIMIT {TOPK}
    """


ORACLES["quality_filtered_ann"] = _quality_filtered_ann_oracle()

# ann_knn_topk / hard_negative_mining_ann: rows-only (IVF route); their
# hash-green companions recompute the exact denominators in SQL and
# expect the recall flags TRUE.
ORACLES["ann_knn_recall_check"] = f"""
    SELECT count(*) AS n_exact, TRUE AS recall_ok
    FROM ({ORACLES["knn_join_topk"]})
"""
ORACLES["hardneg_recall_check"] = f"""
    SELECT count(*) AS n_exact, TRUE AS recall_ok
    FROM ({ORACLES["hard_negative_mining"]})
"""

# margin mining: exact op hash-checked (integer-micro scoring); the ANN
# twin is rows-only with bitext_ann_agreement_check as its contract
ORACLES["bitext_margin_pairs"] = f"""
    WITH hn AS ({ORACLES["hard_negative_mining"]}),
    cm AS (
      SELECT vec_id, label, nbr_id, nbr_label,
             CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cos_micro
      FROM hn
    ),
    s AS (SELECT vec_id, sum(cos_micro) AS sumk, count(*) AS k
          FROM cm GROUP BY vec_id),
    m AS (
      SELECT c.vec_id, c.label, c.nbr_id, c.nbr_label, c.cos_micro,
             round(2.0 * c.cos_micro * sx.k * sy.k
                   / CAST(sx.sumk * sy.k + sy.sumk * sx.k AS DOUBLE),
                   6) AS margin
      FROM cm c
      JOIN s sx ON c.vec_id = sx.vec_id
      JOIN s sy ON c.nbr_id = sy.vec_id
      WHERE sx.sumk * sy.k + sy.sumk * sx.k != 0
    )
    SELECT vec_id, label, nbr_id, nbr_label, cos_micro, margin
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY margin DESC, nbr_id) AS rn
          FROM m)
    WHERE rn = 1
"""

ORACLES["bitext_ann_agreement_check"] = f"""
    SELECT count(*) AS n_exact, TRUE AS agree_ok
    FROM ({ORACLES["bitext_margin_pairs"]})
"""

#: Matryoshka prefix dimensions audited against the full 64-dim cosine
MATRYOSHKA_DIMS = (8, 16, 32)


def _slice_cos_micro(v: str, q: str, d) -> F.Column:
    """Integer-micro cosine between the first-d prefixes of two
    array<double> columns, computed with engine-identical IEEE ops
    (sequential aggregate dot/norms, ``floor(x + 0.5)`` rounding — the
    same cross-engine trick as ``pipeline2.embedding_quantize``)."""
    pre_v = f"slice({v}, 1, {d})" if d else v
    pre_q = f"slice({q}, 1, {d})" if d else q
    dot = (
        f"aggregate(zip_with({pre_v}, {pre_q}, (x, y) -> x * y),"
        " 0D, (a, x) -> a + x)"
    )
    nv = f"sqrt(aggregate({pre_v}, 0D, (a, x) -> a + x * x))"
    nq = f"sqrt(aggregate({pre_q}, 0D, (a, x) -> a + x * x))"
    return F.expr(
        f"cast(floor(1000000 * ({dot}) / (({nv}) * ({nq})) + 0.5) as bigint)"
    )


def matryoshka_fidelity_report(t: Tables) -> DataFrame:
    """Matryoshka truncation-fidelity audit (Kusupati et al. 2022 MRL,
    public): can this corpus serve ANN from a PREFIX of each embedding?
    For each prefix dimension d' ∈ MATRYOSHKA_DIMS, around the standard
    probe vector: the top-k overlap between the full-dim exact top-k
    and the top-k recomputed from d'-prefix cosines, and the summed
    absolute cosine error (integer micros) over the full-dim top-k set.
    This is the measurement behind a coarse-route/re-rank serving tier
    (route on the prefix — cheap, cache-resident — re-rank the
    shortlist at full dim; the same shape as :func:`ivfpq_topk`).

    Scale: one corpus scan computes ALL prefix cosines map-side (the
    persisted scored frame is |corpus| rows × |dims|+1 integers), each
    top-k is a TakeOrdered (no global sort), and the report is
    |dims| rows. Integer micros end-to-end (floor(x+0.5) — identical
    IEEE semantics in Spark and DuckDB), so the oracle hash-matches."""
    from ..tables import persist_replacing

    emb = fan_out(
        t["embeddings"].select("vec_id", as_double("embedding").alias("v"))
    )
    qv = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    cols = [_slice_cos_micro("v", "qv", None).alias("cos_full")]
    for d in MATRYOSHKA_DIMS:
        cols.append(_slice_cos_micro("v", "qv", d).alias(f"cos_{d}"))
    scored = persist_replacing(
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", *cols),
        "similarity.matryoshka_scored",
    )
    full_top = scored.orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    ).limit(TOPK)
    rows = []
    for d in MATRYOSHKA_DIMS:
        top_d = (
            scored.orderBy(F.col(f"cos_{d}").desc(), F.col("vec_id"))
            .limit(TOPK)
            .select("vec_id")
        )
        overlap = full_top.join(top_d, "vec_id").agg(
            F.count("*").alias("topk_overlap")
        )
        delta = full_top.agg(
            F.sum(F.abs(F.col("cos_full") - F.col(f"cos_{d}"))).alias(
                "sum_abs_cos_delta_micro"
            )
        )
        rows.append(
            overlap.crossJoin(delta).select(
                F.lit(d).alias("prefix_dim"),
                "topk_overlap",
                "sum_abs_cos_delta_micro",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _matryoshka_oracle() -> str:
    def cos_micro(d) -> str:
        pv = f"list_slice(CAST(a.embedding AS DOUBLE[]), 1, {d})" if d else "CAST(a.embedding AS DOUBLE[])"
        pq = f"list_slice(CAST(q.embedding AS DOUBLE[]), 1, {d})" if d else "CAST(q.embedding AS DOUBLE[])"
        return (
            f"CAST(floor(1000000 * list_dot_product({pv}, {pq})"
            f" / (sqrt(list_dot_product({pv}, {pv}))"
            f" * sqrt(list_dot_product({pq}, {pq}))) + 0.5) AS BIGINT)"
        )

    scored = f"""
        scored AS (
          SELECT a.vec_id, {cos_micro(None)} AS cos_full,
                 {", ".join(f"{cos_micro(d)} AS cos_{d}" for d in MATRYOSHKA_DIMS)}
          FROM embeddings a,
               (SELECT embedding FROM embeddings
                WHERE vec_id = {QUERY_VEC_ID}) q
          WHERE a.vec_id != {QUERY_VEC_ID}),
        full_top AS (SELECT * FROM scored
                     ORDER BY cos_full DESC, vec_id LIMIT {TOPK})
    """
    branches = []
    for d in MATRYOSHKA_DIMS:
        branches.append(f"""
          SELECT {d} AS prefix_dim,
                 (SELECT count(*) FROM full_top f
                  JOIN (SELECT vec_id FROM scored
                        ORDER BY cos_{d} DESC, vec_id LIMIT {TOPK}) s
                    ON f.vec_id = s.vec_id) AS topk_overlap,
                 (SELECT CAST(sum(abs(cos_full - cos_{d})) AS BIGINT)
                  FROM full_top) AS sum_abs_cos_delta_micro
        """)
    return f"WITH {scored} " + " UNION ALL ".join(branches)


ORACLES["matryoshka_fidelity_report"] = _matryoshka_oracle()

QUERIES = {
    "cosine_topk": cosine_topk,
    "cosine_range_search": cosine_range_search,
    "filtered_cosine_topk": filtered_cosine_topk,
    "quality_filtered_ann": quality_filtered_ann,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "lsh_bucketed_pairs": lsh_bucketed_pairs,
    "lsh_subset_check": lsh_subset_check,
    "lsh_pairs_at_theta": lsh_pairs_at_theta,
    "lsh_theta_recall_check": lsh_theta_recall_check,
    # multi-probe recall tier: rows-only production op + hard contract
    "lsh_multiprobe_pairs": lsh_multiprobe_pairs,
    "lsh_multiprobe_recall_check": lsh_multiprobe_recall_check,
    "embedding_near_dup_pairs_theta": embedding_near_dup_pairs_theta,
    "incremental_semantic_pairs": incremental_semantic_pairs,
    "incremental_semantic_check": incremental_semantic_check,
    "ivf_topk": ivf_topk,
    "ivf_recall_check": ivf_recall_check,
    # PQ: rows-only ANN + hard driver contract
    "pq_topk": pq_topk,
    "pq_recall_check": pq_recall_check,
    # IVF+PQ composition (faiss IVFADC shape): rows-only + hard contract
    "ivfpq_topk": ivfpq_topk,
    "ivfpq_recall_check": ivfpq_recall_check,
    # ZCA whitening: rows-only transform + identity-covariance contract
    "embedding_whiten_audit": embedding_whiten_audit,
    "matryoshka_fidelity_report": matryoshka_fidelity_report,
    "whiten_check": whiten_check,
    "label_centroid_sim": label_centroid_sim,
    "knn_join_topk": knn_join_topk,
    "hard_negative_mining": hard_negative_mining,
    # IVF-routed production twins of the two exact baselines above,
    # each rows-only with a hash-green recall contract
    "ann_knn_topk": ann_knn_topk,
    "ann_knn_recall_check": ann_knn_recall_check,
    "hard_negative_mining_ann": hard_negative_mining_ann,
    "hardneg_recall_check": hardneg_recall_check,
    # margin-criterion pair mining (bitext shape): exact hash-checked,
    # ANN production twin rows-only + agreement contract
    "bitext_margin_pairs": bitext_margin_pairs,
    "bitext_margin_pairs_ann": bitext_margin_pairs_ann,
    "bitext_ann_agreement_check": bitext_ann_agreement_check,
    "lsh_query_topk": lsh_query_topk,
    "mmr_diverse_topk": mmr_diverse_topk,
    "knn_graph_triangles": knn_graph_triangles,
    "label_propagation_knn": label_propagation_knn,
    "knn_edge_agreement_check": knn_edge_agreement_check,
    "embedding_centroid_drift": embedding_centroid_drift,
    # SemDeDup: rows-only pairs + hard driver contract
    "semantic_dedup_pairs": semantic_dedup_pairs,
    "semdedup_check": semdedup_check,
}
