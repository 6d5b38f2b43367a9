"""Proximity-boosted BM25: term closeness breaks score ties.

Classic IR refinement the reference's Searcher lacks (its blend is
TF-weight + PageRank only, Searcher.java:240-317): documents where the
query terms appear NEAR each other outrank documents that merely contain
them scattered. Score = BM25 + w * sum over unordered query-term pairs of
1 / (1 + min |pos_a - pos_b|) — the bonus peaks at 1 per pair for
adjacent terms and decays hyperbolically, a standard pairwise-min-dist
formulation (Rasolofo & Savoy 2003 shape).

Distributed shape: the positional index is pruned to query terms with the
same literal IN-list the BM25 scan uses, then the pair distances come
from ONE self-join keyed on (query_id, doc_id) — fan-out per doc is
occ(t1) x occ(t2) of QUERY terms only (bounded by the per-doc query-term
occurrences, not the doc length), and the min/sum aggregations partial-
aggregate map-side. The bonus then LEFT-joins onto the BM25 scores: docs
matching a single term keep bonus 0 and rank purely by BM25 (OR
semantics preserved).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.positions import _PSeg
from .bm25 import (DEFAULT_QUERY_SET, Query, _bm25_raw_scores,
                   analyzed_query_terms)
from .executor import ShardPlan, blocked_array, run_distributed
from .wand import CAND_SCHEMA, _shard_topk, per_query_terms

PROX_W = 1.0  # bonus weight: one adjacent pair ~ one strong BM25 term


def bm25_topk_proximity(spark: SparkSession, term_doc_tf: DataFrame,
                        term_stats: DataFrame, doc_stats: DataFrame,
                        positions: DataFrame,
                        queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                        stem: bool = True, w: float = PROX_W,
                        round_scores: int | None = 6,
                        corpus_stats: tuple[int, float] | None = None
                        ) -> DataFrame:
    """(query_id, rank, doc_id, score): BM25 + pairwise proximity bonus.

    ``positions``: the positional index (doc_id, term, pos) — the same
    table `phrase_match` consumes (pos over the post-analyzer sequence).
    Rank/tie-break discipline identical to `bm25_topk` (rounded score
    desc, doc_id asc), so results are engine-invariant and DuckDB can
    oracle them.
    """
    qrows = analyzed_query_terms(queries, stem=stem)
    if not qrows:
        qrows = [("__none__", "__none__", 0)]
    raw = _bm25_raw_scores(spark, term_doc_tf, term_stats, doc_stats, qrows,
                           corpus_stats=corpus_stats)

    term_list = sorted({t for _, t, _ in qrows})
    qterms = spark.createDataFrame(qrows, "query_id string, term string, k int")
    qpos = (positions.where(F.col("term").isin(term_list))
            .join(F.broadcast(qterms.select("query_id", "term")), "term")
            .select("query_id", "doc_id", "term", "pos"))
    a = qpos.select("query_id", "doc_id", F.col("term").alias("t1"),
                    F.col("pos").alias("p1"))
    b = qpos.select("query_id", "doc_id", F.col("term").alias("t2"),
                    F.col("pos").alias("p2"))
    pairmin = (a.join(b, ["query_id", "doc_id"])
               .where(F.col("t1") < F.col("t2"))
               .groupBy("query_id", "doc_id", "t1", "t2")
               .agg(F.min(F.abs(F.col("p1") - F.col("p2"))).alias("d")))
    bonus = (pairmin.groupBy("query_id", "doc_id")
             .agg(F.sum(1.0 / (1.0 + F.col("d"))).alias("bns")))

    scored = (raw.join(bonus, ["query_id", "doc_id"], "left")
              .withColumn("raw2", F.col("raw_score")
                          + F.lit(float(w)) * F.coalesce("bns", F.lit(0.0))))
    score = F.round(F.col("raw2"), round_scores) if round_scores is not None \
        else F.col("raw2")
    scored = scored.withColumn("score", score)
    win = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                                 F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score"))


def _min_pair_dist(x: np.ndarray, y: np.ndarray) -> int:
    """min |x_i - y_j| over two sorted position arrays — searchsorted
    neighbors only, O((|x|) log |y|), never the cross product."""
    idx = np.searchsorted(y, x)
    big = np.int64(1) << 62
    lo = np.where(idx > 0, x - y[np.maximum(idx - 1, 0)], big)
    hi = np.where(idx < y.size, y[np.minimum(idx, y.size - 1)] - x, big)
    return int(np.minimum(lo, hi).min())


def proximity_plan(packed: DataFrame, packed_pos: DataFrame,
                   queries: tuple[Query, ...],
                   corpus_stats: tuple[int, float], stem: bool = True,
                   w: float = PROX_W, round_scores: int | None = 6,
                   blocked_ids=None) -> ShardPlan | None:
    """`wand_topk_proximity` as an `executor.ShardPlan`: the query terms'
    TF and positional segments (cogrouped per shard), the MaxScore kernel
    with the bonus rerank, rank by rounded score desc. None when no query
    has an analyzed term."""
    qrows = analyzed_query_terms(queries, stem=stem)
    term_list = sorted({t for _, t, _ in qrows})
    if not term_list:
        return None
    n_docs, avgdl = corpus_stats

    def bonus_rerank(query_id, present_terms, docs, scores, psegs):
        """Exact pairwise-min-distance bonus for the surviving pool
        (docs sorted ascending): positions decoded only for the blocks
        holding candidates; pair ordering (t1 < t2 by string) matches
        the declarative/oracle formulation."""
        final = scores.copy()
        uniq = sorted(set(present_terms))
        if len(uniq) < 2 or not psegs:
            return final
        plists = {t: psegs[t].lists_for(docs) for t in uniq if t in psegs}
        for ta, tb in itertools.combinations(sorted(plists), 2):
            la, lb = plists[ta], plists[tb]
            for j in range(docs.size):
                if la[j].size and lb[j].size:
                    final[j] += w / (1.0 + _min_pair_dist(la[j], lb[j]))
        return final

    # ONE kernel with wand: _shard_topk's disjunctive MaxScore branch,
    # prune tests widened by the bonus slack, pool reranked exactly
    base = _shard_topk(per_query_terms(qrows), n_docs, avgdl, round_scores,
                       blocked=blocked_array(blocked_ids),
                       bound_slack=lambda m: w * m * (m - 1) / 2.0,
                       pool_rerank=bonus_rerank)

    def shard_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # co-sharding guard: under a shard-span mismatch the cogroup
        # pairs a TF shard with a positional shard covering a DISJOINT
        # doc range — every bonus would silently come out 0. Fail loudly
        # instead (partial overlap stays legal: boundary shards, purged
        # TF segments). A mismatch always produces at least one fully
        # disjoint pairing beyond shard 0, so this check cannot stay
        # silent across a whole misaligned index.
        if len(left):
            # every TF posting has >= 1 position, so a term scored in
            # this shard MUST have its positional twin here — a missing
            # term means its positions landed in some OTHER shard id
            # (the stale-index / span-mismatch symptom). The converse
            # (positions without TF) stays legal: purge_docs rewrites
            # only the TF side between compactions.
            missing = set(left["term"]) - set(right["term"])
            if missing:
                raise ValueError(
                    "positions are not co-sharded with the packed TF "
                    f"index (terms {sorted(missing)[:3]} have TF "
                    "segments but no positional segment in their "
                    "shard group); build them with "
                    "build_packed_positions(shard_bounds="
                    "compute_shard_bounds(packed))")
            if len(right) and (
                    int(right["first_doc"].min()) > int(left["last_doc"].max())
                    or int(right["last_doc"].max())
                    < int(left["first_doc"].min())):
                raise ValueError(
                    "positions are not co-sharded with the packed TF "
                    "index (disjoint doc ranges inside one shard_id "
                    "group); build them with build_packed_positions("
                    "shard_bounds=compute_shard_bounds(packed))")
        psegs = {r.term: _PSeg(r) for r in right.itertuples(index=False)}
        return base(left, ctx=psegs)

    return ShardPlan((packed.where(F.col("term").isin(term_list)),
                      packed_pos.where(F.col("term").isin(term_list))),
                     shard_fn, CAND_SCHEMA, "score", True, round_scores)


def wand_topk_proximity(spark: SparkSession, packed: DataFrame,
                        packed_pos: DataFrame, doc_stats: DataFrame,
                        queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                        stem: bool = True, w: float = PROX_W,
                        round_scores: int | None = 6,
                        corpus_stats: tuple[int, float] | None = None,
                        blocked_ids=None,
                        final_rank: str = "window") -> DataFrame:
    """`bm25_topk_proximity` served from the COMPRESSED indexes: packed
    TF segments (`index/packed.py`) cogrouped per doc-range shard with
    packed positional segments (`index/positions.py`). Rank-identical to
    the declarative row path (test-enforced; same rounded-score-desc,
    doc-id-asc discipline), one Spark job warm.

    REQUIRES the two packed tables to share the shard_id mapping — build
    the positional side with ``build_packed_positions(shard_bounds=
    compute_shard_bounds(packed))`` so positions co-shard with the TF
    layout (merge levels included); the kernel then sees both halves of
    a doc range in one Arrow group with no row-level join. The contract
    is GUARDED: a shard group whose two sides cover disjoint doc ranges
    (the mismatched-span symptom) raises instead of silently scoring
    every bonus as 0.

    Pruning stays sound under the bonus: a doc's proximity bonus is at
    most ``w * C(m, 2)`` for m query terms (each pair contributes <= 1),
    so MaxScore's remaining-bound and block-max tests carry that slack
    while theta stays the k-th best *BM25-only* pool score — a lower
    bound of the k-th best final score, since the bonus is non-negative.
    Surviving candidates decode ONLY the position blocks that hold them
    (`_PSeg.lists_for`); the exact bonus then reranks the pool.

    ``blocked_ids``: query-time tombstones, dropped at candidate decode
    (same LSM discipline as `wand_topk`).
    """
    if corpus_stats is None:
        stats = doc_stats.collect()[0]
        corpus_stats = (int(stats["n_docs"]), float(stats["avgdl"]))
    plan = proximity_plan(packed, packed_pos, queries, corpus_stats,
                          stem=stem, w=w, round_scores=round_scores,
                          blocked_ids=blocked_ids)
    if plan is None:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score double")
    return run_distributed(spark, plan, final_rank)
