"""Span / near retrieval: all query terms within a token window.

The third member of the positional query family (phrase = exact
adjacency, proximity = soft distance bonus, span = hard window
predicate): a doc qualifies iff it contains EVERY analyzed query term
and some choice of one occurrence per term fits inside a window of
``window`` tokens — ``min_span`` = min over (p_1..p_m), one position per
term, of max(p_i) - min(p_i), and the doc matches iff min_span < window.
Ranking: tightest span first (min_span ASC, doc_id ASC) — deterministic,
so DuckDB can oracle it (the oracle computes the same minimum by brute
force over the per-doc position cross product; the kernel computes it
with the classic sorted-merge sliding window, O(total positions) per
doc).

Beyond the reference (its count-only index cannot express windows,
`jobs/Indexer.java:309-415`); standard IR surface a transcript-search
user expects ("error" near "timeout").

Distributed shape: identical to `phrase.phrase_match_packed` — literal
term IN-list prunes the packed positional segments, one Arrow group per
doc-range shard, candidate docs intersect on gap streams alone, only
the position blocks holding candidates decode, per-shard top-k then the
global rank (shards partition the doc space, so this is exact).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.positions import _PSeg
from .bm25 import Query, analyzed_query_terms
from .executor import ShardPlan, blocked_array, cand_schema, run_distributed
from .wand import _in_sorted, per_query_terms

_CAND_SCHEMA = cand_schema("min_span", T.LongType())

DEFAULT_WINDOW = 8

# Span query set over the sf documents vocabulary: common pair, rare
# triple, hot+rare mix, absent term (empty), single term (min_span 0).
SPAN_QUERY_SET: tuple[Query, ...] = (
    Query("s01", "table scan", k=100),
    Query("s02", "merge sort batch", k=100),
    Query("s03", "window dup", k=100),
    Query("s04", "fast zzzznotaterm", k=100),
    Query("s05", "vector", k=20),
)


def _min_span(lists: list[np.ndarray]) -> int:
    """Minimal window covering one position from every list (all sorted,
    non-empty): merge positions tagged by source list, slide a two-pointer
    window until every list is represented — O(total log total)."""
    if len(lists) == 1:
        return 0
    arr = np.concatenate(lists)
    lid = np.concatenate([np.full(a.size, i, dtype=np.int64)
                          for i, a in enumerate(lists)])
    o = np.argsort(arr, kind="stable")
    arr, lid = arr[o], lid[o]
    need = len(lists)
    cnt = np.zeros(need, dtype=np.int64)
    have = 0
    best = np.iinfo(np.int64).max
    left = 0
    for right in range(arr.size):
        c = lid[right]
        cnt[c] += 1
        if cnt[c] == 1:
            have += 1
        while have == need:
            span = int(arr[right] - arr[left])
            if span < best:
                best = span
            cl = lid[left]
            cnt[cl] -= 1
            if cnt[cl] == 0:
                have -= 1
            left += 1
    return int(best)


def span_plan(packed_pos: DataFrame, queries: tuple[Query, ...],
              window: int = DEFAULT_WINDOW, stem: bool = True,
              blocked_ids=None) -> ShardPlan | None:
    """`span_near_match` as an `executor.ShardPlan`: the query terms'
    positional segments, the sliding-window shard kernel, rank by
    min_span asc. None when no query has an analyzed term."""
    qrows = analyzed_query_terms(queries, stem=stem)
    if not qrows:
        return None
    per_query = per_query_terms(qrows)
    term_list = sorted({t for _, t, _ in qrows})
    blocked = blocked_array(blocked_ids)
    w_lim = int(window)

    def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = {r.term: _PSeg(r) for r in pdf.itertuples(index=False)}
        out_q, out_d, out_s, out_k = [], [], [], []
        for query_id, terms, k in per_query:
            uniq = sorted(set(terms))
            if any(t not in segs for t in uniq) or k <= 0:
                continue  # a term absent from this shard -> no match here
            cand = functools.reduce(
                np.intersect1d, (segs[t].docs() for t in uniq))
            if blocked is not None and cand.size:
                cand = cand[~_in_sorted(cand, blocked)]
            if cand.size == 0:
                continue
            plists = {t: segs[t].lists_for(cand) for t in uniq}
            hits_d, hits_s = [], []
            for j in range(cand.size):
                span = _min_span([plists[t][j] for t in uniq])
                if span < w_lim:
                    hits_d.append(int(cand[j]))
                    hits_s.append(span)
            if not hits_d:
                continue
            nd = np.array(hits_d, dtype=np.int64)
            ns = np.array(hits_s, dtype=np.int64)
            take = min(k, nd.size)
            order = np.lexsort((nd, ns))[:take]
            out_q += [query_id] * take
            out_k += [k] * take
            out_d.append(nd[order])
            out_s.append(ns[order])
        if not out_q:
            return pd.DataFrame({"query_id": pd.Series(dtype="str"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "min_span": pd.Series(dtype="int64"),
                                 "k": pd.Series(dtype="int32")})
        return pd.DataFrame({"query_id": out_q,
                             "doc_id": np.concatenate(out_d),
                             "min_span": np.concatenate(out_s),
                             "k": np.array(out_k, dtype="int32")})

    return ShardPlan((packed_pos.where(F.col("term").isin(term_list)),),
                     shard_fn, _CAND_SCHEMA, "min_span", False)


def span_near_match(spark: SparkSession, packed_pos: DataFrame,
                    queries: tuple[Query, ...] = SPAN_QUERY_SET,
                    window: int = DEFAULT_WINDOW,
                    stem: bool = True,
                    blocked_ids=None) -> DataFrame:
    """Top-k near-matches per query: (query_id, rank, doc_id, min_span),
    min_span < window, ranked (min_span ASC, doc_id ASC).

    ``blocked_ids``: query-time tombstones, dropped before any position
    decode (same LSM discipline as the phrase/WAND kernels)."""
    plan = span_plan(packed_pos, queries, window=window, stem=stem,
                     blocked_ids=blocked_ids)
    if plan is None:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, min_span long")
    return run_distributed(spark, plan)


def span_count_pandas(docs_terms: list[list[str]], query_text: str,
                      stem: bool = True) -> list[int | None]:
    """Brute-force oracle (test-only): per doc, the minimal covering span
    of the query's distinct analyzed terms (None when a term is absent)."""
    from ..functions.analyzer import analyze
    import itertools
    uniq = sorted(set(analyze(query_text, stem=stem)))
    out: list[int | None] = []
    for terms in docs_terms:
        poss = [[i for i, t in enumerate(terms) if t == u] for u in uniq]
        if not uniq or any(not p for p in poss):
            out.append(None)
            continue
        best = min(max(c) - min(c) for c in itertools.product(*poss))
        out.append(best)
    return out
