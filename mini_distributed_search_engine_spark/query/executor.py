"""Shard plans and the two executors every packed kernel shares.

A packed kernel (`wand.wand_topk`, `phrase.phrase_match_packed`,
`span.span_near_match`, `proximity.wand_topk_proximity`) splits into a
`ShardPlan`: the segment frame(s) its query terms select, the shard
function that turns one doc-range shard's segments into per-query
candidates, and the order that ranks the candidates globally. Shards
partition the doc space, so per-shard top-k followed by one global rank is
exact. Two executors run a plan:

* `run_distributed`: one Arrow group per shard through
  `groupBy(shard_id).applyInPandas` (`cogroup` for a second frame or an
  allowed-doc side), then the global rank, as a lazy window or a driver
  merge. This is what the public kernel functions return.
* `run_local`: one `toPandas()` per selected frame (Arrow straight off the
  scan, no Python worker), the SAME shard function per shard_id group on
  the driver, then the same rank on the driver. For requests whose
  selected segments are small enough to pull to the driver
  (`engine.SearchEngine` picks the arm per request).

Both arms run one shard function, so they rank identically by
construction; the driver-side rank rounds with `spark_round`, which
reproduces `F.round` bit for bit.
"""

from __future__ import annotations

import decimal
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.packed import _as_sorted_ids


def cand_schema(value: str, dtype: T.DataType) -> T.StructType:
    """Candidate rows of a shard function: (query_id, doc_id, value, k).
    The per-query k rides with every candidate row so the final rank
    filter needs no extra join."""
    return T.StructType([
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField(value, dtype, False),
        T.StructField("k", T.IntegerType(), False),
    ])


@dataclass(frozen=True)
class ShardPlan:
    """``frames``: the selected segment frame(s), each with a shard_id
    column (two frames are cogrouped per shard). ``shard_fn(*shard_pdfs,
    allowed=None)`` returns candidate rows in ``schema``; ``allowed`` (a
    sorted int64 array of doc ids) is passed only to role-filtered plans.
    Candidates rank by (``value`` desc if ``descending`` else asc, doc_id
    asc), after rounding ``value`` to ``round_scores`` digits when set."""
    frames: tuple[DataFrame, ...]
    shard_fn: Callable[..., pd.DataFrame]
    schema: T.StructType
    value: str
    descending: bool
    round_scores: int | None = None

    @property
    def ranked_schema(self) -> T.StructType:
        return T.StructType([
            T.StructField("query_id", T.StringType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("doc_id", T.LongType(), False),
            self.schema[self.value],
        ])


def blocked_array(blocked_ids) -> np.ndarray | None:
    """Tombstones as the sorted int64 array the kernels mask with, or
    None when there are none."""
    if blocked_ids is None:
        return None
    blocked = _as_sorted_ids(blocked_ids)
    return blocked if blocked.size else None


def spark_round(x: np.ndarray, scale: int) -> np.ndarray:
    """`F.round(col, scale)` for doubles, on the driver. Spark rounds
    HALF_UP on the value's decimal string (`BigDecimal.valueOf`); numpy
    and pandas round half-to-even on the binary value, which differs
    exactly at the half-way points. Away from them every method gives the
    nearest multiple of 10**-scale, so numpy does the bulk and only values
    within a few ulps of a half-way point (or too large for an exact
    integer product) take the decimal path. ``scale`` >= 0."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(over="ignore", invalid="ignore"):
        t = x * 10.0 ** scale
        out = np.rint(t) / 10.0 ** scale
        slow = ~(np.abs(t) < 2.0 ** 52) | (
            np.abs(np.abs(t - np.trunc(t)) - 0.5)
            <= 16 * np.spacing(np.abs(t)))
    finite = np.isfinite(x)
    slow &= finite
    if slow.any():
        q = decimal.Decimal(1).scaleb(-scale)
        ctx = decimal.Context(prec=400)
        out[slow] = [float(decimal.Decimal(repr(float(v))).quantize(
            q, rounding=decimal.ROUND_HALF_UP, context=ctx)) for v in x[slow]]
    out[~finite] = x[~finite]
    return out + 0.0  # Spark's BigDecimal has no negative zero


def rank_pandas(cands: pd.DataFrame, value: str,
                descending: bool) -> pd.DataFrame:
    """Global per-query top-k of candidate rows: order by (value,
    doc_id asc), number from 1, keep rank <= the row's k. Returns
    (query_id, rank, doc_id, value)."""
    out = cands.sort_values(["query_id", value, "doc_id"],
                            ascending=[True, not descending, True],
                            kind="mergesort")
    out = out.assign(rank=(out.groupby("query_id", sort=False).cumcount()
                           + 1).astype("int32"))
    out = out[out["rank"] <= out["k"]]
    return out[["query_id", "rank", "doc_id", value]].reset_index(drop=True)


def run_local(plan: ShardPlan,
              allowed: np.ndarray | None = None) -> pd.DataFrame:
    """Run ``plan`` on the driver: fetch each selected frame once, call
    the shard function per shard_id group (a shard missing from one of
    two frames gets an empty frame, as a cogroup would) and rank.
    ``allowed``: the sorted allowed doc ids of a role-filtered plan —
    every shard gets the whole array (candidates only come from the
    shard's own segments, so this equals the per-shard slice).
    Returns (query_id, rank, doc_id, value) as pandas."""
    pdfs = [f.toPandas() for f in plan.frames]
    by_shard = [dict(tuple(p.groupby("shard_id", sort=False))) for p in pdfs]
    kw = {} if allowed is None else {"allowed": allowed}
    parts = [plan.shard_fn(*(g.get(sid, p.iloc[:0])
                             for g, p in zip(by_shard, pdfs)), **kw)
             for sid in sorted(set().union(*by_shard))]
    parts = [p for p in parts if len(p)]
    if not parts:
        return pd.DataFrame({"query_id": pd.Series(dtype="str"),
                             "rank": pd.Series(dtype="int32"),
                             "doc_id": pd.Series(dtype="int64"),
                             plan.value: pd.Series(dtype="float64")})
    cands = pd.concat(parts, ignore_index=True)
    if plan.round_scores is not None:
        cands[plan.value] = spark_round(cands[plan.value].to_numpy(),
                                        plan.round_scores)
    return rank_pandas(cands, plan.value, plan.descending)


def run_distributed(spark: SparkSession, plan: ShardPlan,
                    final_rank: str = "window",
                    allowed: DataFrame | None = None) -> DataFrame:
    """Run ``plan`` as one Spark job: one Arrow group per shard, then the
    global rank. ``allowed``: a (shard_id, doc_id) frame cogrouped with
    the single segment frame; each shard's sorted ids reach the shard
    function as ``allowed=``.

    ``final_rank``:
    * ``"window"``: a Window.partitionBy(query_id) rank — stays
      lazy/composable, costs one exchange + stage per request.
    * ``"driver"``: collect the candidates (<= shards x k rows) and rank
      them on the driver with the IDENTICAL order — the reference
      Searcher's own shape (`jobs/Searcher.java:234-244`, a PriorityQueue
      over fetched postings). One fewer stage; EAGER (runs the job at
      call time)."""
    if final_rank not in ("window", "driver"):
        raise ValueError(f"final_rank must be 'window' or 'driver', "
                         f"got {final_rank!r}")
    fn = plan.shard_fn  # the UDFs below must not capture the plan's frames
    segs = plan.frames[0].groupBy("shard_id")
    if allowed is not None:
        def with_allowed(left: pd.DataFrame,
                         right: pd.DataFrame) -> pd.DataFrame:
            return fn(left, allowed=np.sort(
                right["doc_id"].to_numpy(dtype=np.int64)))
        cands = (segs.cogroup(allowed.groupBy("shard_id"))
                 .applyInPandas(with_allowed, plan.schema))
    elif len(plan.frames) == 2:
        def pair(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            return fn(left, right)
        cands = (segs.cogroup(plan.frames[1].groupBy("shard_id"))
                 .applyInPandas(pair, plan.schema))
    else:
        def one(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(pdf)
        cands = segs.applyInPandas(one, plan.schema)
    if plan.round_scores is not None:
        cands = cands.withColumn(plan.value, F.round(F.col(plan.value),
                                                     plan.round_scores))
    if final_rank == "driver":
        return _driver_rank(spark, cands, plan)
    v = F.col(plan.value)
    w = Window.partitionBy("query_id").orderBy(
        v.desc() if plan.descending else v.asc(), F.col("doc_id").asc())
    return (cands.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", plan.value))


def _driver_rank(spark: SparkSession, cands: DataFrame,
                 plan: ShardPlan) -> DataFrame:
    """Collect the (already rounded) candidates and rank them on the
    driver with `rank_pandas`, returned as a LocalRelation."""
    cols = ["query_id", "doc_id", plan.value, "k"]
    rows = cands.select(*cols).collect()
    ranked = rank_pandas(pd.DataFrame(rows, columns=cols), plan.value,
                         plan.descending)
    # pandas input -> Arrow LocalRelation: a list input would round-trip
    # through sc.parallelize and every downstream collect would schedule a
    # defaultParallelism-task job (measured ~0.3 s vs ~0.02 s for the
    # LocalRelation — more than the exchange this mode exists to save).
    # An EMPTY pandas frame falls off the Arrow path (LogicalRDD with
    # defaultParallelism empty partitions — a 32-task job per collect, as
    # is createDataFrame([], schema)); a one-row LocalRelation filtered
    # to WHERE false constant-folds to an empty LocalRelation instead
    # (driver-only collect, ~0.05 s vs ~0.4 s measured).
    if ranked.empty:
        zero = 0.0 if isinstance(plan.schema[plan.value].dataType,
                                 T.DoubleType) else 0
        one = pd.DataFrame({"query_id": ["x"],
                            "rank": pd.Series([1], dtype="int32"),
                            "doc_id": pd.Series([0], dtype="int64"),
                            plan.value: [zero]})
        return (spark.createDataFrame(one, schema=plan.ranked_schema)
                .where(F.lit(False)))
    return spark.createDataFrame(ranked, schema=plan.ranked_schema)
