"""The shared shard-plan executors: driver-side rounding that matches
Spark's `F.round`, and the driver-side rank order."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.query.executor import (
    rank_pandas, spark_round)


def _tie_adjacent() -> np.ndarray:
    """Doubles at and one ulp either side of a half-way point at 6
    decimals (k + 5e-7), plus random scores and edge values."""
    bases = np.array([0.0, 1.0, 2.0, 2.5, 3.141592, 7.000001, 12.345678,
                      19.999999, 100.0, 1234.5, 0.000001])
    mids = np.concatenate([bases + 5e-7, bases + 1.5e-6, -(bases + 5e-7)])
    vals = np.concatenate([mids, np.nextafter(mids, np.inf),
                           np.nextafter(mids, -np.inf)])
    rng = np.random.default_rng(11)
    return np.concatenate([vals, rng.uniform(0, 40, 500),
                           [0.0, -0.0, 5e-7, 4.9999999e-7, 1e300, 1e-300]])


def test_spark_round_matches_f_round(spark):
    x = _tie_adjacent()
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(x.size),
                                             "x": x}))
    got = {r["i"]: r["r"] for r in
           df.select("i", F.round("x", 6).alias("r")).collect()}
    want = np.array([got[i] for i in range(x.size)])
    mine = spark_round(x, 6)
    bad = np.nonzero(mine != want)[0]
    assert bad.size == 0, [(x[i], mine[i], want[i]) for i in bad[:5]]
    # the helper is needed: numpy's half-to-even rounding differs on some
    # of these half-way points
    assert (np.round(x, 6) != want).any()


def test_rank_pandas_order_and_cut():
    cands = pd.DataFrame({"query_id": ["a", "a", "a", "b", "b"],
                          "doc_id": [5, 2, 9, 1, 3],
                          "score": [1.0, 1.0, 2.0, 0.5, 0.7],
                          "k": [2, 2, 2, 5, 5]})
    out = rank_pandas(cands, "score", descending=True)
    assert out.values.tolist() == [["a", 1, 9, 2.0], ["a", 2, 2, 1.0],
                                   ["b", 1, 3, 0.7], ["b", 2, 1, 0.5]]
    asc = rank_pandas(cands.rename(columns={"score": "span"}), "span",
                      descending=False)
    assert asc["doc_id"].tolist() == [2, 5, 1, 3]
