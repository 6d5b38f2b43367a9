"""SearchEngine end-to-end over a StagedIndexBuild root, packed vs
exhaustive parity, and the skew bound on packed segment sizes."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import build_packed_postings
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query import engine as engine_mod
from mini_distributed_search_engine_spark.query.engine import SearchEngine
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("engine_idx")
    tr = spark.createDataFrame(synthesize_transcripts_pdf(50, seed=21))
    StagedIndexBuild(spark, str(root), run_id="eng").run(
        tr, shard_span=64, merge_factor=4)
    return str(root)


def test_engine_packed_matches_exhaustive(spark, index_root):
    qs = (Query("a", "apple banana"), Query("b", "spark index"),
          Query("c", "running search", k=25))
    packed_eng = SearchEngine(spark, index_root, use_packed=True)
    exact_eng = SearchEngine(spark, index_root, use_packed=False)
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in packed_eng.search_batch(qs).collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in exact_eng.search_batch(qs).collect())
    assert a == b and len(a) > 0


def test_engine_hydrated_search(spark, index_root):
    eng = SearchEngine(spark, index_root)
    rows = eng.search("apple", k=5)
    assert rows and rows[0]["rank"] == 1
    assert all(r["conv_id"].startswith("conv") and len(r["snippet"]) > 0
               for r in rows)


def test_packed_segments_bounded_under_skew(spark):
    """Doc-range sharding must bound every (term, shard) group even when one
    term owns ~40% of all postings (the hot role-token fixture)."""
    tr = spark.createDataFrame(
        synthesize_transcripts_pdf(60, seed=3, hot_token_frac=0.4))
    idx = build_index(tr)
    avgdl = idx.doc_stats.collect()[0]["avgdl"]
    span = 32
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=span)
    mx = packed.agg(F.max("df")).collect()[0][0]
    assert mx <= span
    # hot terms exist and are split across multiple shards
    hot = (packed.groupBy("term").agg(F.count("*").alias("n_shards"),
                                      F.sum("df").alias("gdf"))
           .orderBy(F.col("gdf").desc()).first())
    assert hot["n_shards"] > 1


def test_engine_and_mode_and_phrase(spark, index_root):
    """mode='and' agrees between packed and exhaustive and is a subset of
    OR; search_phrase returns occurrence-ranked rows matching a manual
    recount on the hydrated text."""
    packed_eng = SearchEngine(spark, index_root, use_packed=True)
    exact_eng = SearchEngine(spark, index_root, use_packed=False)
    qs = (Query("a", "apple banana", k=100), Query("b", "running search", k=100))
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in packed_eng.search_batch(qs, mode="and").collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in exact_eng.search_batch(qs, mode="and").collect())
    assert a == b
    and_docs = {(q, d) for q, _, d, _ in a}
    or_docs = {(r["query_id"], r["doc_id"])
               for r in packed_eng.search_batch(qs).collect()}
    assert and_docs <= or_docs

    rows = packed_eng.search_phrase("apple banana", k=10)
    assert rows == sorted(rows, key=lambda r: r["rank"])
    if rows:
        assert all(r["n_occ"] >= 1 for r in rows)

    with pytest.raises(ValueError):
        packed_eng.search_batch(qs, mode="not-a-mode")


def test_engine_suggest(spark, index_root):
    eng = SearchEngine(spark, index_root)
    out = eng.suggest("s", n=5)
    assert 0 < len(out) <= 5
    assert all(t.startswith("s") for t in out)
    assert out == eng.suggest("s", n=5)  # stable ordering


def test_serve_job_loop(spark, index_root):
    """The stdin serving loop: warm engine, mixed request kinds, latencies
    recorded, bad requests answered without killing the loop."""
    import io
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    from serve_job import serve

    eng = SearchEngine(spark, index_root)
    inp = io.StringIO("or 5 apple banana\n"
                      "and 5 apple banana\n"
                      "role user 5 apple banana\n"
                      "role of the moderator\n"
                      "suggest 3 s\n"
                      "stats\n"
                      "phrase 5 apple banana\n"
                      "proximity 5 apple banana\n"
                      "near 5 10 apple banana\n"
                      "near 5 apple banana\n"
                      "near the end of the story\n"
                      "or notanint bad request\n"
                      "quit\n"
                      "or 5 never reached\n")
    out = io.StringIO()
    lats = serve(eng, inp=inp, out=out)
    text = out.getvalue()
    assert len(lats) == 9  # ...plus the plain-text 'near the end' search
    assert "err\tusage: near" in text  # missing window != silent search
    assert "rank=1" in text and "n_docs=" in text
    assert "err\tValueError" in text
    assert "never reached" not in text


def test_engine_role_filtered_search(spark, index_root):
    eng = SearchEngine(spark, index_root)   # packed engine: the filter is
    rows = eng.search("apple banana", k=50, role="user")  # masked IN-kernel
    assert rows, "filtered search returned nothing"
    assert all(r["role"] == "user" for r in rows)
    # filtered results are the role-subset of unfiltered scoring: every
    # filtered hit appears in the unfiltered list with the SAME score
    unfiltered = {r["doc_id"]: r["score"]
                  for r in eng.search("apple banana", k=1000, role=None)}
    for r in rows:
        assert unfiltered.get(r["doc_id"]) == r["score"]
    # the packed path serves AND + role too (kernel-side mask after the
    # posting-list intersection)
    and_rows = eng.search("apple banana", k=50, mode="and", role="user")
    assert all(r["role"] == "user" for r in and_rows)
    and_ids = {r["doc_id"] for r in and_rows}
    assert and_ids <= {r["doc_id"] for r in rows}  # AND subset of OR
    # the exhaustive engine still refuses AND + role (no kernel to mask in)
    tf_eng = SearchEngine(spark, index_root, use_packed=False)
    with pytest.raises(ValueError, match="role"):
        tf_eng.search("apple", mode="and", role="user")
    # and the packed + exhaustive OR paths rank-agree under the filter
    tf_rows = tf_eng.search("apple banana", k=50, role="user")
    assert [(r["rank"], r["doc_id"], r["score"]) for r in rows] == \
        [(r["rank"], r["doc_id"], r["score"]) for r in tf_rows]


def test_engine_bucketed_mode_zero_exchange(spark, index_root, tmp_path):
    """Engine mode over the bucketed catalog tables (VERDICT r3 #5): a
    fresh session re-registers from the descriptor, search results match
    the plain exhaustive engine, and the full-width IDF-attach join over
    the engine's own frames plans with zero term exchange."""
    from mini_distributed_search_engine_spark.index.build import (
        write_index_bucketed)
    tf = spark.read.parquet(f"{index_root}/term_doc_tf/data")
    ts = spark.read.parquet(f"{index_root}/stats/term_stats")
    names = write_index_bucketed(tf, ts, "eng_bucketed", str(tmp_path),
                                 buckets=8)
    try:
        # fresh-session simulation: drop the writer's catalog entries;
        # the engine must rebuild them from _bucketed.json
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
        eng = SearchEngine(spark, index_root, use_packed=False,
                           bucketed_path=str(tmp_path))
        plain = SearchEngine(spark, index_root, use_packed=False)
        qs = (Query("a", "apple banana"), Query("b", "spark index", k=25))
        a = sorted((r["query_id"], r["rank"], r["doc_id"],
                    round(r["score"], 6))
                   for r in eng.search_batch(qs).collect())
        b = sorted((r["query_id"], r["rank"], r["doc_id"],
                    round(r["score"], 6))
                   for r in plain.search_batch(qs).collect())
        assert a == b and len(a) > 0
        # the zero-exchange contract, on the engine's own frames
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (eng.tf.join(eng.term_stats, "term")
                      .groupBy("term")
                      .agg(F.sum(F.col("tf") * F.col("df")).alias("w")))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert plan.count("Exchange hashpartitioning(term") == 0, plan
            assert "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def _fake_embeddings(spark, n: int, path: str, dim: int = 8):
    import numpy as np
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_engine_hybrid_matches_batch_hybrid(spark, index_root, tmp_path):
    """The WARM hybrid serving path (packed-WAND lexical + partitioned-IVF
    semantic, fused per request) must produce exactly the batch
    `hybrid_ann_topk` fusion on the same corpus — the serving path changes
    the physical plan, not the candidates or the RRF arithmetic."""
    from mini_distributed_search_engine_spark.query.hybrid import (
        hybrid_ann_topk)
    emb_path = str(tmp_path / "emb")
    emb = _fake_embeddings(spark, 200, emb_path)
    eng = SearchEngine(spark, index_root)
    eng.warm_hybrid(emb_path, str(tmp_path / "ivf"))
    got = eng.search_hybrid("apple banana", query_vec_id=3, k=10,
                            hydrate=False)
    idx = build_index(
        spark.createDataFrame(synthesize_transcripts_pdf(50, seed=21)))
    want = hybrid_ann_topk(spark, idx.term_doc_tf, idx.term_stats,
                           idx.doc_stats, emb,
                           pairs=(("q", "apple banana", 3),), k=10).collect()
    idx.unpersist()
    g = [(r["rank"], r["doc_id"], r["rrf"]) for r in got]
    w = sorted((r["rank"], r["doc_id"], r["rrf"]) for r in want)
    assert g == w and len(g) > 0
    # hydrated variant carries display metadata
    hyd = eng.search_hybrid("apple banana", query_vec_id=3, k=5)
    assert hyd and {"conv_id", "snippet", "rrf"} <= set(hyd[0].asDict())
    assert [(r["rank"], r["doc_id"], r["rrf"]) for r in hyd] == g[:5]
    meta = {r["doc_id"]: (r["conv_id"], r["turn_idx"], r["role"])
            for r in eng.docs.collect()}
    assert all(meta.get(r["doc_id"], (None,) * 3)
               == (r["conv_id"], r["turn_idx"], r["role"]) for r in hyd)


def test_engine_packed_bucketed_no_warmup_shuffle(spark, index_root,
                                                  tmp_path):
    """write_packed_bucketed + SearchEngine(packed_bucketed_path=...):
    rank parity with the plain engine, the cached packed frame is the
    bucketed scan with NO exchange anywhere in its plan (the warmup
    repartition shuffle is gone), and the per-query WAND stage stays
    exchange-free on shard_id through the InMemoryRelation."""
    from mini_distributed_search_engine_spark.index.build import (
        write_packed_bucketed)
    packed = spark.read.parquet(f"{index_root}/merged/data")
    name = write_packed_bucketed(packed, str(tmp_path), buckets=8,
                                 table_name="t_packed_bucketed")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {name}")   # fresh-session story
        eng = SearchEngine(spark, index_root,
                           packed_bucketed_path=str(tmp_path))
        cache_plan = eng.packed._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in cache_plan, cache_plan
        assert "Bucketed: true" in cache_plan, cache_plan
        qs = (Query("a", "apple banana"), Query("b", "spark index", k=25))
        qdf = eng.search_batch(qs)
        qplan = qdf._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(shard_id" not in qplan, qplan
        plain = SearchEngine(spark, index_root)
        a = sorted((r["query_id"], r["rank"], r["doc_id"],
                    round(r["score"], 6)) for r in qdf.collect())
        b = sorted((r["query_id"], r["rank"], r["doc_id"],
                    round(r["score"], 6))
                   for r in plain.search_batch(qs).collect())
        assert a == b and len(a) > 0
        # the filtered path works over the bucketed cache too
        rows = eng.search("apple banana", k=20, role="user")
        assert rows and all(r["role"] == "user" for r in rows)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_search_hybrid_rejects_unknown_vec(spark, index_root, tmp_path):
    """An unknown query_vec_id must raise ValueError (-> HTTP 400), not
    silently degrade to a lexical-only ranking; and warm_hybrid must
    rebuild a layout whose _ivf_meta.json does not match."""
    import json
    from pathlib import Path
    emb_path = str(tmp_path / "emb2")
    _fake_embeddings(spark, 200, emb_path)
    eng = SearchEngine(spark, index_root)
    ivf_root = str(tmp_path / "ivf2")
    eng.warm_hybrid(emb_path, ivf_root)
    with pytest.raises(ValueError, match="not found in"):
        eng.search_hybrid("apple", query_vec_id=99_999)
    # stale-layout guard: tamper with the meta -> re-warm rewrites it
    meta_p = Path(ivf_root) / "_ivf_meta.json"
    m = json.loads(meta_p.read_text())
    assert m["n_vecs"] == 200
    meta_p.write_text(json.dumps({**m, "n_vecs": 1}))
    eng.warm_hybrid(emb_path, ivf_root)      # mismatched meta -> rewrite
    assert json.loads(meta_p.read_text())["n_vecs"] == 200
    rows = eng.search_hybrid("apple banana", query_vec_id=3, k=5)
    assert rows
    # tombstones mask the hybrid path too, and the semantic-leg survivors
    # are re-ranked (contiguous ranks, no RRF-weight gap)
    victim = rows[0]["doc_id"]
    eng.delete_docs([victim])
    after = eng.search_hybrid("apple banana", query_vec_id=3, k=5)
    assert victim not in {r["doc_id"] for r in after}
    assert sorted(r["rank"] for r in after) == list(range(1, len(after) + 1))


def test_engine_delete_docs_masks_every_path(spark, index_root):
    """Tombstoned docs vanish from packed, exhaustive, role-filtered and
    phrase results without touching the at-rest index; the packed and
    exhaustive paths stay rank-identical under the same tombstones."""
    packed_eng = SearchEngine(spark, index_root, use_packed=True)
    exact_eng = SearchEngine(spark, index_root, use_packed=False)
    base = packed_eng.search("apple banana", k=10, hydrate=False)
    assert base, "fixture must rank something"
    victims = [base[0]["doc_id"], base[1]["doc_id"]] if len(base) > 1 \
        else [base[0]["doc_id"]]
    assert packed_eng.delete_docs(victims) == len(victims)
    exact_eng.delete_docs(victims)

    qs = (Query("a", "apple banana"), Query("b", "spark index"))
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in packed_eng.search_batch(qs).collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in exact_eng.search_batch(qs).collect())
    assert a == b and a
    assert not {d for _, _, d, _ in a} & set(victims)

    # role-filtered packed path composes the allowed mask with tombstones
    rows = packed_eng.search("apple banana", k=10, hydrate=False,
                             role="user")
    assert not {r["doc_id"] for r in rows} & set(victims)

    # phrase path: tombstone a doc known to match, confirm it disappears
    ph = packed_eng.search_phrase("apple banana", k=10)
    if ph:
        packed_eng.delete_docs([ph[0]["doc_id"]])
        after = packed_eng.search_phrase("apple banana", k=10)
        assert ph[0]["doc_id"] not in {r["doc_id"] for r in after}

    # a fresh engine on the same root sees everything again (deletes are
    # engine-local metadata until purge_docs compaction)
    fresh = SearchEngine(spark, index_root, use_packed=True)
    again = fresh.search("apple banana", k=10, hydrate=False)
    assert {r["doc_id"] for r in again} & set(victims)


def test_engine_proximity_and_packed_phrase(spark, index_root):
    """mode='proximity' agrees between the packed cogroup kernel and the
    declarative row path; search_phrase serves identically from the packed
    positional segments (built lazily, co-sharded with the live TF
    layout) and from the row positions table."""
    packed_eng = SearchEngine(spark, index_root, use_packed=True)
    exact_eng = SearchEngine(spark, index_root, use_packed=False)
    qs = (Query("a", "apple banana"), Query("b", "spark index"),
          Query("c", "running search", k=25), Query("d", "apple"))
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in packed_eng.search_batch(qs, mode="proximity").collect())
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
               for r in exact_eng.search_batch(qs, mode="proximity").collect())
    assert a == b and len(a) > 0
    # serving entry: ranked, hydrated, and >= the plain BM25 score for the
    # same doc (the bonus is non-negative)
    rows = packed_eng.search_proximity("apple banana", k=5)
    assert rows and [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    plain = {r["doc_id"]: r["score"] for r in
             packed_eng.search("apple banana", k=500)}
    assert all(r["score"] >= plain[r["doc_id"]] - 1e-9 for r in rows)
    with pytest.raises(ValueError):
        packed_eng.search_batch(qs, mode="proximity", role="user")
    # phrase: packed kernel == declarative rows
    pp = [(r["rank"], r["doc_id"], r["n_occ"])
          for r in packed_eng.search_phrase("apple banana", k=20)]
    pe = [(r["rank"], r["doc_id"], r["n_occ"])
          for r in exact_eng.search_phrase("apple banana", k=20)]
    assert pp == pe


def test_engine_proximity_respects_tombstones(spark, index_root):
    """Deleted docs disappear from proximity and packed-phrase results."""
    eng = SearchEngine(spark, index_root, use_packed=True)
    base = eng.search_proximity("apple banana", k=10, hydrate=False)
    assert base
    victim = base[0]["doc_id"]
    eng.delete_docs([victim])
    after = eng.search_proximity("apple banana", k=10, hydrate=False)
    assert victim not in {r["doc_id"] for r in after}
    ph = eng.search_phrase("apple banana", k=50)
    assert victim not in {r["doc_id"] for r in ph}


def test_pipeline_positions_packed_stage(spark, tmp_path_factory):
    """StagedIndexBuild(positions=True) commits a positions_packed stage
    co-sharded with the merged TF layout; the engine serves proximity and
    phrase from it with answers identical to the stage-less fallback."""
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    root = tmp_path_factory.mktemp("eng_pos_idx")
    tr = spark.createDataFrame(synthesize_transcripts_pdf(50, seed=21))
    status = StagedIndexBuild(spark, str(root), run_id="engp").run(
        tr, shard_span=64, merge_factor=4, positions=True)
    assert status["positions_packed"] == "built"
    # stage contents == row positions
    rows = spark.read.parquet(f"{root}/positions/data")
    packed = spark.read.parquet(f"{root}/positions_packed/data")
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in rows.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(packed).collect())
    assert got == want
    eng = SearchEngine(spark, str(root), use_packed=True)
    assert eng._packed_positions_df() is not None
    # served from the committed stage (co-sharded by construction)
    rows_p = eng.search_proximity("apple banana", k=5, hydrate=False)
    rows_f = eng.search_phrase("apple banana", k=5)
    exact = SearchEngine(spark, str(root), use_packed=False)
    assert ([(r["rank"], r["doc_id"], round(r["score"], 6)) for r in rows_p]
            == [(r["rank"], r["doc_id"], round(r["score"], 6)) for r in
                exact.search_proximity("apple banana", k=5, hydrate=False)])
    assert ([(r["rank"], r["doc_id"], r["n_occ"]) for r in rows_f]
            == [(r["rank"], r["doc_id"], r["n_occ"]) for r in
                exact.search_phrase("apple banana", k=5)])


def _near_reference(eng, text: str, k: int, window: int, tomb: set):
    """Brute-force span search over the doc store's analyzed texts."""
    from mini_distributed_search_engine_spark.functions.analyzer import (
        analyze)
    from mini_distributed_search_engine_spark.query.span import (
        span_count_pandas)
    docs = sorted((r["doc_id"], r["text"])
                  for r in eng.docs.select("doc_id", "text").collect())
    spans = span_count_pandas([analyze(t) for _, t in docs], text)
    hits = sorted(((s, d) for (d, _), s in zip(docs, spans)
                   if s is not None and s < window and d not in tomb))
    return [(i, d, s) for i, (s, d) in enumerate(hits[:k], start=1)]


_ROUTES = {  # route -> (call on an engine, value column of its rows)
    "or": (lambda e: e.search("apple banana", k=20, hydrate=False), "score"),
    "and": (lambda e: e.search("apple banana", k=20, hydrate=False,
                               mode="and"), "score"),
    "role": (lambda e: e.search("apple banana", k=20, hydrate=False,
                                role="user"), "score"),
    "phrase": (lambda e: e.search_phrase("apple banana", k=20), "n_occ"),
    "near": (lambda e: e.search_near("apple banana", k=20, window=10),
             "min_span"),
    "proximity": (lambda e: e.search_proximity("apple banana", k=20,
                                               hydrate=False), "score"),
}


def _with_switch_point(monkeypatch, value: int, fn):
    """Run ``fn`` with the engine's local-arm switch point at ``value``
    bytes in every segment family (negative: every request
    distributed)."""
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "LOCAL_ARM_MAX_BYTES",
                  {"tf": value, "pos": value})
        return fn()


@pytest.mark.parametrize("tombstones", [False, True])
def test_engine_two_arm_parity(spark, index_root, tombstones,
                               monkeypatch):
    """Every eager route gives the same rows on the local arm (the
    fixture's segments fit under the default switch point), the
    distributed arm (switch point -1) and the exhaustive reference, with
    and without tombstones; the engine counts each request under its
    arm."""
    eng = SearchEngine(spark, index_root)
    exact = SearchEngine(spark, index_root, use_packed=False)
    tomb: set[int] = set()
    if tombstones:
        base = eng.search("apple banana", k=3, hydrate=False)
        tomb = {r["doc_id"] for r in base}
        near = eng.search_near("apple banana", k=1, window=10)
        tomb |= {r["doc_id"] for r in near}
        eng.delete_docs(tomb)
        exact.delete_docs(tomb)
    for route, (call, value) in _ROUTES.items():
        before = eng.served_counts()
        local = call(eng)
        mid = eng.served_counts()
        dist = _with_switch_point(monkeypatch, -1, lambda: call(eng))
        after = eng.served_counts()
        assert mid["local"] == before["local"] + 1, route
        assert after["distributed"] == mid["distributed"] + 1, route
        got = [(r["rank"], r["doc_id"], r[value]) for r in local]
        assert got == [(r["rank"], r["doc_id"], r[value]) for r in dist], \
            route
        if route == "near":
            want = _near_reference(eng, "apple banana", 20, 10, tomb)
        else:
            want = [(r["rank"], r["doc_id"], r[value]) for r in call(exact)]
        assert got == want, route
        assert got or route in ("and", "phrase"), route
        assert not {d for _, d, _ in got} & tomb, route


def test_engine_local_arm_hydrates_like_join(spark, index_root,
                                             monkeypatch):
    """The local arm's `doc_id IN (...)` hydrate returns the rows the
    distributed arm's results get, field for field; a 1-byte switch
    point sends the request to the distributed arm; an id missing from
    the doc store keeps null fields, as the lazy join's does."""
    eng = SearchEngine(spark, index_root)
    local = eng.search("apple banana", k=10)
    dist = _with_switch_point(monkeypatch, 1,
                              lambda: eng.search("apple banana", k=10))
    assert eng.served_counts() == {"local": 1, "distributed": 1}
    assert local and [r.asDict() for r in local] == \
        [r.asDict() for r in dist]
    assert list(local[0].asDict()) == ["query_id", "rank", "doc_id",
                                       "score", "conv_id", "turn_idx",
                                       "role", "snippet"]
    joined = sorted(eng.search_batch((Query("q", "apple banana", k=10),),
                                     hydrate=True).collect(),
                    key=lambda r: r["rank"])
    assert [r.asDict() for r in joined] == [r.asDict() for r in local]
    ghost = eng._hydrate_rows([Row(query_id="q", rank=1, doc_id=10 ** 9,
                                   rrf=0.5)])
    assert [r.asDict() for r in ghost] == [dict(
        query_id="q", rank=1, doc_id=10 ** 9, rrf=0.5, conv_id=None,
        turn_idx=None, role=None, snippet=None)]
