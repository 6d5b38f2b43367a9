"""The ``ingest`` workload: writes beside reads on a streaming root.

Set-up writes seeded micro-batches to parquet (conversation ids increasing
from batch to batch). The timed loop feeds them one by one through
`StreamingIndexer(with_positions=True).process_batch`, with no readStream
and no trigger timers. After each batch it tombstones a few seeded doc ids
and runs a fixed set of `wand_topk(final_rank="driver")` and
`phrase_match_packed` queries on the fresh generation, with every tombstone
so far passed as ``blocked_ids``; each query plans the uncached manifest
union itself, as a reader of a live root does. Every COMPACT_EVERY batches
`compact(tombstones)` folds the deletes in; the loop stops after the first
compaction past the time limit.

Checks: no query returns a tombstoned id, and after the last compaction
the WAND top-k equals `bm25_topk` over `unpack_to_rows(indexer.packed())`.
The traced run also sends the final generation through the PFD cold tier
and back, and checks that the restored segments rank like the hot ones."""

from __future__ import annotations

import json
import time
from contextlib import ExitStack
from pathlib import Path

import numpy as np

import gen
from common import (Result, cold_ratios, cold_roundtrip, job_floor_ms,
                    query_terms, ranked_by_query, same_ranking, term_bytes,
                    wand_rankings)
from stats import dir_bytes, latency_summary, median, tail_line

CONVS_PER_BATCH = 500   # 2,000 turns
MAX_BATCHES = 8
COMPACT_EVERY = 2
TOMBSTONES_PER_BATCH = 5
# Doc-range shard width. Scaled down with the corpus so that, as with
# production batches, a micro-batch spans several shards: each append then
# splices one boundary shard and adds one manifest entry.
SHARD_SPAN = 1024


def _meta(root: Path) -> dict:
    return json.loads((root / "_meta.json").read_text())


def _gen_bytes(root: Path, meta: dict) -> int:
    """Bytes of the directories the latest generation wrote."""
    entry = meta["manifest"][-1]
    dirs = [entry["path"], entry.get("pos_path"),
            f"totals_g{meta['generation']}"]
    return sum(dir_bytes(root / d) for d in dirs if d)


def _query(spark, indexer, q: gen.IngestQuery, blocked):
    """One reader query against the live root: plan the manifest union,
    run the kernel, collect. Returns (rows, plan seconds)."""
    from mini_distributed_search_engine_spark.query import phrase, wand
    from mini_distributed_search_engine_spark.query.bm25 import Query

    t = time.perf_counter()
    src = indexer.packed() if q.cls == "search" else indexer.positions_packed()
    plan_s = time.perf_counter() - t
    query = (Query("q", q.text, k=q.k),)
    if q.cls == "search":
        df = wand.wand_topk(spark, src, None, queries=query,
                            corpus_stats=indexer.corpus_stats(),
                            blocked_ids=blocked, final_rank="driver")
    else:
        df = phrase.phrase_match_packed(spark, src, query, blocked_ids=blocked)
    return df.collect(), plan_s


def run(spark, work: Path, seed: int, seconds: float, recorder, jobs,
        t_start: float) -> Result:
    from pyspark.sql import functions as F

    from mini_distributed_search_engine_spark.index.packed import (
        unpack_to_rows)
    from mini_distributed_search_engine_spark.query import phrase, wand
    from mini_distributed_search_engine_spark.query.bm25 import (
        Query, bm25_topk)
    from mini_distributed_search_engine_spark.streaming.indexing import (
        StreamingIndexer)

    res = Result(mark=t_start)
    res.phase("spark_start")
    tally = res.tally
    pdf = gen.transcripts(CONVS_PER_BATCH * MAX_BATCHES, seed)
    batches = gen.split_batches(pdf, MAX_BATCHES)
    for i, b in enumerate(batches):
        gen.write_parquet(b, work / "batches" / f"b{i}")
    queries = gen.ingest_queries(batches[0]["text"].tolist(), seed)
    rng = np.random.default_rng([seed, 3])
    root = work / "stream"
    indexer = StreamingIndexer(spark, str(root), shard_span=SHARD_SPAN,
                               with_positions=True)
    if recorder is not None:
        cls = StreamingIndexer
        recorder.wrap(cls, "process_batch", "stream.process_batch")
        recorder.wrap(cls, "packed", "stream.packed_plan")
        recorder.wrap(cls, "positions_packed", "stream.packed_plan")
        recorder.wrap(cls, "compact", "stream.compact")
        recorder.wrap(wand, "wand_topk", "wand.topk")
        recorder.wrap(phrase, "phrase_match_packed", "phrase.match",
                      lazy=True)
    setup_s = time.perf_counter() - t_start
    res.phase("inputs")

    # the job-floor probe is a per-layer figure: traced runs only
    tracing = recorder is not None
    floor = job_floor_ms(spark) if tracing else []
    batch_s, compact_s, compact_bytes, written = [], [], [], []
    lat, plan_ms, entries, traced_flags = [], [], [], []
    batch_text_bytes = []
    tomb: set[int] = set()
    n_ingested = n_ops = 0
    t_loop = time.perf_counter()
    try:
        for b, batch in enumerate(batches):
            with ExitStack() as st:
                if recorder is not None:
                    st.enter_context(recorder.request(f"b{b}", "ingest.batch"))
                    st.enter_context(jobs.tag(f"b{b}"))
                t = time.perf_counter()
                indexer.process_batch(
                    spark.read.parquet(str(work / "batches" / f"b{b}")), b)
                batch_s.append(time.perf_counter() - t)
            meta = _meta(root)
            written.append(_gen_bytes(root, meta))
            batch_text_bytes.append(sum(len(x.encode()) for x in batch["text"]))
            n_ingested += len(batch)
            live = np.setdiff1d(np.arange(n_ingested), sorted(tomb))
            tomb.update(int(x) for x in rng.choice(
                live, size=TOMBSTONES_PER_BATCH, replace=False))
            blocked = sorted(tomb)
            for q in queries:
                rid = f"q{n_ops}"
                traced = recorder is not None and n_ops % 2 == 1
                n_ops += 1
                with ExitStack() as st:
                    if traced:
                        st.enter_context(recorder.request(rid, "ingest.query"))
                        st.enter_context(jobs.tag(rid))
                    t = time.perf_counter()
                    try:
                        rows, plan_s = _query(spark, indexer, q, blocked)
                        err = ""
                    except Exception as e:  # a failed query is counted
                        rows, plan_s, err = [], 0.0, f"{type(e).__name__}: {e}"
                    lat.append((time.perf_counter() - t) * 1000.0)
                traced_flags.append(traced)
                plan_ms.append(plan_s * 1000.0)
                entries.append(len(meta["manifest"]))
                if err:
                    tally.fail(f"batch {b} query {q.text!r}: {err}")
                    continue
                ids = {int(r["doc_id"]) for r in rows}
                ranks = sorted(int(r["rank"]) for r in rows)
                tally.check(not ids & tomb and len(rows) <= q.k
                            and ranks == list(range(1, len(rows) + 1)),
                            f"batch {b} query {q.text!r}: tombstoned id "
                            f"returned or bad ranks")
            if (b + 1) % COMPACT_EVERY == 0:
                t = time.perf_counter()
                indexer.compact(blocked)
                compact_s.append(time.perf_counter() - t)
                compact_bytes.append(_gen_bytes(root, _meta(root)))
                if time.perf_counter() - t_loop >= seconds:
                    break
    finally:
        if recorder is not None:
            recorder.restore()
    floor += job_floor_ms(spark) if tracing else []
    res.phase("loop")
    turns = n_ingested
    text_bytes = sum(batch_text_bytes)
    index_bytes = dir_bytes(root)

    # final correctness: the last compaction folded every tombstone in
    cs = indexer.corpus_stats()
    packed = indexer.packed()
    texts = [q.text for q in queries if q.cls == "search"]
    got = wand_rankings(spark, packed, texts, cs, blocked=sorted(tomb))
    rows = unpack_to_rows(packed)
    refs = ranked_by_query(bm25_topk(
        spark, rows, rows.groupBy("term").agg(F.count("*").alias("df")),
        indexer.doc_stats_df(),
        queries=tuple(Query(f"c{i}", t) for i, t in enumerate(texts)),
        corpus_stats=cs))
    for i, (text, g) in enumerate(zip(texts, got)):
        tally.check(same_ranking(g, refs.get(f"c{i}", [])),
                    f"final top-k for {text!r} differs from bm25_topk")
    res.phase("checks")

    summ = latency_summary(lat)
    query_s = sum(lat) / 1000.0
    res.end_to_end = {
        "setup_s": setup_s,
        "query_p50_ms": summ["p50"],
        "query_qps": len(lat) / query_s,
        "index_turns_per_s": turns / sum(batch_s),
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    }
    res.lines += [
        f"turns={turns} batches={len(batch_s)} text_bytes={text_bytes} "
        f"tombstones={len(tomb)} queries={len(lat)}",
        tail_line(summ),
        f"ingest_turns_per_s={turns / sum(batch_s):.2f} turns/s",
        f"compact_s={median(compact_s):.4f} s (median of {len(compact_s)})",
        f"manifest entries at query time: {min(entries)}..{max(entries)}",
    ]
    for cls in ("search", "phrase"):
        ms = [v for v, q in zip(lat, queries * len(batch_s)) if q.cls == cls]
        res.lines.append(f"{cls}_p50_ms={median(ms):.2f} ms (n={len(ms)})")

    if recorder is not None:
        res.per_layer = _layers(recorder, jobs, lat, traced_flags, floor)
        by_cls = {"search": term_bytes(packed, "tf"),
                  "phrase": term_bytes(indexer.positions_packed(), "pos")}
        touched = [sum(by_cls[q.cls].get(t, 0) for t in query_terms(q.text))
                   for q in queries]
        res.per_layer.update({
            "stream.process_batch_ms": median(batch_s) * 1000.0,
            "stream.packed_plan_ms": median(plan_ms),
            "stream.manifest_entries": median(entries),
            "stream.bytes_written_per_batch_byte":
                sum(written) / text_bytes,
            "stream.compact_bytes_rewritten": median(compact_bytes),
            "stream.compact_ms": median(compact_s) * 1000.0,
            "query.segment_bytes": median(touched),
        })
        res.per_layer.update(_cold_tier(spark, indexer, packed, texts, cs,
                                        got, tally, work / "cold"))
    return res


def _cold_tier(spark, indexer, packed, texts, cs, hot, tally, out) -> dict:
    """The final generation through the PFD cold tier and back, with the
    restored WAND ranks checked against the hot ones."""
    packed_pos = indexer.positions_packed()
    cold = cold_roundtrip(spark, packed, packed_pos, out)
    restored = wand_rankings(spark, spark.read.parquet(str(cold["tf_restored"])),
                             texts, cs)
    for text, a, b in zip(texts, hot, restored):
        tally.check(same_ranking(a, b),
                    f"cold tier ranks differ from hot tier for {text!r}")
    metrics = {k: v for k, v in cold.items() if k.startswith("pfd.")}
    metrics["pfd.roundtrip_ms"] = cold["seconds"] * 1000.0
    metrics.update(cold_ratios(spark, packed, packed_pos, out))
    return metrics


def _layers(recorder, jobs, lat, traced_flags, floor) -> dict:
    per_req = recorder.by_request()
    kernel: dict[str, list] = {}
    q_counts, b_counts = [], []
    for rid, spans in per_req.items():
        for s in spans:
            if s.name in ("wand.topk", "phrase.match"):
                kernel.setdefault(s.name, []).append(s.ms)
        (b_counts if rid.startswith("b") else q_counts).append(
            jobs.counts(rid))
    traced = [v for v, f in zip(lat, traced_flags) if f]
    plain = [v for v, f in zip(lat, traced_flags) if not f]
    out = {"wand.topk_ms": median(kernel["wand.topk"])
           if "wand.topk" in kernel else 0.0,
           "phrase.match_ms": median(kernel["phrase.match"])
           if "phrase.match" in kernel else 0.0,
           "spark.job_floor_ms": median(floor),
           "spark.jobs_per_batch": median([c[0] for c in b_counts])
           if b_counts else 0.0,
           "trace.overhead_pct": (median(traced) / median(plain) - 1.0) * 100.0
           if traced and plain else 0.0,
           "trace.spans": float(len(recorder.spans))}
    for i, key in enumerate(("spark.jobs_per_request",
                             "spark.stages_per_request",
                             "spark.tasks_per_request")):
        out[key] = median([c[i] for c in q_counts]) if q_counts else 0.0
    return out
