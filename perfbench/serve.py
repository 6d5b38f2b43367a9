"""The ``serve`` workload: a warm SearchEngine behind the HTTP front, driven
by a closed loop of two clients over loopback.

Set-up synthesizes the transcripts, builds the index with
`StagedIndexBuild.run(positions=True)`, starts `SearchEngine` and
`serve_http` in this process and warms every route.
The timed loop then sends the seeded request mix until the time is up.
Replies are checked after the loop: every reply must be a 200 with at most
k rows ranked 1..n, and the first request of each /search class (plain,
role-filtered, wide) must equal the exhaustive `bm25_topk` over the
committed term_doc_tf and stats stages."""

from __future__ import annotations

import http.client
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import gen
from common import (Result, job_floor_ms, query_terms, ranked_by_query,
                    ranking, same_ranking, term_bytes)
from stats import (build_layer_metrics, dir_bytes, latency_summary, median,
                   self_times, stage_markers, tail_line)

N_CONVS = 500           # 2,000 turns
CLIENTS = 2
REFERENCE_SAMPLES = 1   # /search requests per class checked against bm25


@dataclass
class Done:
    index: int
    req: gen.Request
    request_id: str
    traced: bool
    start: float
    end: float
    status: int
    body: dict | None
    error: str = ""

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _get(port: int, url: str) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        raw = resp.read()
        try:
            body = json.loads(raw)
        except ValueError:
            body = None
        return resp.status, body
    finally:
        conn.close()


def _reply_ok(req: gen.Request, status: int, body) -> str:
    """Empty string when the reply is well formed, else why not."""
    if status != 200:
        return f"status {status}: {body}"
    rows = body.get("rows") if isinstance(body, dict) else None
    if not isinstance(rows, list):
        return "no rows list"
    if len(rows) > req.k:
        return f"{len(rows)} rows > k={req.k}"
    if [r.get("rank") for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not 1..n"
    return ""


def _closed_loop(port, stream, seconds, recorder, traced_every) -> tuple[
        list[Done], float]:
    """CLIENTS threads, each sending its next request only after the
    previous reply, until ``seconds`` have passed. ``traced_every`` = 2
    traces every other request (traced runs), 0 traces none."""
    lock = threading.Lock()
    it = iter(enumerate(stream))
    done: list[Done] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                nxt = next(it, None)
            if nxt is None:
                return
            i, req = nxt
            rid = f"r{i}"
            traced = bool(traced_every) and i % traced_every == 1
            start = time.perf_counter()
            try:
                if traced:
                    with recorder.request(rid, "client.request"):
                        status, body = _get(port, req.url(rid))
                else:
                    status, body = _get(port, req.url(rid))
                err = ""
            except OSError as e:
                status, body, err = 0, None, f"{type(e).__name__}: {e}"
            end = time.perf_counter()
            with lock:
                done.append(Done(i, req, rid, traced, start, end, status,
                                 body, err))

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(done, key=lambda d: d.index), time.perf_counter() - t0


def _install_tracing(recorder, jobs, srv):
    """Wrap the HTTP handler, the engine's routes and the query kernels."""
    from urllib.parse import parse_qs, urlparse

    from mini_distributed_search_engine_spark.query import (
        engine, phrase, proximity, span)

    handler = srv.RequestHandlerClass
    orig_get = handler.do_GET

    def do_get(h):
        rid = parse_qs(urlparse(h.path).query).get("rid", [None])[0]
        if rid is None or rid not in recorder.traced_ids:
            return orig_get(h)
        with recorder.request(rid, "http.handle"), jobs.tag(rid):
            return orig_get(h)

    recorder.patch(handler, "do_GET", do_get)
    for attr in ("search", "search_phrase", "search_near",
                 "search_proximity"):
        recorder.wrap(engine.SearchEngine, attr, f"engine.{attr}")
    recorder.wrap(engine, "wand_topk", "wand.topk")
    recorder.wrap(proximity, "wand_topk_proximity", "proximity.topk")
    recorder.wrap(phrase, "phrase_match_packed", "phrase.match", lazy=True)
    recorder.wrap(span, "span_near_match", "span.near", lazy=True)


def _segment_bytes(spark, eng, root: Path, stream) -> list[float]:
    """Packed bytes each request's terms touch: TF segments (the engine's
    cached frame) for ranked routes, positional segments for phrase/near,
    both for proximity."""
    tf = term_bytes(eng.packed, "tf")
    pos = term_bytes(spark.read.parquet(str(root / "positions_packed" / "data")),
                     "pos")
    tables = {"phrase": (pos,), "near": (pos,), "proximity": (tf, pos)}
    return [float(sum(tb.get(t, 0) for tb in tables.get(req.cls, (tf,))
                      for t in query_terms(req.q)))
            for req in stream]


def _references(spark, root: Path, sample: list[Done]) -> dict:
    """request_id -> exhaustive `bm25_topk` (or `bm25_topk_conjunctive`)
    ranking over the committed term_doc_tf and stats stages, for every
    sampled /search request. Requests with the same mode and role filter go
    through the scorer together, as one query batch; CLIENTS batches run at
    a time."""
    from pyspark.sql import functions as F

    from mini_distributed_search_engine_spark.query.bm25 import (
        Query, bm25_topk, bm25_topk_conjunctive)

    rd = spark.read.parquet
    tf = rd(str(root / "term_doc_tf" / "data"))
    ts = rd(str(root / "stats" / "term_stats"))
    ds = rd(str(root / "stats" / "doc_stats"))
    docs = rd(str(root / "docs" / "data"))
    row = ds.collect()[0]
    cs = (int(row["n_docs"]), float(row["avgdl"]))
    groups: dict[tuple, list[Done]] = {}
    for d in sample:
        groups.setdefault((d.req.get("mode"), d.req.get("role")), []).append(d)

    def one(mode, role, qs):
        if mode == "and":
            return ranked_by_query(bm25_topk_conjunctive(
                spark, tf, ts, ds, queries=qs, corpus_stats=cs))
        allowed = (None if role is None else
                   docs.where(F.col("role") == role).select("doc_id"))
        return ranked_by_query(bm25_topk(spark, tf, ts, ds, queries=qs,
                                         allowed_docs=allowed,
                                         corpus_stats=cs))

    with ThreadPoolExecutor(CLIENTS) as pool:
        futures = [pool.submit(one, mode, role,
                               tuple(Query(d.request_id, d.req.q, k=d.req.k)
                                     for d in group))
                   for (mode, role), group in groups.items()]
        out = {}
        for f in futures:
            out.update(f.result())
    return out


def run(spark, work: Path, seed: int, seconds: float, recorder, jobs,
        t_start: float) -> Result:
    from jobs.http_serve_job import serve_http
    from mini_distributed_search_engine_spark.plans.pipeline import (
        StagedIndexBuild)
    from mini_distributed_search_engine_spark.query.engine import SearchEngine

    res = Result(mark=t_start)
    res.phase("spark_start")
    tally = res.tally
    pdf = gen.transcripts(N_CONVS, seed)
    texts = pdf["text"].tolist()
    text_bytes = sum(len(t.encode()) for t in texts)
    gen.write_parquet(pdf, work / "transcripts")
    stream = gen.serve_stream(texts, n_rounds=100, seed=seed)
    res.phase("inputs")

    root = work / "index"
    t = time.perf_counter()
    StagedIndexBuild(spark, str(root)).run(
        spark.read.parquet(str(work / "transcripts")), positions=True)
    build_s = time.perf_counter() - t
    index_bytes = dir_bytes(root)
    res.phase("build")

    eng = SearchEngine(spark, str(root))
    srv = serve_http(eng, 0)
    port = srv.server_address[1]
    server = threading.Thread(target=srv.serve_forever, daemon=True)
    server.start()
    try:
        # one request per route, CLIENTS at a time, so that lazy caches
        # (the positional segments) fill before timing starts
        warm = [next(r for r in stream if r.cls == cls)
                for cls, _ in gen.SERVE_ROUND]
        with ThreadPoolExecutor(CLIENTS) as pool:
            replies = list(pool.map(lambda r: _get(port, r.url()), warm))
        for req, (status, body) in zip(warm, replies):
            err = _reply_ok(req, status, body)
            tally.check(not err, f"warm-up {req.url()}: {err}")
        seg_bytes = []
        if recorder is not None:
            seg_bytes = _segment_bytes(spark, eng, root, stream)
            recorder.traced_ids = {f"r{i}" for i in range(1, len(stream), 2)}
            _install_tracing(recorder, jobs, srv)
        setup_s = time.perf_counter() - t_start
        res.phase("engine_warmup")

        # the job-floor probe is a per-layer figure: traced runs only
        tracing = recorder is not None
        floor = job_floor_ms(spark) if tracing else []
        done, elapsed = _closed_loop(port, stream, seconds, recorder,
                                     traced_every=2 if tracing else 0)
        floor += job_floor_ms(spark) if tracing else []
        res.phase("loop")
    finally:
        srv.shutdown()
        srv.server_close()
        server.join(timeout=60)
        if recorder is not None:
            recorder.restore()

    sample: list[Done] = []
    per_cls: dict[str, int] = {}
    for d in done:
        err = d.error or _reply_ok(d.req, d.status, d.body)
        if not tally.check(not err, f"{d.req.url()}: {err}"):
            continue
        if (gen.ROUTES[d.req.cls] == "/search"
                and per_cls.get(d.req.cls, 0) < REFERENCE_SAMPLES):
            per_cls[d.req.cls] = per_cls.get(d.req.cls, 0) + 1
            sample.append(d)
    refs = _references(spark, root, sample)
    for d in sample:
        tally.check(same_ranking(ranking(d.body["rows"]),
                                 refs.get(d.request_id, [])),
                    f"{d.req.url()}: reply differs from the reference")
    res.phase("checks")
    lat = [d.ms for d in done]
    summ = latency_summary(lat)
    turns = len(pdf)
    res.end_to_end = {
        "setup_s": setup_s,
        "query_p50_ms": summ["p50"],
        "query_qps": len(done) / elapsed,
        "index_turns_per_s": turns / build_s,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    }
    shown = [d.req.q for d in done]
    res.lines += [
        f"turns={turns} text_bytes={text_bytes} clients={CLIENTS} "
        f"requests={len(done)} elapsed_s={elapsed:.2f}",
        tail_line(summ),
        f"repeat_term_share={gen.repeat_term_share(shown):.3f} "
        "(requests whose terms all appeared in an earlier request)",
        f"serve_qps={len(done) / elapsed:.4f} 1/s",
        f"build_turns_per_s={turns / build_s:.2f} turns/s "
        f"(StagedIndexBuild.run in set-up, {build_s:.2f} s)",
    ]
    for cls, _ in gen.SERVE_ROUND:
        ms = [d.ms for d in done if d.req.cls == cls]
        if ms:
            res.lines.append(f"{cls}_p50_ms={median(ms):.2f} ms (n={len(ms)})")

    if recorder is not None:
        res.per_layer = _layers(recorder, jobs, done, seg_bytes, floor)
        res.per_layer.update(build_layer_metrics(stage_markers(root),
                                                 build_s * 1000.0))
        res.per_layer.update(_build_counts(spark, root))
    return res


def _build_counts(spark, root: Path) -> dict:
    rd = spark.read.parquet
    return {"build.tf_rows": float(rd(str(root / "term_doc_tf" / "data")).count()),
            "build.pos_rows": float(rd(str(root / "positions" / "data")).count()),
            "build.segments": float(rd(str(root / "merged" / "data")).count())}


def _layers(recorder, jobs, done: list[Done], seg_bytes, floor) -> dict:
    per_req = recorder.by_request()
    http_over, engine_ms, kernel_ms, hydrate = [], {}, {}, []
    counts = []
    for d in done:
        spans = per_req.get(d.request_id)
        if not d.traced or not spans:
            continue
        selfs = self_times(spans)
        client = next(s for s in spans if s.name == "client.request")
        eng = [s for s in spans if s.name.startswith("engine.")]
        if eng:
            http_over.append(client.ms - eng[0].ms)
            engine_ms.setdefault(d.req.cls, []).append(eng[0].ms)
            if eng[0].name == "engine.search":
                hydrate.append(selfs[eng[0].span_id] * 1000.0)
        for s in spans:
            if s.name in ("wand.topk", "phrase.match", "span.near",
                          "proximity.topk"):
                kernel_ms.setdefault(s.name, []).append(s.ms)
        counts.append(jobs.counts(d.request_id))
    traced = [d.ms for d in done if d.traced]
    plain = [d.ms for d in done if not d.traced]
    out = {"http.overhead_ms": median(http_over) if http_over else 0.0,
           "engine.hydrate_ms": median(hydrate) if hydrate else 0.0,
           "spark.job_floor_ms": median(floor),
           "trace.overhead_pct": (median(traced) / median(plain) - 1.0) * 100.0
           if traced and plain else 0.0,
           "trace.spans": float(len(recorder.spans))}
    for cls, _ in gen.SERVE_ROUND:
        v = engine_ms.get(cls)
        out[f"engine.{cls}_ms"] = median(v) if v else 0.0
    for name, key in (("wand.topk", "wand.topk_ms"),
                      ("phrase.match", "phrase.match_ms"),
                      ("span.near", "span.near_ms"),
                      ("proximity.topk", "proximity.topk_ms")):
        v = kernel_ms.get(name)
        out[key] = median(v) if v else 0.0
    sent = [seg_bytes[d.index] for d in done] if seg_bytes else []
    out["query.segment_bytes"] = median(sent) if sent else 0.0
    for i, key in enumerate(("spark.jobs_per_request",
                             "spark.stages_per_request",
                             "spark.tasks_per_request")):
        out[key] = median([c[i] for c in counts]) if counts else 0.0
    return out
