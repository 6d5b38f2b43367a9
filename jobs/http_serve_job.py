"""spark-submit entrypoint: HTTP query service over a warm SearchEngine.

The reference serves search over HTTP from a hand-rolled webserver
(Integration/src/cis5550/jobs/Searcher.java:128-317 routes /search and
/words on webserver/Server.java:147-160). This is the Spark-native
analogue: the same warm engine `jobs/serve_job.py` drives over stdin,
fronted by the stdlib ThreadingHTTPServer. A small request runs its
kernel on the driver over one fetch of its segments, a larger one as a
per-shard Spark job (`SearchEngine`'s two arms, split by
`engine.LOCAL_ARM_MAX_BYTES`); Spark schedules concurrent driver threads
fine, so requests overlap. The hand-rolled socket/HTTP layer of
the reference is exactly the infrastructure SURVEY §7 absorbs into
commodity layers.

Routes (JSON replies):
  GET /search?q=<text>&k=10&mode=or|and[&role=<role>]  ranked BM25
  GET /phrase?q=<text>&k=10                            exact phrase match
  GET /proximity?q=<text>&k=10                         BM25 + closeness bonus
  GET /near?q=<text>&k=10&window=8                     all terms within window
  GET /hybrid?q=<text>&vec=<id>&k=10                   BM25 + IVF-ANN RRF
  GET /words?prefix=<p>&n=10                           autocomplete by df
  GET /stats                                           corpus stats, p50,
       requests served by each arm (served_local, served_distributed)
  POST /delete?ids=1,2,3                               tombstone doc ids
       (engine-local metadata: the ids vanish from every subsequent
       search; durable after a /checkpoint, folded into the at-rest
       index by jobs/compact_index_job.py)
  POST /checkpoint                                     persist tombstones
       (writes the live set beside the index root — O(deletes) metadata —
       so deletes survive an engine restart and the next compaction
       `StagedIndexBuild.purge()` folds them into every stage)

Usage:
  spark-submit --py-files mdse.zip jobs/http_serve_job.py \
      --index /data/index_root --port 8077
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.query.engine import SearchEngine
from mini_distributed_search_engine_spark.session import get_spark


def _row_json(r) -> dict:
    d = r.asDict()
    return {k: d[k] for k in
            ("rank", "doc_id", "score", "rrf", "n_occ", "min_span",
             "conv_id", "turn_idx", "role", "snippet") if k in d}


def _pos_int(q: dict, key: str, default: int, cap: int = 10_000) -> int:
    """Parse a positive bounded int query param; ValueError -> a 400 (the
    stdin serve_job applies the same rule to its role queries)."""
    v = int(q.get(key, str(default)))
    if not 0 < v <= cap:
        raise ValueError(f"{key} must be in 1..{cap}, got {v}")
    return v


def make_handler(engine: SearchEngine, lats):   # lats: bounded deque
    # appends and the /stats snapshot share the deque across handler
    # threads; CPython raises "deque mutated during iteration" if sorted()
    # walks it mid-append, so both sides go through one lock
    lats_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):        # quiet: latency is logged by us
            pass

        @staticmethod
        def _record(took: float) -> None:
            with lats_lock:
                lats.append(took)

        def _json(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib handler contract)
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            t0 = time.perf_counter()
            try:
                if u.path == "/search":
                    if "q" not in q:
                        return self._json(400, {"err": "q parameter required"})
                    k = _pos_int(q, "k", 10)
                    mode = q.get("mode", "or")
                    if mode not in ("or", "and"):
                        return self._json(400, {"err": "mode must be or|and"})
                    rows = engine.search(q["q"], k=k, mode=mode,
                                         role=q.get("role"))
                    # local elapsed, THEN append: concurrent handler threads
                    # share `lats`, so lats[-1] could be another request's
                    took = time.perf_counter() - t0
                    self._record(took)
                    return self._json(200, {"rows": [_row_json(r) for r in rows],
                                            "took_sec": round(took, 4)})
                if u.path == "/phrase":
                    if "q" not in q:
                        return self._json(400, {"err": "q parameter required"})
                    rows = engine.search_phrase(q["q"], k=_pos_int(q, "k", 10))
                    took = time.perf_counter() - t0
                    self._record(took)
                    return self._json(200, {"rows": [_row_json(r) for r in rows],
                                            "took_sec": round(took, 4)})
                if u.path == "/proximity":
                    if "q" not in q:
                        return self._json(400, {"err": "q parameter required"})
                    rows = engine.search_proximity(q["q"],
                                                   k=_pos_int(q, "k", 10))
                    took = time.perf_counter() - t0
                    self._record(took)
                    return self._json(200, {"rows": [_row_json(r) for r in rows],
                                            "took_sec": round(took, 4)})
                if u.path == "/near":
                    if "q" not in q:
                        return self._json(400, {"err": "q parameter required"})
                    rows = engine.search_near(
                        q["q"], k=_pos_int(q, "k", 10),
                        window=_pos_int(q, "window", 8, cap=10_000))
                    took = time.perf_counter() - t0
                    self._record(took)
                    return self._json(200, {"rows": [_row_json(r) for r in rows],
                                            "took_sec": round(took, 4)})
                if u.path == "/hybrid":
                    if "q" not in q or "vec" not in q:
                        return self._json(
                            400, {"err": "q and vec parameters required "
                                         "(vec = query embedding id from "
                                         "the upstream encoder)"})
                    if not hasattr(engine, "_ivf"):
                        return self._json(
                            400, {"err": "hybrid leg not warmed: start "
                                         "with --embeddings/--ivf-root"})
                    rows = engine.search_hybrid(
                        q["q"], query_vec_id=int(q["vec"]),
                        k=_pos_int(q, "k", 10))
                    took = time.perf_counter() - t0
                    self._record(took)
                    return self._json(200, {"rows": [_row_json(r) for r in rows],
                                            "took_sec": round(took, 4)})
                if u.path == "/words":
                    terms = engine.suggest(q.get("prefix", ""),
                                           n=_pos_int(q, "n", 10))
                    self._record(time.perf_counter() - t0)
                    return self._json(200, {"terms": terms})
                if u.path == "/stats":
                    n, avgdl = engine._corpus_stats
                    with lats_lock:         # copy under the lock, sort after
                        window = list(lats)
                    window.sort()           # p50 of last <=10k
                    p50 = window[len(window) // 2] if window else 0.0
                    arms = engine.served_counts()
                    return self._json(200, {
                        "n_docs": n, "avgdl": round(avgdl, 3),
                        "served": len(window), "p50_sec": round(p50, 4),
                        "served_local": arms["local"],
                        "served_distributed": arms["distributed"]})
                return self._json(404, {"err": f"no route {u.path}"})
            except ValueError as e:       # bad k/n etc.
                return self._json(400, {"err": str(e)})
            except Exception as e:        # keep serving on engine errors
                return self._json(500, {"err": f"{type(e).__name__}: {e}"})

        def do_POST(self):  # noqa: N802 (stdlib handler contract)
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            try:
                if u.path == "/delete":
                    # ids come from the query string (small ad-hoc
                    # deletes) or a JSON body {"ids": [...]} — the stdlib
                    # server caps the request LINE at 64 KB, so big
                    # batches must ride the body
                    raw = None
                    n_body = int(self.headers.get("Content-Length") or 0)
                    if n_body:
                        try:
                            body = json.loads(self.rfile.read(n_body))
                            raw = body.get("ids")
                        except (ValueError, AttributeError):
                            return self._json(
                                400, {"err": "body must be JSON like "
                                      '{"ids": [1, 2, 3]}'})
                    elif "ids" in q:
                        raw = q["ids"].split(",")
                    if raw is None:
                        return self._json(400, {"err": "ids required: "
                                                "?ids=1,2,3 or a JSON "
                                                'body {"ids": [...]}'})
                    try:
                        ids = [int(x) for x in raw
                               if str(x).strip()]
                    except (TypeError, ValueError):
                        return self._json(400,
                                          {"err": "ids must be integers"})
                    if not 0 < len(ids) <= 100_000:
                        return self._json(
                            400, {"err": "1..100000 ids per request "
                                  "(tombstones are metadata — fold bigger "
                                  "batches in with packed.purge_docs)"})
                    total = engine.delete_docs(ids)
                    return self._json(200, {"deleted": len(ids),
                                            "tombstones": total})
                if u.path == "/checkpoint":
                    return self._json(
                        200, {"checkpointed": engine.checkpoint_tombstones()})
                return self._json(404, {"err": f"no route {u.path}"})
            except Exception as e:        # keep serving on engine errors
                return self._json(500, {"err": f"{type(e).__name__}: {e}"})

    return Handler


def serve_http(engine: SearchEngine, port: int = 0) -> ThreadingHTTPServer:
    """Bind (port=0 -> ephemeral, for tests) and return the server; the
    caller owns serve_forever()/shutdown()."""
    from collections import deque
    # bounded latency window: /stats p50 over the last 10k requests, and a
    # long-running server does not grow memory per request served
    lats: deque[float] = deque(maxlen=10_000)
    return ThreadingHTTPServer(("127.0.0.1", port),
                               make_handler(engine, lats))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--port", type=int, default=8077)
    ap.add_argument("--exhaustive", action="store_true",
                    help="serve from the uncompressed index instead of packed")
    ap.add_argument("--bucketed", default=None, metavar="PATH",
                    help="root of a write_index_bucketed layout: the "
                         "exhaustive/analytics legs read the term-bucketed "
                         "catalog tables (zero-exchange term joins)")
    ap.add_argument("--packed-bucketed", default=None, metavar="PATH",
                    help="root of a write_packed_bucketed layout: the "
                         "packed cache is the shard-bucketed scan as-is "
                         "(no warmup repartition shuffle)")
    ap.add_argument("--embeddings", default=None, metavar="PARQUET",
                    help="embeddings table (vec_id, embedding) aligned to "
                         "doc ids — enables the /hybrid route")
    ap.add_argument("--ivf-root", default=None, metavar="PATH",
                    help="centroid_id-partitioned IVF layout root (written "
                         "at warmup if absent; requires --embeddings)")
    args = ap.parse_args()
    if bool(args.embeddings) != bool(args.ivf_root):
        ap.error("--embeddings and --ivf-root go together")

    spark = get_spark("mdse-http-serve")
    t0 = time.perf_counter()
    engine = SearchEngine(spark, args.index, use_packed=not args.exhaustive,
                          bucketed_path=args.bucketed,
                          packed_bucketed_path=args.packed_bucketed)
    engine.search("warmup probe", k=1)    # prime codegen + the hydrate scan
    if args.embeddings:
        engine.warm_hybrid(args.embeddings, args.ivf_root)
    srv = serve_http(engine, args.port)
    print(f"ready\tport={srv.server_address[1]}\t"
          f"warmup={round(time.perf_counter() - t0, 2)}s", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
