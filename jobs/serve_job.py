"""spark-submit entrypoint: long-running query SERVICE over a warm engine.

The reference serves queries over HTTP from a warm Searcher whose IDF cache
is loaded once at startup (Integration/src/cis5550/jobs/Searcher.java:64-81,
128-317, webserver/Server.java). This is the Spark-native analogue: one
SparkSession, one SearchEngine warmup (packed index cached shard-partitioned,
corpus stats collected once), then a line-oriented request loop on stdin —
each request is a small warm Spark job (measured ~0.04-0.5 s, logged per
request and as a running p50).

Protocol (one request per line, TSV-ish, results to stdout):
  <text>                         OR-mode BM25 top-10
  or|and <k> <text>              ranked BM25 (union / conjunctive)
  role <role> <k> <text>         BM25 restricted to docs of a role
  phrase <k> <text>              exact phrase match (positions stage)
  proximity <k> <text>           BM25 + pairwise-closeness bonus
  near <k> <window> <text>       all terms within a token window
  suggest <n> <prefix>           autocomplete by descending df
  stats                          corpus stats + latency p50 so far
  quit                           exit

Usage:
  spark-submit --py-files mdse.zip jobs/serve_job.py --index /data/index_root
  echo -e 'or 10 spark shuffle\\nsuggest 5 sh\\nquit' | \\
      python jobs/serve_job.py --index /data/index_root
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.query.engine import SearchEngine
from mini_distributed_search_engine_spark.session import get_spark


def _fmt_row(r) -> str:
    cols = [f"rank={r['rank']}", f"doc={r['doc_id']}"]
    if "score" in r.asDict():
        cols.append(f"score={r['score']}")
    if "n_occ" in r.asDict():
        cols.append(f"n_occ={r['n_occ']}")
    if "min_span" in r.asDict():
        cols.append(f"min_span={r['min_span']}")
    if "snippet" in r.asDict():
        cols.append(f"{r['conv_id']}#{r['turn_idx']} {r['snippet']!r}")
    return "\t".join(cols)


def serve(engine: SearchEngine, inp=sys.stdin, out=sys.stdout) -> list[float]:
    """Drive the request loop; returns per-request latencies (for tests)."""
    lats: list[float] = []

    def reply(s: str) -> None:
        print(s, file=out, flush=True)

    for line in inp:
        line = line.strip()
        if not line:
            continue
        if line == "quit":
            break
        t0 = time.perf_counter()
        try:
            head, *rest = line.split(" ", 2)
            if line == "stats":
                n, avgdl = engine._corpus_stats
                p50 = sorted(lats)[len(lats) // 2] if lats else 0.0
                reply(f"n_docs={n}\tavgdl={round(avgdl, 3)}\t"
                      f"served={len(lats)}\tp50_sec={round(p50, 4)}")
                continue
            if head in ("or", "and") and len(rest) == 2:
                rows = engine.search(rest[1], k=int(rest[0]), mode=head)
            elif (head == "role" and len(rest) == 2
                  and len(body := rest[1].split(" ", 1)) == 2
                  and body[0].lstrip("+-").isdigit()):
                # role <role> <k> <text> — metadata-filtered retrieval.
                # The numeric check disambiguates from a plain-text query
                # that happens to START with the word 'role' ("role of
                # the moderator"), which falls through to default search.
                # A clearly-numeric-but-invalid k ('-5', '+0') is an ERROR,
                # not a silent full-text search of the whole line.
                if not body[0].isdigit():
                    reply("err\trole query k must be a non-negative "
                          "integer: role <role> <k> <text>")
                    continue
                rows = engine.search(body[1], k=int(body[0]), role=rest[0])
            elif head == "phrase" and len(rest) == 2:
                rows = engine.search_phrase(rest[1], k=int(rest[0]))
            elif head == "proximity" and len(rest) == 2:
                rows = engine.search_proximity(rest[1], k=int(rest[0]))
            elif (head == "near" and len(rest) == 2
                  and rest[0].lstrip("+-").isdigit()):
                # near <k> <window> <text> — a numeric k marks clear near
                # intent, so a missing/invalid window is an ERROR, not a
                # silent fall-through to full-text search of the raw line
                # (same disambiguation discipline as the role branch);
                # plain text starting with the word 'near' still falls
                # through to default search below.
                body = rest[1].split(" ", 1)
                if len(body) != 2 or not body[0].isdigit():
                    reply("err\tusage: near <k> <window> <text> "
                          "(window must be a non-negative integer)")
                    continue
                rows = engine.search_near(body[1], k=int(rest[0]),
                                          window=int(body[0]))
            elif head == "suggest" and len(rest) == 2:
                for t in engine.suggest(rest[1], n=int(rest[0])):
                    reply(t)
                lats.append(time.perf_counter() - t0)
                reply(f"ok\t{round(lats[-1], 4)}s")
                continue
            else:
                rows = engine.search(line, k=10)
            for r in rows:
                reply(_fmt_row(r))
            lats.append(time.perf_counter() - t0)
            reply(f"ok\t{len(rows)} rows\t{round(lats[-1], 4)}s")
        except Exception as e:  # keep serving on bad requests
            reply(f"err\t{type(e).__name__}: {e}")
    return lats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
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
    args = ap.parse_args()

    spark = get_spark("mdse-serve")
    t0 = time.perf_counter()
    engine = SearchEngine(spark, args.index, use_packed=not args.exhaustive,
                          bucketed_path=args.bucketed,
                          packed_bucketed_path=args.packed_bucketed)
    # prime codegen/Arrow workers so the FIRST user request isn't the one
    # paying JIT cost (the reference Searcher warms its IDF cache the same
    # way at startup)
    engine.search("warmup probe", k=1)  # hydrated: warms the hydrate scan too
    print(f"ready\twarmup={round(time.perf_counter() - t0, 2)}s", flush=True)
    lats = serve(engine)
    if lats:
        p50 = sorted(lats)[len(lats) // 2]
        print(f"bye\tserved={len(lats)}\tp50_sec={round(p50, 4)}", flush=True)


if __name__ == "__main__":
    main()
