"""Environment, Spark session and the steps both workloads share: the
cold-tier round trip, the Spark job-floor probe and ranking comparison."""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from stats import Tally

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "mini_distributed_search_engine_spark"
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"


@dataclass
class Result:
    """What a workload hands back: its operation tally, the end-to-end and
    per-layer metric values, and human-readable report lines."""
    mark: float = field(default_factory=time.perf_counter)
    tally: Tally = field(default_factory=Tally)
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    lines: list = field(default_factory=list)
    phases: list = field(default_factory=list)

    def phase(self, name: str) -> None:
        """Close the phase that started at the previous mark."""
        now = time.perf_counter()
        self.phases.append((name, now - self.mark))
        self.mark = now


def checkout_ok() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the Python workers import the package whatever the
    caller's working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # The session factory pins java.io.tmpdir on the JVM command line;
    # _JAVA_OPTIONS is read after the command line, so this wins.
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Small corpora: a 2 GB driver heap is plenty and keeps the run small.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def cpus() -> int:
    """What `nproc` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int] | None:
    """The machine-wide ``cpu`` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after) -> float | None:
    """Share of CPU time stolen by the hypervisor between two readings."""
    if not before or not after or len(before) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total else None


def start_spark(n_cpus: int):
    from mini_distributed_search_engine_spark.session import get_spark
    spark = get_spark("perfbench", cores=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so that no process the run
    started outlives it. The JVM exits by itself when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def job_floor_ms(spark, n: int = 5) -> list[float]:
    """Wall of the smallest Spark job, ``spark.range(1).collect()``."""
    out = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).collect()
        out.append((time.perf_counter() - t) * 1000.0)
    return out


def cold_roundtrip(spark, packed, packed_pos, out: Path) -> dict:
    """Archive both segment families to the PFD cold tier, write them,
    then restore both and write the restored segments. Returns the walls
    and the restored TF segment path."""
    from mini_distributed_search_engine_spark.index import codec_pfd as pfd

    t0 = time.perf_counter()
    pfd.archive_packed(packed).write.parquet(str(out / "tf_archive"))
    t1 = time.perf_counter()
    pfd.archive_positions(packed_pos).write.parquet(str(out / "pos_archive"))
    t2 = time.perf_counter()
    pfd.restore_packed(spark.read.parquet(str(out / "tf_archive"))) \
        .write.parquet(str(out / "tf_restored"))
    pfd.restore_positions(spark.read.parquet(str(out / "pos_archive"))) \
        .write.parquet(str(out / "pos_restored"))
    t3 = time.perf_counter()
    return {"seconds": t3 - t0,
            "pfd.archive_tf_ms": (t1 - t0) * 1000.0,
            "pfd.archive_pos_ms": (t2 - t1) * 1000.0,
            "pfd.restore_ms": (t3 - t2) * 1000.0,
            "tf_restored": out / "tf_restored"}


def cold_ratios(spark, packed, packed_pos, out: Path) -> dict:
    """At-rest size of the cold tier over the hot one, per family, from the
    archives `cold_roundtrip` wrote."""
    from mini_distributed_search_engine_spark.index import codec_pfd as pfd

    def ratio(hot, archive, streams):
        cold = spark.read.parquet(str(out / archive))
        return pfd.stream_bytes(cold, streams) / pfd.stream_bytes(hot, streams)

    return {"pfd.tf_ratio": ratio(packed, "tf_archive", pfd.TF_STREAMS),
            "pfd.pos_ratio": ratio(packed_pos, "pos_archive",
                                   pfd.POS_STREAMS)}


def wand_rankings(spark, packed, texts, cs, blocked=None) -> list:
    """Driver-ranked WAND top-10 of each text, one Spark job for all."""
    from mini_distributed_search_engine_spark.query.bm25 import Query
    from mini_distributed_search_engine_spark.query.wand import wand_topk
    qs = tuple(Query(f"c{i}", t) for i, t in enumerate(texts))
    got = ranked_by_query(wand_topk(spark, packed, None, queries=qs,
                                    corpus_stats=cs, blocked_ids=blocked,
                                    final_rank="driver"))
    return [got.get(q.query_id, []) for q in qs]


def ranked_by_query(df) -> dict[str, list]:
    """query_id -> `ranking` of its rows, from one collect of ``df``."""
    by_q: dict[str, list] = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    return {q: ranking(rows) for q, rows in by_q.items()}


def term_bytes(segments, family: str) -> dict[str, int]:
    """term -> bytes of its encoded streams over all segments; ``family``
    is "tf" or "pos"."""
    from pyspark.sql import functions as F

    from mini_distributed_search_engine_spark.index.codec_pfd import (
        POS_STREAMS, TF_STREAMS)
    cols = TF_STREAMS if family == "tf" else POS_STREAMS
    size = sum((F.length(c) for c in cols), F.lit(0))
    return {r["term"]: int(r["b"]) for r in
            segments.groupBy("term").agg(F.sum(size).alias("b")).collect()}


def query_terms(text: str) -> set[str]:
    """The analyzed terms of a query, as the kernels see them."""
    from mini_distributed_search_engine_spark.query.bm25 import (
        Query, analyzed_query_terms)
    return {t for _, t, _ in analyzed_query_terms((Query("q", text),))}


def ranking(rows) -> list[tuple[int, int, float]]:
    """(rank, doc_id, score) triples sorted by rank, from Spark rows or
    reply dicts."""
    return sorted((int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                  for r in rows)


def same_ranking(got, ref, tol: float = 1e-6) -> bool:
    return len(got) == len(ref) and all(
        g[0] == r[0] and g[1] == r[1] and abs(g[2] - r[2]) <= tol
        for g, r in zip(got, ref))
