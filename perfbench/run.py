"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The workload's inputs are generated from
the seed; Spark runs as local[nproc]. Human-readable lines (sample counts,
route medians, error rate) come first; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A failed request or output check makes ``correct`` false and
the exit code 1. Everything the run writes stays under ``.perfbench_work``
(removed at exit) and ``.perfbench_out`` (the traced run's spans)."""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

import common
from stats import BUILD_STAGES

WORKLOADS = ("serve", "ingest")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "query_p50_ms": ("ms", "lower"),
    "query_qps": ("1/s", "higher"),
    "index_turns_per_s": ("turns/s", "higher"),
    "index_bytes_per_text_byte": ("ratio", "lower"),
}

PER_LAYER = {
    **{f"build.{s}_ms": ("ms", "lower") for s in BUILD_STAGES},
    "build.overhead_ms": ("ms", "lower"),
    **{f"build.{s}_bytes": ("bytes", "lower") for s in BUILD_STAGES},
    "build.tf_rows": ("count", "lower"),
    "build.pos_rows": ("count", "lower"),
    "build.segments": ("count", "lower"),
    "pfd.roundtrip_ms": ("ms", "lower"),
    "pfd.archive_tf_ms": ("ms", "lower"),
    "pfd.archive_pos_ms": ("ms", "lower"),
    "pfd.restore_ms": ("ms", "lower"),
    "pfd.tf_ratio": ("ratio", "lower"),
    "pfd.pos_ratio": ("ratio", "lower"),
    "http.overhead_ms": ("ms", "lower"),
    **{f"engine.{c}_ms": ("ms", "lower") for c in (
        "search", "filtered", "wide", "phrase", "near", "proximity",
        "hydrate")},
    "wand.topk_ms": ("ms", "lower"),
    "phrase.match_ms": ("ms", "lower"),
    "span.near_ms": ("ms", "lower"),
    "proximity.topk_ms": ("ms", "lower"),
    "query.segment_bytes": ("bytes", "lower"),
    "spark.jobs_per_request": ("count", "lower"),
    "spark.stages_per_request": ("count", "lower"),
    "spark.tasks_per_request": ("count", "lower"),
    "spark.jobs_per_batch": ("count", "lower"),
    "spark.job_floor_ms": ("ms", "lower"),
    "stream.process_batch_ms": ("ms", "lower"),
    "stream.packed_plan_ms": ("ms", "lower"),
    "stream.manifest_entries": ("count", "lower"),
    "stream.bytes_written_per_batch_byte": ("ratio", "lower"),
    "stream.compact_bytes_rewritten": ("bytes", "lower"),
    "stream.compact_ms": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.spans": ("count", "lower"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def metrics_json(values: dict, catalogue: dict, fill_missing: bool) -> dict:
    """{name: {"value", "unit"}} in catalogue order. End-to-end values must
    all be present, finite and positive; a per-layer metric of a layer the
    workload never calls reads 0."""
    out = {}
    for name, (unit, _) in catalogue.items():
        v = values.get(name)
        if v is None and fill_missing:
            v = 0.0
        if v is None or not math.isfinite(v) or (not fill_missing and v <= 0):
            raise ValueError(f"metric {name} has no usable value: {v!r}")
        out[name] = {"value": float(v), "unit": unit}
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not common.checkout_ok():
        print(f"perfbench: {common.PACKAGE}/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = common.WORK / f"{args.workload}-{os.getpid()}"
    common.prepare_env(work)
    from spans import JobGroups, Recorder

    import ingest
    import serve

    n_cpus = common.cpus()
    cpu_before = common.cpu_ticks()
    spark = common.start_spark(n_cpus)
    try:
        recorder = Recorder() if args.trace else None
        jobs = JobGroups(spark.sparkContext) if args.trace else None
        workload = serve if args.workload == "serve" else ingest
        res = workload.run(spark, work, args.seed, args.seconds, recorder,
                           jobs, t_start)
        if recorder is not None:
            recorder.write(common.OUT / f"spans-{args.workload}-"
                           f"seed{args.seed}.jsonl")
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tally = res.tally
    print(f"workload={args.workload} seed={args.seed} cpus={n_cpus} "
          f"spark=local[{n_cpus}] seconds={args.seconds} trace={args.trace}")
    steal = common.steal_share(cpu_before, common.cpu_ticks())
    if steal is not None:
        print(f"cpu_steal_pct={steal * 100:.2f} % (CPU time the hypervisor "
              "gave to other guests during the run; high values mean noise)")
    for line in res.lines:
        print(line)
    print("phases_s: " + " ".join(f"{n}={v:.2f}" for n, v in res.phases))
    print(f"error_rate={tally.error_rate:.6f} "
          f"(failed {tally.failed} of {tally.attempted} operations)")
    if args.trace:
        metrics = metrics_json(res.per_layer, PER_LAYER, fill_missing=True)
    else:
        metrics = metrics_json(res.end_to_end, END_TO_END, fill_missing=False)
    for name, m in metrics.items():
        print(f"{name}={m['value']:.6g} {m['unit']}")
    for reason in tally.reasons:
        print(f"FAILED: {reason}", file=sys.stderr)
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
