"""Benchmark entry point.

    python3 perfbench/run.py --workload csvw_lineitem --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. One process, one ``local[nproc]``
Spark session. Prints a human-readable report, then as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Exits non-zero when any output check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"setup_s": "s", "wall_s": "s", "triples_per_s": "triples/s",
              "peak_rss_mb": "MB"}

_STAGE = {"executor_run_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
          "tasks": "count", "core_util": "ratio"}
_STAGE_LAYERS = ("csv_source", "triples", "ntriples", "web.extract",
                 "web.link", "web.canonicalize", "graph_store.materialize",
                 "graph_store.query")
PER_LAYER = {
    "pipeline.plan_s": "s",
    "csv_source.read_rows_s": "s", "csv_source.partitions": "count",
    "csv_source.rows": "count",
    "triples.rows_to_triples_s": "s", "triples.triples": "count",
    "triples.kernel_rows_per_s_1core": "rows/s",
    "uri_template.expand_calls_per_row": "calls/row",
    "context.expand_iri_calls_per_row": "calls/row",
    "coerce.calls_per_row": "calls/row",
    "ntriples.write_s": "s", "ntriples.bytes_written": "bytes",
    "html_extract.pages_per_s_1core": "pages/s",
    "web.extract_s": "s", "web.extract_triples": "count",
    "web.link_s": "s", "web.link_hit_ratio": "ratio",
    "web.canonicalize_s": "s", "web.merged_subjects": "count",
    "graph_store.materialize_s": "s", "graph_store.files_written": "count",
    "graph_store.bytes_written": "bytes",
    "graph_store.read_predicate_ms": "ms", "graph_store.read_subject_ms": "ms",
    "graph_store.bgp_ms": "ms", "graph_store.scan_mb_per_query": "MB",
    "graph_store.query_p50_ms": "ms", "graph_store.query_p90_ms": "ms",
    "graph_store.queries_per_s": "1/s", "graph_store.query_samples": "count",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s", "trace.root_self_s": "s",
    "cached_mb_after": "MB", "storage.persistent_rdds_after": "count",
    "failed_ops_ratio": "ratio",
    **{f"{layer}.{m}": unit for layer in _STAGE_LAYERS
       for m, unit in _STAGE.items()},
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import rdf_tabular_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # everything Spark, the JVM and Python workers write stays in run_dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    import harness

    try:
        t0 = time.perf_counter()
        spark = harness.start_session(run_dir)
        try:
            spark.range(1).count()  # the first job pays the JVM's start-up
            ctx = workloads.Ctx(spark, run_dir, args.seed, args.seconds,
                                time.perf_counter() - t0)
            out = workloads.WORKLOADS[args.workload](ctx, bool(args.trace))
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out.tracer is not None:
        _write_trace(out, args)

    _report(out, args)
    # a layer the workload never calls reports 0
    table = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": out.metrics.get(n, (0.0,))[0], "unit": unit}
               for n, unit in table.items()}
    correct = out.failed == 0 and out.attempted > 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


def _report(out, args) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} session=local[{len(os.sched_getaffinity(0))}]"
          f" single process")
    for name, (value, unit) in out.metrics.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    print(f"  failed_ops: {out.failed} of {out.attempted} attempted")
    for note in out.notes:
        print(f"  {note}")
    if out.tracer is not None:
        print("  spans by name (self time excludes child spans):")
        by_name: dict = {}
        for s in out.tracer.to_json()["spans"]:
            agg = by_name.setdefault(s["name"], [0, 0.0, 0.0, s["counts"]])
            agg[0] += 1
            agg[1] += s["end_s"] - s["start_s"]
            agg[2] += s["self_s"]
        for name, (n, wall, self_s, counts) in by_name.items():
            print(f"    {name:<30} x{n:<3} wall {wall:8.3f} s  "
                  f"self {self_s:8.3f} s  {counts}")


def _write_trace(out, args) -> None:
    """Spans live in memory during the run and are written once here."""
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-"
                        f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(out.tracer.to_json(), f, indent=1)
    out.notes.append(f"spans written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
