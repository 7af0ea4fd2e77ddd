"""Seeded benchmark of mora_spark: candle ingest and candle queries,
each on a local Spark session over every core; a traced run also
probes the llm layers (dedup, curation, vector search).

Run from the repository root:

    python3 perfbench/run.py --workload candle_query --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines above it print every metric by name with its unit. Scratch files
go under ``.bench_work/`` and span dumps under ``.bench_out/``, both in
the current directory. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "recall": "ratio",
    "precision": "ratio",
    "stored_bytes_per_row": "B",
}

# A layer a workload does not exercise reads 0 for its counts; every time
# here is measured on both workloads (a traced run probes the layers its
# timed ops skip).
PER_LAYER = {
    "session.start_s": "s",
    "streaming.batches": "count",
    "streaming.outside_sink_frac": "ratio",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "store.write_s": "s",
    "store.rollup_s": "s",
    "store.write_bytes_per_candle": "B",
    "store.versions": "count",
    "store.read_plan_s": "s",
    "store.scan_s": "s",
    "store.files_live": "count",
    "operators.resample_s": "s",
    "operators.sma_s": "s",
    "operators.asof_s": "s",
    "operators.jobs_per_request": "count",
    "dedup.seed_index_s": "s",
    "curate.batch_s": "s",
    "curate.pack_s": "s",
    "curate.kept_docs": "count",
    "curate.quarantined": "count",
    "simsearch.build_s": "s",
    "simsearch.add_s": "s",
    "simsearch.topk_s": "s",
    "simsearch.files_per_cell": "count",
    "simsearch.jobs_per_search": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "driver.no_job_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mora_spark", "__init__.py")):
        print("perfbench: run from the repository root (mora_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import common
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    steal0 = common.cpu_ticks()
    try:
        t = time.perf_counter()
        spark = common.start_spark(work)
        session_s = time.perf_counter() - t
        pid = common.jvm_pid(spark)
        ctx = None
        try:
            ctx = workloads.Ctx(spark, args.seed, args.seconds, trace, work, T_PROCESS)
            res = workloads.WORKLOADS[args.workload](ctx)
            peak_mb = common.vm_hwm_mb() + common.vm_hwm_mb(pid)
            if trace:
                probe, probe_attempted, probe_failed = workloads.probe_layers(ctx)
                res.layers.update(probe)
                res.extra_attempted += probe_attempted
                res.extra_failed += probe_failed
        finally:
            if ctx is not None and ctx.sampler is not None:
                ctx.sampler.close()
            common.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res.ops) + res.extra_attempted
    failed = sum(not o.ok for o in res.ops) + res.extra_failed
    timed = [o for o in res.ops if o.timed]
    plain = [o for o in timed if not o.traced]
    e2e = {
        "setup_s": res.setup_s,
        "rows_per_s": res.rows_done / res.timed_wall,
        "op_p50_s": workloads.op_p50(plain, res.kind_weights),
        "peak_rss_mb": peak_mb,
        "recall": res.recall,
        "precision": res.precision,
        "stored_bytes_per_row": res.stored_bytes_per_row,
    }
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"input_sha256={res.input_hash} ops={len(timed)} timed_wall_s={res.timed_wall:.3f}")
    print(f"  set-up phases s: session={session_s:.3f} " + " ".join(
        f"{k.replace(' ', '_')}={v:.3f}" for k, v in ctx.phases.items()))
    steal = [b - a for a, b in zip(steal0, common.cpu_ticks())]
    print(f"  host CPU steal during the run: {steal[0] / max(1, steal[1]):.1%} "
          "(time the hypervisor gave this machine's CPUs to others)")
    for k, o in enumerate(res.ops):
        if not o.ok:
            print(f"  FAILED op {k} ({o.kind}, {'timed' if o.timed else 'warm-up'}): {o.info.get('req', o.info.get('files'))}")
    print(f"  error_frac = {failed / attempted:.6f} ({failed} failed of {attempted} attempted)")
    lat = [o.latency for o in timed]
    if lat:
        print("  op latency s (in order): " + " ".join(f"{x:.3f}" for x in lat[:60]))
    tail = common.tail(lat)
    print("  op_tail_s = " + (
        f"{tail[1]:.6f} s (p{tail[0]}, {tail[2]} samples beyond, n={len(timed)})" if tail
        else f"n/a (n={len(timed)}: fewer than 10 samples beyond any percentile >= p50)"
    ))
    if trace:
        traced = [o for o in timed if o.traced]
        traced_p50 = workloads.op_p50(traced, res.kind_weights)
        overhead = traced_p50 / e2e["op_p50_s"] - 1 if traced and plain else 0.0
        print(f"  tracing overhead: op_p50_s traced={traced_p50:.6f} s "
              f"untraced={e2e['op_p50_s']:.6f} s ({overhead:+.2%}, "
              f"{len(traced)} traced / {len(plain)} untraced ops); the other end-to-end "
              "metrics are measured once per process, compare them with a --trace 0 run")
        for name, unit in END_TO_END.items():
            print(f"  [traced run] {name} = {e2e[name]:.6g} {unit}")
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.layers)
        layers.update(workloads.per_op_jobs(res.ops))
        layers["session.start_s"] = session_s
        layers["driver.no_job_frac"] = ctx.sampler.frac
        layers["trace.overhead_frac"] = overhead
        out_dir = os.path.join(root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        dump = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(dump, "w") as f:
            json.dump(ctx.tracer.spans, f)
        print(f"  spans: {len(ctx.tracer.spans)} written to {os.path.relpath(dump, root)}")
        for name, n, total, self_s in ctx.tracer.summary():
            print(f"    span {name:<36} n={n:<4} total={total:9.3f} s self={self_s:9.3f} s")
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
