"""Run one benchmark workload against the pyrle_spark in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Set-up starts one Spark session at local[nproc], builds the seeded
inputs and runs one untimed warm cycle of the same operations.  Then
whole cycles of the workload's fixed operation sequence run,
closed-loop from this one driver thread, until ``--seconds`` have
passed; the cycle in progress at that point completes and counts.
Every operation's output is checked.

Prints the metrics by name with their units, then as the last line one
JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The full result (environment, every raw
sample with its cycle index, per-operation percentiles) is written to
``.perfbench_results/`` in the checkout; spans of a traced run too.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("ok_frac", "frac"),
    ("op_p50_gmean_ms", "ms"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_engine():
    """Import pyrle_spark from this checkout and nowhere else."""
    if not os.path.isfile(os.path.join(ROOT, "pyrle_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no pyrle_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    import pyrle_spark

    if not os.path.abspath(pyrle_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: pyrle_spark imported from {pyrle_spark.__file__}")


class Runner:
    def __init__(self, wl, ctx, jobs=None):
        self.wl = wl
        self.ctx = ctx
        self.jobs = jobs  # JobCounter in the traced run
        self.op_seq = 0
        self.jobstats: dict = {}
        self.summaries: dict = {}
        self.bookkeeping_s = 0.0

    def run_cycle(self, cycle: int, samples: list, raw: dict) -> dict:
        from pbstats import Sample

        tracer = self.ctx.tracer
        for index, op in enumerate(self.wl.plan):
            self.op_seq += 1
            group = f"op{self.op_seq}"
            if self.jobs:
                t0 = time.perf_counter()
                self.jobs.begin(group)
                self.bookkeeping_s += time.perf_counter() - t0
            if tracer:
                tracer.op_id = self.op_seq
            t0 = time.perf_counter()
            try:
                with self.ctx.span(f"op.{op.kind}"):
                    res = self.wl.call(op)
                err = None
            except Exception:  # a failed operation counts against ok_frac
                err = traceback.format_exc()
            wall = time.perf_counter() - t0
            if tracer:
                tracer.op_id = None
            ok = False
            if err is None:
                try:
                    ok = bool(self.wl.check(op, res))
                except Exception:
                    err = traceback.format_exc()
            if err:
                print(f"perfbench: {op.kind} failed:\n{err}", file=sys.stderr)
            elif not ok:
                print(f"perfbench: {op.kind} output check failed (cycle {cycle})", file=sys.stderr)
            if self.jobs:
                t0 = time.perf_counter()
                self.jobstats[(cycle, index)] = self.jobs.collect(group)
                self.bookkeeping_s += time.perf_counter() - t0
            if op.kind in ("create", "append") and err is None:
                self.summaries[(cycle, index)] = res
            samples.append(Sample(cycle, index, op.kind, wall, ok))
            raw[(cycle, index)] = self.wl.raw_bytes(op)
        return self.wl.end_cycle()


def end_to_end(samples, raw, extras, setup_s) -> tuple:
    """The gated metrics plus the per-operation-type report."""
    import pbstats

    per_op = {k: pbstats.summarize(v) for k, v in pbstats.by_op(samples).items()}
    gated = {
        "setup_s": setup_s,
        "ops_per_s": pbstats.ops_per_s(samples),
        "ok_frac": pbstats.ok_frac(samples),
        "op_p50_gmean_ms": pbstats.gmean(v["p50_ms"] for v in per_op.values()),
    }
    report = dict(gated)
    names = {"create": "create_p50_ms", "append": "append_p50_ms", "lookup": "lookup_p50_ms", "agg": "agg_p50_ms",
             "count_eq": "count_eq_p50_ms", "select": "select_p50_ms", "scan": "scan_p50_ms",
             "rle_local": "rle_local_p50_ms", "rle_frame": "rle_frame_p50_ms"}
    for kind, name in names.items():
        if kind in per_op:
            report[name] = per_op[kind]["p50_ms"]
    for kinds, metric in ((("create", "append"), "encode_mb_per_s"), (("scan",), "scan_mb_per_s")):
        walls = [s.wall_s for s in samples if s.op in kinds]
        if walls:
            mb = sum(raw[(s.cycle, s.index)] for s in samples if s.op in kinds) / 1e6
            report[metric] = mb / sum(walls)
    spr = [e["stored_per_raw"] for e in extras if "stored_per_raw" in e]
    if spr:
        report["stored_per_raw"] = statistics.median(spr)
    cyc = pbstats.cycle_walls_ms(samples)
    report["cycle_p50_ms"] = statistics.median(cyc)
    return gated, report, per_op


def traced_metrics(runner, kept, extras, result, base, untraced) -> dict:
    """Every per-layer metric of a traced run; also records the job
    counts and the overhead basis in ``result``."""
    import layers

    cycles = len({s.cycle for s in kept})
    summaries = runner.summaries
    parts = [
        base,
        layers.lineage_metrics(
            [[summaries[k] for k in sorted(summaries) if k[0] == c] for c in range(cycles)],
            runner.ctx.cpus),
        layers.job_metrics(kept, runner.jobstats, summaries, cycles),
        layers.span_metrics(runner.ctx.tracer.spans, cycles, len(kept)),
    ]
    if hasattr(runner.wl, "sample_block"):
        parts.append(layers.probe_codecs(runner.wl.sample_block()))
    walks = [e for e in extras if "data_files" in e]
    if walks:
        parts.append({f"icetable.{k}": statistics.median(e.get(k, 0) for e in walks)
                      for k in ("data_files", "delete_files", "metadata_files",
                                "metadata_bytes", "bytes_written_per_raw")})
    n_ops = max(len(kept), 1)
    bookkeeping_ms = runner.bookkeeping_s * 1e3 / n_ops
    overhead_ms, basis = bookkeeping_ms, "job-group bookkeeping time per operation"
    if os.path.isfile(untraced):
        with open(untraced) as f:
            base_ms = [s["wall_ms"] for s in json.load(f)["samples"]]
        if base_ms:
            overhead_ms = sum(s.wall_s for s in kept) * 1e3 / n_ops - sum(base_ms) / len(base_ms)
            basis = "traced minus untraced mean operation wall, same workload and seed"
    parts.append({
        "spark.failed_tasks": sum(j["failed_tasks"] for j in runner.jobstats.values()),
        "trace.bookkeeping_ms_per_op": bookkeeping_ms,
        "trace.overhead_ms_per_op": overhead_ms,
    })
    metrics = layers.assemble(parts)
    result["per_layer"] = metrics
    result["overhead_basis"] = basis
    result["jobstats"] = [{"cycle": c, "index": i, **v}
                          for (c, i), v in sorted(runner.jobstats.items())]
    return metrics


UNITS = {"setup_s": "s", "ops_per_s": "1/s", "ok_frac": "frac", "encode_mb_per_s": "MB/s",
         "scan_mb_per_s": "MB/s", "stored_per_raw": "ratio"}


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    import layers
    import pbstats
    import runtime
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r} "
                         f"(choose from {sorted(workloads.WORKLOADS)})")
    cpus = runtime.usable_cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    env = runtime.pin_environment(ROOT, work, cpus)
    env["seed"] = args.seed
    spark = None
    try:
        t0 = time.perf_counter()
        spark = runtime.start_session(cpus, work)
        spark.range(1).count()  # the session is usable only after a first job
        session_s = time.perf_counter() - t0
        env.update(runtime.versions(spark))
        tracer = Tracer() if args.trace else None
        ctx = workloads.Ctx(spark, work, args.seed, cpus, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)

        t0 = time.perf_counter()
        built = wl.build_inputs()
        wl.setup_table()
        build_s = time.perf_counter() - t0
        if tracer:
            layers.install_wraps(tracer)
        jobs = runtime.JobCounter(spark) if args.trace else None
        runner = Runner(wl, ctx, jobs)
        warm_samples: list = []
        t0 = time.perf_counter()
        runner.run_cycle(-1, warm_samples, {})
        warm_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warm_s
        if tracer:
            tracer.spans.clear()
        runner.summaries.clear()
        runner.jobstats.clear()
        runner.bookkeeping_s = 0.0

        samples: list = []
        raw: dict = {}
        extras: list = []
        gc0 = runtime.jvm_gc_ms(spark)
        steal0, total0 = runtime.cpu_ticks()
        t_start = time.perf_counter()
        cycle = 0
        while time.perf_counter() - t_start < args.seconds:
            extras.append(runner.run_cycle(cycle, samples, raw))
            cycle += 1
        measured_s = time.perf_counter() - t_start
        gc_ms = runtime.jvm_gc_ms(spark) - gc0
        steal1, total1 = runtime.cpu_ticks()
        kept = pbstats.whole_cycles(samples, len(wl.plan))
        cycles = len({s.cycle for s in kept})
        gated, report, per_op = end_to_end(kept, raw, extras, setup_s)

        result = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "measured_s": measured_s, "cycles": cycles,
            "environment": env,
            "setup": {"session_start_s": session_s, "input_build_s": build_s,
                      "warm_cycle_s": warm_s, "warm_ok": all(s.ok for s in warm_samples)},
            "end_to_end": gated, "report": report, "per_op": per_op,
            "cycle_extras": extras,
            "samples": [{"cycle": s.cycle, "index": s.index, "op": s.op,
                         "wall_ms": s.wall_s * 1e3, "ok": s.ok} for s in samples],
        }
        tag = f"{args.workload}-seed{args.seed}"
        if args.trace:
            metrics = traced_metrics(
                runner, kept, extras, result,
                base={"session.start_s": session_s, "webtext.gen_s": built["gen_s"],
                      "webtext.raw_bytes": built["raw_bytes"], "jvm.gc_ms": gc_ms,
                      "host.steal_frac": (steal1 - steal0) / max(total1 - total0, 1)},
                untraced=os.path.join(results, f"{tag}-trace0.json"),
            )
            tracer.unwrap_all()
            tracer.dump(os.path.join(results, f"{tag}-spans.json"))
        else:
            metrics = {n: {"value": float(gated[n]), "unit": u} for n, u in END_TO_END}
        with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
            json.dump(result, f, indent=1, default=str)
    finally:
        if spark is not None:
            runtime.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))

    failed = sum(1 for s in kept if not s.ok)
    for name, val in report.items():
        unit = UNITS.get(name, "ms")
        print(f"{name:22s} {val:14.4f} {unit}")
    for kind, st in sorted(per_op.items()):
        tail = f"p{st['tail_pct']:g}={st['tail_ms']:.1f} ms" if st["tail_pct"] else "tail: <10 beyond any pct"
        print(f"  {kind:12s} n={st['n']:<4d} p50={st['p50_ms']:.1f} ms  {tail}")
    print(json.dumps({
        "correct": failed == 0 and result["setup"]["warm_ok"],
        "attempted": len(kept),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
