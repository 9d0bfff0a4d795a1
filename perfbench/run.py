"""Benchmark of the dozer_spark engine: one workload per run.

    python3 perfbench/run.py --workload cdc_churn --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates its inputs from --seed,
starts one local Spark session, runs the workload in closed loop after
its cold first operation and a few untimed warm-up operations (for
--seconds, and for at least a fixed number of epochs or passes), checks
the outputs, and
prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run records spans around every layer call and reports the per-layer
metrics instead, and writes the spans to .perfbench_out/. Everything
the run writes lives under the checkout and is removed at exit, except
the span file. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_churn", "batch")
CPUS = min(4, os.cpu_count() or 1)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(workload: str, res: dict, ctx) -> dict:
    """The bounded metrics, all wall-clock: set-up, the cold operation(s)
    and a warm unit (an epoch, or a pass over the queries)."""
    if workload == "batch":
        cold, warm = res.get("cold_total_s", 0.0), res.get("warm_total_s", 0.0)
    else:
        cold, warm = res.get("cold_s", 0.0), _mean(res["epoch_s"])
    return {"setup_s": ctx.setup_s, "cold_s": cold, "warm_s": warm}


def warm_cpu_s(workload: str, res: dict) -> float:
    """CPU seconds of the warm unit `end_to_end` times."""
    return res.get("warm_cpu_s", 0.0) if workload == "batch" else _mean(res["epoch_cpu_s"])


def report(workload: str, res: dict, ctx, rss_mb: float) -> list[tuple]:
    """Every end-to-end metric under its descriptive name, with the CPU
    seconds of the same operations: (name, value, unit, samples)."""
    rows = [("setup_s", ctx.setup_s, "s", 1),
            ("setup_cpu_s", ctx.setup_cpu_s, "s", 1)]
    if workload == "batch":
        n_warm = min((len(v) for v in res["warm"].values()), default=0)
        rows += [("warm_total_s", res.get("warm_total_s", 0.0), "s", n_warm),
                 ("cold_total_s", res.get("cold_total_s", 0.0), "s", len(res["cold"])),
                 ("warm_total_cpu_s", warm_cpu_s(workload, res), "s", n_warm),
                 ("cold_total_cpu_s", res.get("cold_cpu_s", 0.0), "s", len(res["cold"]))]
    else:
        ep = res["epoch_s"]
        total = sum(ep)
        rows += [("epoch_mean_s", _mean(ep), "s", len(ep)),
                 ("epoch_p50_s", _median(ep), "s", len(ep)),
                 ("backfill_s", res.get("cold_s", 0.0), "s", 1),
                 ("epoch_cpu_mean_s", warm_cpu_s(workload, res), "s", len(ep)),
                 ("backfill_cpu_s", res.get("cold_cpu_s", 0.0), "s", 1),
                 ("rows_per_s", res["rows_in"] / total if total else 0.0, "rows/s", len(ep)),
                 ("cdf_read_p50_s", _median(res["cdf_read_s"]), "s", len(res["cdf_read_s"])),
                 ("state_bytes_per_row", res.get("state_bytes_per_row", 0.0), "B/row", 1)]
    rows += [("peak_rss_mb", rss_mb, "MB", 1),
             ("failed_ratio", ctx.failed / max(ctx.attempted, 1), "ratio", ctx.attempted)]
    return rows


def per_layer(workload: str, res: dict, ctx, session_s: float, e2e: dict) -> dict:
    tr = ctx.tracer
    out = {n: 0.0 for n in declared_metrics()[1]}
    out["session.start_s"] = session_s
    roots = res.get("layers", [])
    # units: one warm pass over the queries, or one epoch
    units: dict = {}
    for r in roots:
        units.setdefault(r.span.tags.get("phase") or r.span.tags.get("epoch"), []).append(r)
    units = list(units.values())

    def self_by_name(r, name) -> float:
        tree = tr.tree(r.span)
        return sum(tr.self_time(s, tree) for s in tree if s.name == name)

    def per_unit(f) -> float:
        return _median(sum(f(r) for r in u) for u in units)

    def tot(k):
        return per_unit(lambda r: r.totals.get(k, 0))

    cold = res.get("cold_layers", [])
    out.update({
        "queries.build_s": per_unit(lambda r: self_by_name(r, "queries.build")),
        "plans.rule_s": tot("rule_s"), "plans.rule_runs": tot("rule_runs"),
        "spark.codegen_s": sum(r.totals.get("codegen_s", 0) for r in cold),
        "spark.codegen_compiles": sum(r.totals.get("codegen_compiles", 0) for r in cold),
        "spark.codegen_warm_s": tot("codegen_s"),
        "spark.codegen_warm_compiles": tot("codegen_compiles"),
        "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"), "spark.executor_run_s": tot("executor_run_s"),
        "spark.executor_cpu_s": tot("executor_cpu_s"), "spark.driver_s": tot("driver_s"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "ops.python_rows": tot("python_rows"), "ops.python_bytes": tot("python_bytes"),
        "ops.python_s": tot("python_s"),
        "trace.overhead_s": tr.overhead_s,
        "trace.warm_s": e2e["warm_s"],
        "trace.warm_cpu_s": warm_cpu_s(workload, res),
    })
    if workload == "batch":
        for q, ws in res["warm"].items():
            out[f"query.{q}.warm_s"] = _median(ws)
            out[f"query.{q}.build_s"] = _median(res["build"][q])
            out[f"query.{q}.cold_s"] = res["cold"].get(q, 0.0)
    else:
        out.update({
            "streaming.agg_s": per_unit(lambda r: self_by_name(r, "streaming.agg")),
            "streaming.jobs_per_epoch": tot("jobs"),
            "streaming.rows_out": tot("rows_out"),
            "storage.advance_s": per_unit(lambda r: self_by_name(r, "storage.advance")),
            "storage.read_live_s": per_unit(lambda r: self_by_name(r, "storage.read_live")),
            "storage.pending_deltas": tot("pending_deltas"),
            "storage.compact_s": sum(r.totals.get("compact_s", 0) for r in roots),
            "storage.bytes_written": tot("bytes_written"),
            "storage.files": tot("files"), "storage.write_amp": tot("write_amp"),
            "storage.sink_merge_s": per_unit(
                lambda r: sum(s.dur for s in tr.tree(r.span) if s.name == "storage.sink_merge")),
            "storage.cdf_read_s": tot("cdf_read_s"),
        })
    return out


def epoch_table(res: dict) -> list[str]:
    lines = ["epoch  pending_deltas  jobs  epoch_s  compacted"]
    for r in res.get("layers", []):
        t = r.totals
        lines.append(f"{r.span.tags['epoch']:>5}  {t.get('pending_deltas', 0):>14}  "
                     f"{t.get('jobs', 0):>4}  {r.span.dur:7.2f}  "
                     f"{'yes' if t.get('compacted') else 'no'}")
    return lines


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, workdir, tmp)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # when no other run uses it
        except OSError:
            pass


def _run(args, workdir: str, tmp: str) -> int:
    from dozer_spark import get_spark

    from perfbench import workloads
    from perfbench.trace import SparkProbes, Tracer, peak_rss_mb

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        # temp files in the checkout; no perf-data file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=bool(args.trace))
    try:
        probes = SparkProbes(spark) if args.trace else None
        ctx = workloads.Ctx(spark, tracer, probes, args.seed, args.seconds,
                            workdir, args.scale)
        res = getattr(workloads, args.workload)(ctx)
        rss = peak_rss_mb()
        e2e = end_to_end(args.workload, res, ctx)
        for name, value, unit, n in report(args.workload, res, ctx, rss):
            print(f"{args.workload:10s} {name:22s} {value:14.4f} {unit:7s} n={n}")
        for err in ctx.errors:
            print("FAILED:", err.strip().replace("\n", " | "))
        if args.trace:
            metrics = per_layer(args.workload, res, ctx, session_s, e2e)
            units = declared_metrics()[1]
            for line in epoch_table(res) if args.workload == "cdc_churn" else []:
                print(line)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, units = e2e, declared_metrics()[0]
    finally:
        tracer.unpatch()
        stop_spark(spark)
    ok = all(v == v for v in metrics.values())  # no NaN
    result = {
        "correct": ctx.failed == 0 and ok,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": (v if v == v else 0.0), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
