"""Self-test of the benchmark harness at tiny scale.

    python3 perfbench/selftest.py

Checks, for every workload:
- an untraced run reports every end-to-end metric BENCHMARK.json
  declares, with its unit, and a traced run every per-layer metric,
  with failed = 0;
- in the traced run's span file, the self times of each root span's
  tree sum to the root's duration;
- a planted wrong answer is counted as a failure (in-process, with the
  program's output altered for one operation).
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(failures: list[str]) -> None:
    for w in run.WORKLOADS:
        for trace, want in enumerate(run.declared_metrics()):
            res = _run(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))}")
            if not res["correct"] or res["failed"] != 0:
                failures.append(f"{w} trace={trace}: run not correct: {res}")
            if trace:
                check_self_times(w, failures)


def check_self_times(workload: str, failures: list[str]) -> None:
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-7.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out += subtree(c)
        return out

    for root in children.get(None, []):
        tree = subtree(root)
        self_sum = sum((s["end"] - s["start"])
                       - sum(c["end"] - c["start"] for c in children.get(s["id"], []))
                       for s in tree)
        if abs(self_sum - (root["end"] - root["start"])) > 1e-6:
            failures.append(f"{workload}: self times of span {root['id']} "
                            f"sum to {self_sum}, root lasts {root['end'] - root['start']}")


def check_planted(failures: list[str]) -> None:
    """A wrong answer from the program must count as failed."""
    workdir = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    try:
        import dozer_spark.queries as dq
        from dozer_spark import get_spark
        from dozer_spark.storage import TransactionalTable

        from perfbench import workloads
        from perfbench.trace import Tracer

        spark = get_spark("perfbench-selftest", extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local")})
        spark.sparkContext.setLogLevel("ERROR")

        def ctx(sub):
            return workloads.Ctx(spark, Tracer(spark, False), None, 7, 1.0,
                                 os.path.join(workdir, sub), "tiny")

        # batch: one query answers with its rows cut in half
        real = dq.registry
        q = real()[workloads.RELATIONAL[0]]
        wrong = q.__class__(**{**q.__dict__, "build": lambda s, sf: q.build(s, sf).limit(1)})
        dq.registry = lambda: {**real(), q.name: wrong}
        c = ctx("batch")
        try:
            workloads.batch(c, names=[q.name])
        finally:
            dq.registry = real
        if c.failed == 0:
            failures.append("batch: a planted wrong answer was not counted")
        # cdc_churn: the sink loses a row
        read = TransactionalTable.read
        TransactionalTable.read = lambda self: read(self).limit(1)
        c = ctx("cdc")
        try:
            workloads.cdc_churn(c)
        finally:
            TransactionalTable.read = read
        if c.failed == 0:
            failures.append("cdc_churn: a planted wrong answer was not counted")
        run.stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> int:
    failures: list[str] = []
    check_metrics(failures)
    check_planted(failures)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
