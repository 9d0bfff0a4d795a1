"""The benchmark workloads. Each runs in closed loop: the next operation
starts only after the previous one has completed.

- `cdc_churn`: a lineitem changelog through a durable
  `RetractingAggregation` into a `TransactionalTable.merge` sink, then a
  change-feed read of the sink.
- `batch`: relational headline queries and ops headline queries on
  seeded tables, each built and run to the `noop` sink.

A workload returns its timings (lists of seconds), its attempted and
failed operation counts and, when traced, the per-layer metrics.
Output checks run outside the timed regions.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.trace import cpu_s, process_start

# relational headline queries: a six-way star join, an as-of window join
RELATIONAL = ["join_multiway_q5_shape", "asof_join_purchase_last_click"]
# ops headline queries: a pair-search shuffle, a pandas cogroup
OPS = ["dedup_simhash", "ann_brute_force_topk_fast"]

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def _schema(cols: list[tuple[str, str]]) -> T.StructType:
    types = {"long": T.LongType(), "string": T.StringType()}
    return T.StructType(
        [T.StructField("__op", T.StringType()), T.StructField("__txid", T.LongType()),
         T.StructField("__seq", T.LongType())]
        + [T.StructField(c, types[t]) for c, t in cols])


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Ctx:
    """What every workload gets: the session, the tracer and its probes,
    the run's seed, measured seconds, scale and scratch directory."""

    def __init__(self, spark, tracer, probes, seed: int, seconds: float,
                 workdir: str, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.probes = probes
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s = 0.0  # wall seconds from process start to the first timed op
        self.setup_cpu_s = 0.0  # CPU seconds of the same

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def first_op(self) -> None:
        if not self.setup_s:
            self.setup_s = time.perf_counter() - process_start()
            self.setup_cpu_s = cpu_s()

    def root(self, name: str, **tags):
        """A top-level span; its layer counters are summed on close."""
        return _Root(self, name, tags)


class _Root:
    def __init__(self, ctx: Ctx, name: str, tags: dict):
        self.ctx, self.name, self.tags = ctx, name, tags
        self.totals: dict = {}
        self.span = None

    def __enter__(self):
        c = self.ctx
        self._cm = c.tracer.span(self.name, **self.tags)
        if c.tracer.enabled:
            t0 = time.perf_counter()
            self._cg0, self._rl0 = c.probes.codegen(), c.probes.rules()
            self._sql0 = c.probes.sql_executions()
            c.tracer.overhead_s += time.perf_counter() - t0
        self.span = self._cm.__enter__()
        return self

    def __exit__(self, *exc):
        c = self.ctx
        out = self._cm.__exit__(*exc)
        if c.tracer.enabled:
            t0 = time.perf_counter()
            (n1, ms1), (r1, runs1) = c.probes.codegen(), c.probes.rules()
            (n0, ms0), (r0, runs0) = self._cg0, self._rl0
            py = c.probes.python_nodes(self._sql0)
            c.tracer.overhead_s += time.perf_counter() - t0
            self.totals = c.tracer.attribute_jobs(self.span, c.probes)
            self.totals.update(py)
            self.totals.update(codegen_compiles=n1 - n0,
                               codegen_s=(ms1 - ms0) / 1e3,
                               rule_s=r1 - r0, rule_runs=runs1 - runs0)
            self.span.counters.update(self.totals)
        return out


# -- cdc_churn -----------------------------------------------------------------

CDC_SIZES = {"full": (600, 200), "tiny": (60, 40)}  # (orders, epoch rows)
# After the backfill, WARMUP_EPOCHS epochs run untimed: the first epochs
# after it still run code the JVM has not compiled yet, so their times
# fall epoch by epoch at a pace set by how busy the host is. Every run
# then measures at least MIN_EPOCHS epochs, at pending-delta depths
# WARMUP_EPOCHS + 2 to WARMUP_EPOCHS + MIN_EPOCHS + 1 (each epoch's jobs
# grow with the depth). When they take longer than the run's seconds, as
# at the benchmark's run length, every run measures the same epochs, so
# their mean compares run to run.
WARMUP_EPOCHS = 1
MIN_EPOCHS = 2


def cdc_churn(ctx: Ctx) -> dict:
    from dozer_spark.storage import TransactionalTable
    from dozer_spark.streaming import RetractingAggregation
    from dozer_spark.streaming.incstate import DiffStateTable

    spark, tr = ctx.spark, ctx.tracer
    n_orders, epoch_rows = CDC_SIZES[ctx.scale]
    cl = gen.CdcChangelog(ctx.seed, n_orders, epoch_rows)
    schema = _schema(gen.LINE_COLS)
    state = os.path.join(ctx.workdir, "state")
    sink_dir = os.path.join(ctx.workdir, "sink")
    agg = RetractingAggregation(
        spark, pk=["l_orderkey", "l_linenumber"],
        group_by=["o_orderpriority", "l_returnflag"],
        aggs=[F.sum("l_price").alias("revenue"), F.sum("l_quantity").alias("qty"),
              F.count(F.lit(1)).alias("n_lines")],
        state_dir=state)
    sink = TransactionalTable(spark, sink_dir, pk=["o_orderpriority", "l_returnflag"])
    pending: list[int] = []
    if tr.enabled:
        def on_advance(span, meta):
            span.counters["pending_deltas"] = len(meta["pending"])
            pending.append(len(meta["pending"]))
        tr.wrap(DiffStateTable, "advance", "storage.advance", on_advance)
        tr.wrap(DiffStateTable, "read_live", "storage.read_live")
        tr.wrap(TransactionalTable, "merge", "storage.merge")
        tr.wrap(TransactionalTable, "append_fresh", "storage.append_fresh")

    res = {"epoch_s": [], "epoch_cpu_s": [], "cdf_read_s": [], "rows_in": 0,
           "layers": []}

    def on_disk() -> dict[str, tuple[int, int]]:
        return {**_dir_files(state), **_dir_files(sink_dir)}

    def run_epoch(txid: int, rows: list) -> tuple[float, float]:
        """(wall seconds, CPU seconds) of one epoch."""
        changelog = spark.createDataFrame(rows, schema)
        files0 = on_disk() if tr.enabled else {}
        pending.clear()
        ctx.first_op()
        c0 = cpu_s()
        t0 = time.perf_counter()
        with ctx.root("epoch", epoch=txid) as r:
            with tr.span("streaming.agg"):
                ac = agg.process_batch(changelog)
            with tr.span("storage.sink_merge"):
                sink.merge(ac.withColumn("__del", F.col("__op") == "D").drop("__op"),
                           delete_col="__del", batch_id=txid)
        dt = time.perf_counter() - t0
        cpu = cpu_s() - c0
        if tr.enabled:
            files1 = on_disk()
            changed = [p for p, v in files1.items() if files0.get(p) != v]
            in_bytes = sum(len(repr(x)) for x in rows)  # the rows' text size
            written = sum(files1[p][0] for p in changed)
            # a compaction is a merge or append_fresh under an advance
            tree = tr.tree(r.span)
            names = {s.id: s.name for s in tree}
            compact = sum(s.dur for s in tree
                          if s.name in ("storage.merge", "storage.append_fresh")
                          and names.get(s.parent) == "storage.advance")
            r.totals.update(compact_s=compact, compacted=int(compact > 0),
                            pending_deltas=max(pending, default=0),
                            files=len(changed), bytes_written=written,
                            write_amp=written / max(in_bytes, 1))
            r.span.counters.update(r.totals)
            res["layers"].append(r)
        return dt, cpu

    # cold: the backfill is the pipeline's first execution in this JVM
    ctx.attempted += 1
    try:
        res["cold_s"], res["cold_cpu_s"] = run_epoch(0, cl.backfill())
    except Exception:
        ctx.fail("backfill: " + traceback.format_exc(limit=3))
        res["cold_s"] = res["cold_cpu_s"] = float("nan")
        return res
    res["cold_layers"] = [res["layers"].pop()] if tr.enabled else []
    expected = cl.expected_groups()
    t_start = time.perf_counter()
    txid = 0
    while (txid < WARMUP_EPOCHS + MIN_EPOCHS
           or time.perf_counter() - t_start < ctx.seconds):
        txid += 1
        timed = txid > WARMUP_EPOCHS
        rows = cl.epoch(txid)
        before = expected
        expected = cl.expected_groups()
        ctx.attempted += 2
        try:
            v0 = sink.version
            dt, cpu = run_epoch(txid, rows)
            if timed:
                res["epoch_s"].append(dt)
                res["epoch_cpu_s"].append(cpu)
                res["rows_in"] += len(rows)
            elif tr.enabled:
                res["layers"].pop()
            if txid == WARMUP_EPOCHS:
                t_start = time.perf_counter()
        except Exception:
            ctx.fail(f"epoch {txid}: " + traceback.format_exc(limit=3))
            break
        try:
            t0 = time.perf_counter()
            with ctx.root("storage.cdf_read", epoch=txid) as r:
                n = sink.changes_as_changelog(v0 + 1).count()
            if timed:
                res["cdf_read_s"].append(time.perf_counter() - t0)
            if tr.enabled and timed:
                res["layers"][-1].totals["rows_out"] = n
                res["layers"][-1].totals["cdf_read_s"] = r.span.dur
            want = sum(1 for k in set(before) | set(expected)
                       if before.get(k) != expected.get(k))
            if n != want:
                ctx.fail(f"epoch {txid}: change feed has {n} rows, expected {want}")
        except Exception:
            ctx.fail(f"cdf read {txid}: " + traceback.format_exc(limit=3))

    # output check: the sink equals a from-scratch replay of every epoch
    ctx.attempted += 1
    try:
        got = {(r.o_orderpriority, r.l_returnflag): (r.revenue, r.qty, r.n_lines)
               for r in sink.read().collect()}
        if got != expected:
            bad = sorted(set(got.items()) ^ set(expected.items()))[:3]
            ctx.fail(f"sink differs from the replayed changelog: {bad}")
    except Exception:
        ctx.fail("sink check: " + traceback.format_exc(limit=3))
    live_rows = sum(v[2] for v in expected.values())
    disk = sum(v[0] for v in on_disk().values())
    res["state_bytes_per_row"] = disk / max(live_rows, 1)
    return res


# -- batch ---------------------------------------------------------------------

BATCH_SIZES = {"full": (0.01, 2000, 1000), "tiny": (0.001, 300, 200)}
# After the cold pass, WARMUP_PASSES passes run untimed: a query's first
# few passes still run code the JVM is compiling, and fall by up to half
# pass by pass, at a pace set by how busy the host is. A query's warm
# time is then the median of at least MIN_WARM_PASSES timed passes, so
# one slow pass (a Python worker start, a GC pause) does not set it.
WARMUP_PASSES = 2
MIN_WARM_PASSES = 3


def batch(ctx: Ctx, names: list[str] | None = None) -> dict:
    import duckdb

    from dozer_spark.queries import registry

    # the parity checker's multiset normalization (tools/parity_check.py)
    sys.path.insert(0, os.path.join(gen.REPO, "tools"))
    from parity_check import df_multiset

    spark, tr = ctx.spark, ctx.tracer
    names = names or RELATIONAL + OPS
    scale, n_docs, n_vecs = BATCH_SIZES[ctx.scale]
    data = os.path.join(ctx.workdir, "data")
    gen.relational_tables(data, ctx.seed, scale)
    gen.corpus(data, ctx.seed, n_docs, n_vecs)
    reg = registry()
    queries = {n: reg[n] for n in names}
    # JVM and catalog warm-up on a table no timed query reads first
    spark.read.parquet(os.path.join(data, "region.parquet")).count()

    res = {"cold": {}, "cold_cpu": {}, "warm": {n: [] for n in names},
           "warm_cpu": {n: [] for n in names}, "build": {n: [] for n in names},
           "layers": [], "cold_layers": []}

    def execute(name: str, phase: str, collect: bool):
        q = queries[name]
        ctx.first_op()
        c0 = cpu_s()
        t0 = time.perf_counter()
        with ctx.root("query", query=name, phase=phase) as r:
            with tr.span("queries.build"):
                tb = time.perf_counter()
                df = q.build(spark, data)
                build_s = time.perf_counter() - tb
            with tr.span("spark.execute"):
                if collect:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    rows = None
        dt = time.perf_counter() - t0
        cpu = cpu_s() - c0
        if tr.enabled and not phase.startswith("warmup"):
            (res["cold_layers"] if phase == "cold" else res["layers"]).append(r)
        return dt, cpu, build_s, df, rows

    # cold pass: each query's first execution; its rows feed the check
    outputs = {}
    for n in names:
        ctx.attempted += 1
        try:
            dt, cpu, _, df, rows = execute(n, "cold", collect=True)
            res["cold"][n] = dt
            res["cold_cpu"][n] = cpu
            outputs[n] = (df.columns, rows)
        except Exception:
            ctx.fail(f"{n} cold: " + traceback.format_exc(limit=3))
    t_start = time.perf_counter()
    passes = 0
    while (passes < WARMUP_PASSES + MIN_WARM_PASSES
           or time.perf_counter() - t_start < ctx.seconds):
        passes += 1
        timed = passes > WARMUP_PASSES
        for n in names:
            if n not in outputs:
                continue
            ctx.attempted += 1
            try:
                phase = f"warm{passes}" if timed else f"warmup{passes}"
                dt, cpu, b, _, _ = execute(n, phase, collect=False)
                if timed:
                    res["warm"][n].append(dt)
                    res["warm_cpu"][n].append(cpu)
                    res["build"][n].append(b)
            except Exception:
                ctx.fail(f"{n} warm: " + traceback.format_exc(limit=3))
        if passes == WARMUP_PASSES:
            t_start = time.perf_counter()

    # output check against the DuckDB oracles on the same generated files
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    for n, (cols, rows) in outputs.items():
        ctx.attempted += 1
        try:
            rel = con.sql(queries[n].oracle)
            got = df_multiset(list(cols), [tuple(r) for r in rows])
            if got != df_multiset(rel.columns, rel.fetchall()):
                ctx.fail(f"{n}: result differs from the DuckDB oracle")
        except Exception:
            ctx.fail(f"{n} oracle: " + traceback.format_exc(limit=3))
    con.close()
    res["warm_total_s"] = sum(_median(v) for v in res["warm"].values())
    res["cold_total_s"] = sum(res["cold"].values())
    res["warm_cpu_s"] = sum(_median(v) for v in res["warm_cpu"].values())
    res["cold_cpu_s"] = sum(res["cold_cpu"].values())
    return res
