"""A durable RetractingAggregation epoch costs the same Spark work at
every pending delta-log depth.

Each state read reduces its pending deltas in one anti-join, so an
epoch's job count stops growing with the number of pending deltas.
The aggregation diff runs once per epoch: the output changelog and the
aggregate-state delta both come from its one checkpoint.

A lone delta needs no reduction, so reads at depth 1 run no join; an
epoch at depth 2 still reads the depth-1 states of the epoch before
and may run fewer jobs. From depth 3 on, every read of an epoch
stacks two or more deltas and the job count must not move.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dozer_spark.streaming import RetractingAggregation

SCHEMA = "__op string, __txid long, __seq long, id long, grp string, amount double"


def _epoch_rows(k: int) -> list[tuple]:
    if k == 1:
        rows = [("I", 1, i, i, f"g{i % 4}", float(i)) for i in range(1, 21)]
        return rows + [("I", 1, 21, 101, "g0", 1.0)]
    # the same shape every epoch: a group-key move, an in-place update,
    # an insert and the delete of the previous epoch's insert
    return [("U", k, 1, k, f"g{(k + 1) % 4}", float(k)),
            ("U", k, 2, k + 10, f"g{(k + 10) % 4}", float(10 * k)),
            ("I", k, 3, 100 + k, "g1", 1.0),
            ("D", k, 4, 100 + k - 1, "g1", 1.0)]


def _diff_executions(spark, first: int) -> int:
    """SQL executions since `first` whose plan holds the diff's full
    outer join (the only full outer join in a durable epoch before any
    compaction)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList(first, 10_000)
    return sum("FullOuter" in ex.apply(i).physicalPlanDescription()
               for i in range(ex.size()))


def test_durable_epoch_jobs_flat_across_pending_depth(spark, tmp_path):
    ragg = RetractingAggregation(
        spark, pk=["id"], group_by=["grp"],
        aggs=[F.sum("amount").alias("s"), F.count(F.lit(1)).alias("n")],
        state_dir=str(tmp_path / "state"),
    )
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    jobs, diffs = {}, {}
    for k in range(1, 7):
        cl = spark.createDataFrame(_epoch_rows(k), SCHEMA)
        group = f"epoch-cost-{k}"
        first = store.executionsCount()
        sc.setJobGroup(group, "one durable aggregation epoch")
        try:
            out = ragg.process_batch(cl)
            out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        depth = len(ragg._snaptx._pending)
        assert depth == len(ragg._aggtx._pending) == k  # no compaction
        jobs[depth] = len(sc.statusTracker().getJobIdsForGroup(group))
        diffs[depth] = _diff_executions(spark, first)

    # the first epoch diffs against an empty state, which the optimizer
    # folds away; every later epoch runs the diff exactly once
    assert [diffs[d] for d in range(2, 7)] == [1] * 5, diffs
    assert jobs[3] == jobs[4] == jobs[5] == jobs[6], jobs
    assert jobs[2] <= jobs[6], jobs

    # and the state is right: the final aggregate equals a batch GROUP BY
    live: dict[int, tuple[str, float]] = {}
    for k in range(1, 7):
        for op, _, _, i, g, a in _epoch_rows(k):
            if op == "D":
                live.pop(i, None)
            else:
                live[i] = (g, a)
    want: dict[str, list] = {}
    for g, a in live.values():
        s = want.setdefault(g, [0.0, 0])
        s[0] += a
        s[1] += 1
    got = {r.grp: [r.s, r.n] for r in ragg.current().collect()}
    assert got == want
