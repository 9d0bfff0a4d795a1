"""Measure the whole-stage codegen working set that sizes
`spark.sql.codegen.cache.maxEntries` (dozer_spark/session.py).

Spark keeps compiled classes in an LRU cache keyed on the generated
source. When one unit of work (a benchmark `batch` pass, one durable
`cdc_churn` epoch) uses more distinct classes than the cache holds,
every class is evicted before its next use and each unit compiles
everything again. This tool counts the distinct classes each unit
uses: it starts a session whose cache cannot evict, runs the unit once
to warm up, empties the cache, runs the unit again and reads the
cache size.

    python tools/codegen_working_set.py [--seed 1] [--epochs 4]

Inputs come from the benchmark's seeded generators (perfbench/gen.py)
under a temporary directory, at the benchmark's full scale. Prints
one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--epochs", type=int, default=4,
                    help="cdc epochs before the measured one")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dozer_spark import get_spark
    from dozer_spark.queries import registry
    from dozer_spark.storage import TransactionalTable
    from dozer_spark.streaming import RetractingAggregation
    from perfbench import gen, workloads

    work = tempfile.mkdtemp(prefix="cg_ws_")
    spark = get_spark("codegen_working_set", extra_conf={
        "spark.sql.codegen.cache.maxEntries": "1000000"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    cg = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cg.getDeclaredField("cache")
    field.setAccessible(True)
    cache = field.get(cg.getField("MODULE$").get(None))
    try:
        data = os.path.join(work, "data")
        scale, n_docs, n_vecs = workloads.BATCH_SIZES["full"]
        gen.relational_tables(data, args.seed, scale)
        gen.corpus(data, args.seed, n_docs, n_vecs)
        reg = registry()
        names = workloads.RELATIONAL + workloads.OPS

        def batch_pass() -> None:
            for n in names:
                reg[n].build(spark, data).write.format("noop").mode(
                    "overwrite").save()

        n_orders, epoch_rows = workloads.CDC_SIZES["full"]
        cl = gen.CdcChangelog(args.seed, n_orders, epoch_rows)
        schema = workloads._schema(gen.LINE_COLS)
        agg = RetractingAggregation(
            spark, pk=["l_orderkey", "l_linenumber"],
            group_by=["o_orderpriority", "l_returnflag"],
            aggs=[F.sum("l_price").alias("revenue"),
                  F.sum("l_quantity").alias("qty"),
                  F.count(F.lit(1)).alias("n_lines")],
            state_dir=os.path.join(work, "state"))
        sink = TransactionalTable(spark, os.path.join(work, "sink"),
                                  pk=["o_orderpriority", "l_returnflag"])

        def epoch(txid: int, rows: list) -> None:
            v0 = sink.version
            out = agg.process_batch(spark.createDataFrame(rows, schema))
            sink.merge(out.withColumn("__del", F.col("__op") == "D")
                       .drop("__op"), delete_col="__del", batch_id=txid)
            sink.changes_as_changelog(v0 + 1).count()

        def measure(unit) -> int:
            cache.invalidateAll()
            unit()
            return int(cache.size())

        batch_pass()  # warm-up: the first pass of a JVM
        batch = measure(batch_pass)
        epoch(0, cl.backfill())
        for t in range(1, args.epochs + 1):
            epoch(t, cl.epoch(t))
        t = args.epochs + 1
        cdc = measure(lambda: epoch(t, cl.epoch(t)))
        t += 1
        both = measure(lambda: (batch_pass(), epoch(t, cl.epoch(t))))
        print(json.dumps({"seed": args.seed, "cdc_pending_deltas":
                          len(agg._snaptx._pending),
                          "batch_pass_classes": batch,
                          "cdc_epoch_classes": cdc,
                          "batch_pass_plus_cdc_epoch_classes": both}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
