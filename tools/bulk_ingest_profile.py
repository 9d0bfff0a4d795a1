"""Bulk-ingest component profile for StreamingFuzzyIndex (round 12,
r11 verdict task 5): where does a BULK epoch's wall actually go as
accumulated state grows, and is the per-epoch write path flat?

Per bulk stage (equal slices of the corpus), times each component of
process_batch as a standalone plan over the same inputs, then the real
end-to-end epoch:

- nn_sec        : new-vs-new blocked self join (O(batch), should be flat)
- probe_sec     : new-vs-old join, batch variants vs accumulated state
                  (the bulk regime touches every bucket by construction,
                  so this is the one component allowed to track state)
- delta_write_sec: one-pass parquet write of the epoch's variant delta
                  to a scratch dir (O(batch), should be flat)
- epoch_sec     : the production process_batch (all of the above +
                  dedup/levenshtein + both state advances + commit)
- pairs_total   : exactly-once regression constant (31,098 at 2M/4)

Usage: python tools/bulk_ingest_profile.py [n_names] [--stages 4]
           [--compact-every N] [--components]
Prints one JSON line per stage for SCALING.md / ARTIFACTS.

--compact-every 2 --stages 8 makes compaction fire DURING bulk ingest
(the default window of 8 never compacts in a 4-stage protocol — every
published epoch wall before r12 silently excluded compaction). Bulk
epochs are all-fresh, so they compact through append_fresh; the r12
merge-compaction A/B numbers are in SCALING.md, and
tools/compact_ab_run.py times both write shapes side by side.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dozer_spark import get_spark
from tools.wave9_scale_run import SCRATCH, gen_names


def run_tier(spark, n: int, stages: int, compact_every: int = 8,
             components: bool = True) -> list[dict]:
    from dozer_spark.ops.dedup import _blocked_self_join_pairs
    from dozer_spark.ops.fuzzy import deletion_variants
    from dozer_spark.streaming.fuzzy import StreamingFuzzyIndex

    os.makedirs(SCRATCH, exist_ok=True)
    p = os.path.join(SCRATCH, f"names_{n}.parquet")
    if not os.path.exists(p):
        gen_names(n, p)
    names = spark.read.parquet(p).persist()
    names.count()

    out = []
    sd = tempfile.mkdtemp(prefix="bulkprof_", dir=SCRATCH)
    try:
        fz = StreamingFuzzyIndex(spark, "name", "id",
                                 state_dir=os.path.join(sd, "state"))
        for t in (fz._tx, fz._ids_tx):
            t.compact_every = compact_every
        pairs_total = 0
        for stage in range(stages):
            batch = names.filter(F.col("id") % stages == stage)
            keys_new = batch.select(
                F.col("id"), F.col("name").alias("__str"),
                F.explode(deletion_variants(F.col("name"))).alias("__k"),
            ).persist()
            batch_keys = keys_new.count()

            # (1) new-vs-new blocked self join (flat claim)
            nn_sec = probe_sec = delta_write_sec = None
            state_rows = 0
            if components:
                t0 = time.perf_counter()
                _blocked_self_join_pairs(
                    keys_new, ["__k"], "id", hot_cap=4096,
                    broadcast_gate_bytes=fz.gate,
                    carry=(("s_a", "s_b", "__str"),),
                ).count()
                nn_sec = round(time.perf_counter() - t0, 2)

                # (2) new-vs-old probe vs accumulated state (tracks state)
                if stage > 0:
                    t0 = time.perf_counter()
                    old = fz._tx.read_live()
                    (keys_new.hint("merge").alias("a")
                     .join(old.alias("o"), F.col("a.__k") == F.col("o.__k"))
                     .filter(F.col("a.id") != F.col("o.id"))
                     .count())
                    probe_sec = round(time.perf_counter() - t0, 2)
                    state_rows = old.count()

                # (3) one-pass delta write of the epoch's variants
                wdir = os.path.join(sd, f"wprobe_{stage}")
                t0 = time.perf_counter()
                keys_new.withColumn("__del", F.lit(False)) \
                    .write.mode("overwrite").parquet(wdir)
                delta_write_sec = round(time.perf_counter() - t0, 2)
                shutil.rmtree(wdir, ignore_errors=True)

            # (4) the real epoch end-to-end
            t0 = time.perf_counter()
            pairs_total += fz.process_batch(batch).count()
            epoch_sec = round(time.perf_counter() - t0, 2)

            keys_new.unpersist()
            out.append({
                "tier_rows": n, "stage": stage + 1, "stages": stages,
                "batch_variant_rows": batch_keys,
                "state_variant_rows": state_rows,
                "nn_sec": nn_sec,
                "probe_sec": probe_sec,
                "delta_write_sec": delta_write_sec,
                "epoch_sec": epoch_sec,
                "compact_every": compact_every,
                "base_version": fz._tx.tx.version,
                "pairs_total": pairs_total,
            })
            print(json.dumps(out[-1]), flush=True)
    finally:
        names.unpersist()
        shutil.rmtree(sd, ignore_errors=True)
    return out


def main():
    argv = sys.argv[1:]
    skip = set()
    for i, a in enumerate(argv):
        if a in ("--stages", "--compact-every"):
            skip.add(i + 1)
    args = [a for i, a in enumerate(argv)
            if not a.startswith("--") and i not in skip]
    n = int(args[0]) if args else 2_000_000
    stages = 4
    for a in sys.argv[1:]:
        if a.startswith("--stages"):
            stages = int(a.split("=", 1)[1] if "=" in a
                         else sys.argv[sys.argv.index(a) + 1])
    compact_every = 8
    for a in sys.argv[1:]:
        if a.startswith("--compact-every"):
            compact_every = int(a.split("=", 1)[1] if "=" in a
                                else sys.argv[sys.argv.index(a) + 1])
    components = "--components" in sys.argv
    spark = get_spark("bulk_ingest_profile")
    spark.sparkContext.setLogLevel("ERROR")
    run_tier(spark, n, stages, compact_every, components)


if __name__ == "__main__":
    main()
