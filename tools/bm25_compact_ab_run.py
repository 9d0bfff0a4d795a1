"""BM25 compaction run (round 12): the append_fresh fast path on a
SECOND index family at corpus scale. StreamingBm25Index's postings
state is the biggest streaming state in the repo (~60 postings/doc);
its ingest epochs are append-only (resend-free runs are all-fresh
windows), so compaction routes through append_fresh. Protocol: ingest
the corpus in equal epochs with compact_every=2 (compactions fire
INSIDE epochs 3, 5, 7, ...), then probe three fixed queries. Per-epoch
walls are the evidence.

The round-12 run also forced the merge compaction path for an A/B
(numbers in SCALING.md). That switch is gone — the fresh-keys flags
alone decide the path; tools/compact_ab_run.py still times the two
write shapes side by side on identical state.

Usage: python tools/bm25_compact_ab_run.py [corpus_dir=.scratch/scale10]
           [--epochs 8] [--compact-every 2]
Prints one JSON line for SCALING.md / ARTIFACTS.
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


def run_ingest(spark, docs, epochs, compact_every, root):
    from dozer_spark.ops.search import StreamingBm25Index

    idx = StreamingBm25Index(spark, "text", "doc_id", state_dir=root)
    for t in (idx._tx_tf, idx._tx_docs):
        t.compact_every = compact_every
    times = []
    for i in range(epochs):
        part = docs.filter(F.pmod(F.xxhash64("doc_id"), epochs) == i)
        t0 = time.perf_counter()
        idx.add_batch(part)
        times.append(round(time.perf_counter() - t0, 2))
    q = spark.createDataFrame(
        [("q1", "fast join query"), ("q2", "table scan filter"),
         ("q3", "window agg group")], ["query_id", "qtext"])
    t0 = time.perf_counter()
    probe = sorted(map(tuple, idx.topn(q, "qtext", "query_id",
                                       topn=10).collect()))
    probe_sec = round(time.perf_counter() - t0, 2)
    return {
        "mode": "append",
        "epochs": epochs, "compact_every": compact_every,
        "per_epoch_sec": times, "total_ingest_sec": round(sum(times), 2),
        "base_version": idx._tx_tf.tx.version,
        "probe_sec": probe_sec, "probe_rows": len(probe),
    }


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    corpus = args[0] if args else ".scratch/scale10"
    epochs, compact_every = 8, 2
    argv = sys.argv[1:]
    for flag, default in (("--epochs", 8), ("--compact-every", 2)):
        if flag in argv:
            v = int(argv[argv.index(flag) + 1])
            if flag == "--epochs":
                epochs = v
            else:
                compact_every = v
    spark = get_spark("bm25_compact_ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(
        os.path.join(corpus, "documents.parquet")).persist()
    n = docs.count()
    root = tempfile.mkdtemp(prefix="bm25ab_")
    try:
        rec = run_ingest(spark, docs, epochs, compact_every, root)
        rec["corpus"] = corpus
        rec["n_docs"] = n
        print(json.dumps(rec), flush=True)
    finally:
        docs.unpersist()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
