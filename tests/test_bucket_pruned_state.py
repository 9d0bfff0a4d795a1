"""Probe-key bucketing: TransactionalTable.bucket_cols +
DiffStateTable.read_live_pruned — the round-11 scale fix that makes the
streaming fuzzy/minhash/BM25 per-epoch state probes read O(matched
buckets) instead of O(state). Pins:

- a bucket_cols table MERGEs/reads correctly and read_buckets returns
  exactly the rows whose bucket columns hash to the requested ids;
- read_live_pruned == read_live restricted to the pruned buckets, both
  before and after compaction, with deletes in flight;
- layout guards fail loudly (bucket mismatch on resume, point lookup
  on a probe-bucketed table);
- the BM25 serving scalars produce the exact batch avgdl.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dozer_spark.storage import TransactionalTable
from dozer_spark.streaming.incstate import DiffStateTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_txtable_bucket_cols_merge_and_read_buckets(spark, tmp_path):
    p = str(tmp_path / "bt")
    tx = TransactionalTable(spark, p, pk=["digest"], n_buckets=8,
                            bucket_cols=["k"])
    data = [(f"d{i}", f"key{i % 5}", i) for i in range(40)]
    df = spark.createDataFrame(data, ["digest", "k", "v"])
    tx.merge(df)
    assert _rows(tx.read()) == sorted(data)

    # every row whose k hashes to bucket b is in read_buckets([b]) and
    # nowhere else; the union over all buckets is the table
    seen = []
    for b in range(8):
        part = tx.read_buckets([b])
        for r in part.collect():
            assert tx._bucket_of([r["k"]]) == b
            seen.append(tuple(r))
    assert sorted(seen) == sorted(data)

    # a probe for specific keys only needs their buckets
    want_keys = {"key1", "key3"}
    bids = sorted({tx._bucket_of([k]) for k in want_keys})
    got = tx.read_buckets(bids).filter(F.col("k").isin(*want_keys))
    assert _rows(got) == sorted(t for t in data if t[1] in want_keys)


def test_txtable_bucket_cols_resume_mismatch_raises(spark, tmp_path):
    p = str(tmp_path / "bt2")
    tx = TransactionalTable(spark, p, pk=["digest"], bucket_cols=["k"])
    tx.merge(spark.createDataFrame([("d1", "a", 1)], ["digest", "k", "v"]))
    with pytest.raises(ValueError, match="bucketed by"):
        TransactionalTable(spark, p, pk=["digest"])  # pk-bucketed resume
    # same bucketing resumes fine
    tx2 = TransactionalTable(spark, p, pk=["digest"], bucket_cols=["k"])
    assert tx2.read().count() == 1


def test_txtable_point_lookup_guard(spark, tmp_path):
    p = str(tmp_path / "bt3")
    tx = TransactionalTable(spark, p, pk=["digest"], bucket_cols=["k"])
    tx.merge(spark.createDataFrame([("d1", "a", 1)], ["digest", "k", "v"]))
    with pytest.raises(NotImplementedError, match="bucketed by its PK"):
        tx.lookup(["d1"])


def test_txtable_bucket_cols_delete_rows(spark, tmp_path):
    """Delete rows carry the (non-PK) bucket columns so the
    touched-bucket scan can hash them."""
    p = str(tmp_path / "bt4")
    tx = TransactionalTable(spark, p, pk=["digest"], n_buckets=4,
                            bucket_cols=["k"])
    df = spark.createDataFrame(
        [(f"d{i}", f"key{i}", i) for i in range(6)], ["digest", "k", "v"])
    tx.merge(df)
    dels = spark.createDataFrame(
        [("d2", "key2", 2, True), ("d9", "key9", 9, False)],
        ["digest", "k", "v", "__del"])
    tx.merge(dels, delete_col="__del")
    got = {r["digest"] for r in tx.read().collect()}
    assert got == {"d0", "d1", "d3", "d4", "d5", "d9"}


def _mk_state(spark, path, compact_every=2):
    return DiffStateTable(
        spark, path, key_cols=["dg"], internal_key=True,
        bucket_cols=["k"], n_buckets=8, compact_every=compact_every)


@pytest.mark.slow
def test_diffstate_pruned_equals_full_filtered(spark, tmp_path):
    st = _mk_state(spark, str(tmp_path / "ds"))
    # 5 epochs spanning a compaction (compact_every=2), incl. a delete
    for e in range(1, 6):
        rows = [(f"dg{e}_{i}", f"key{i}", e * 100 + i) for i in range(10)]
        delta = spark.createDataFrame(rows, ["dg", "k", "v"]).withColumn(
            "__del", F.lit(False))
        if e == 4:  # delete epoch-1 rows for key3
            delta = delta.unionByName(spark.createDataFrame(
                [("dg1_3", "key3", 103, True)], ["dg", "k", "v", "__del"]))
        st.advance(delta, epoch=e, app_id="t")

    full = st.read_live()
    probe_keys = ["key0", "key3", "key7"]
    bids = st.bucket_ids_for_values([[k] for k in probe_keys])
    pruned = st.read_live_pruned(bids)
    # the pruned view, restricted to the probe keys, equals the full
    # view restricted to the probe keys (no match can hide elsewhere)
    assert (_rows(pruned.filter(F.col("k").isin(*probe_keys)))
            == _rows(full.filter(F.col("k").isin(*probe_keys))))
    # and the deleted digest is gone from both
    assert pruned.filter(F.col("dg") == "dg1_3").count() == 0
    # pruned view only contains rows from the requested buckets
    for r in pruned.collect():
        assert st.tx._bucket_of([r["k"]]) in bids


def test_diffstate_touched_bucket_ids(spark, tmp_path):
    st = _mk_state(spark, str(tmp_path / "ds2"))
    st.advance(
        spark.createDataFrame([("d1", "a", 1)], ["dg", "k", "v"])
        .withColumn("__del", F.lit(False)), epoch=1, app_id="t")
    probe = spark.createDataFrame([("x", "a"), ("y", "b")], ["id", "k"])
    ids = st.touched_bucket_ids(probe.select("k"))
    assert set(ids) == {st.tx._bucket_of(["a"]), st.tx._bucket_of(["b"])}
    # driver-side resolution agrees with the Spark-side hash
    assert st.bucket_ids_for_values([["a"], ["b"]]) == ids


@pytest.mark.slow
def test_bm25_serving_avgdl_matches_batch_avg(spark, tmp_path):
    """The maintained integer scalars reproduce F.avg bit-for-bit —
    the precondition for the serving path's exact-oracle claim."""
    from dozer_spark.ops.search import StreamingBm25Index

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7))) for i in range(1, 40)],
        ["doc_id", "text"])
    idx = StreamingBm25Index(spark, "text", "doc_id",
                             state_dir=str(tmp_path / "bm"))
    for k in range(3):
        idx.add_batch(docs.filter(F.col("doc_id") % 3 == k))
    sc = idx._scalars
    got = float(sc["sum_dl"]) / float(sc["n_nonempty"])
    want = (
        docs.select(F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .filter(F.col("text") != "")
        .agg(F.avg(F.col("n").cast("double"))).first()[0]
    )
    assert got == want
    assert sc["n_docs"] == 39


@pytest.mark.slow
def test_diffstate_fresh_keys_union_path(spark, tmp_path):
    """fresh_keys deltas read identically to anti-join deltas for an
    append-only workload, compose with a non-fresh (delete-carrying)
    epoch in the same pending window, and the flags survive a
    read_committed resume."""
    from dozer_spark.streaming.state import StateStore

    def rows(e, ks):
        return spark.createDataFrame(
            [(f"dg{e}_{k}", f"key{k}", e * 10 + k) for k in ks],
            ["dg", "k", "v"]).withColumn("__del", F.lit(False))

    sa = _mk_state(spark, str(tmp_path / "fresh"), compact_every=10)
    sb = _mk_state(spark, str(tmp_path / "plain"), compact_every=10)
    metas = []
    for e in (1, 2):
        metas.append(sa.advance(rows(e, range(6)), epoch=e, app_id="t",
                                fresh_keys=True))
        sb.advance(rows(e, range(6)), epoch=e, app_id="t")
    # an all-fresh window reads as a pure union: no anti-join at all
    plan = sa.read_live()._jdf.queryExecution().analyzed().toString()
    assert "LeftAnti" not in plan
    # epoch 3 deletes one epoch-1 digest -> must NOT be marked fresh
    dels = spark.createDataFrame(
        [("dg1_2", "key2", 12, True)], ["dg", "k", "v", "__del"])
    metas.append(sa.advance(rows(3, [7]).unionByName(dels), 3, "t"))
    sb.advance(rows(3, [7]).unionByName(dels), 3, "t")
    assert _rows(sa.read_live()) == _rows(sb.read_live())
    assert sa.read_live().filter(F.col("dg") == "dg1_2").count() == 0
    bids = sa.bucket_ids_for_values([["key2"], ["key7"]])
    assert _rows(sa.read_live_pruned(bids)) == _rows(
        sb.read_live_pruned(bids))
    # the read is one reduction: a single anti-join of the older deltas
    # against the later non-fresh keys, whatever the depth (analyzed
    # plan = construction shape)
    plan = sa.read_live()._jdf.queryExecution().analyzed().toString()
    assert plan.count("Join LeftAnti") == 1
    plain = sb.read_live()._jdf.queryExecution().analyzed().toString()
    assert plain.count("Join LeftAnti") == 1

    # resume: flags restored from the committed meta
    store = StateStore(spark, str(tmp_path / "store"))
    store.stage_meta("m", metas[-1])
    store.commit()
    sc = _mk_state(spark, str(tmp_path / "fresh"), compact_every=10)
    sc.read_committed(store.load_meta("m"))
    assert sc._fresh == {1: True, 2: True, 3: False}
    assert _rows(sc.read_live()) == _rows(sa.read_live())


def test_pruned_read_touches_only_matched_bucket_files(spark, tmp_path):
    """The physical claim behind O(matched buckets): every file a
    pruned read scans lives under a requested bucket's dir (base
    __b=<id> partition dirs; pending delta files are whole-file reads
    filtered by the bucket hash, so only the BASE is dir-prunable)."""
    st = _mk_state(spark, str(tmp_path / "dsf"), compact_every=2)
    for e in (1, 2, 3, 4):  # two compactions -> everything in base
        st.advance(
            spark.createDataFrame(
                [(f"dg{e}_{i}", f"key{i}", i) for i in range(12)],
                ["dg", "k", "v"]).withColumn("__del", F.lit(False)),
            epoch=e, app_id="t")
    st._compact(99, "t")  # flush pending so the read is base-only
    bids = st.bucket_ids_for_values([["key1"], ["key5"]])
    files = st.read_live_pruned(bids).inputFiles()
    assert files
    import re

    for f in files:
        m = re.search(r"__b=(\d+)", f)
        assert m and int(m.group(1)) in bids


@pytest.mark.slow
def test_diffstate_bucket_move_survives_compaction(spark, tmp_path):
    """Review finding (round 11): a bucket-moving re-send — tombstone
    (old bucket) + insert (new bucket) for the SAME key in one delta —
    must not leave the stale image in the old bucket once the delta
    COMPACTS into the base (pre-compaction reads were already correct
    via the per-delta anti-join)."""
    st = _mk_state(spark, str(tmp_path / "mv"), compact_every=1)

    def adv(e, rows_, fresh=False):
        st.advance(spark.createDataFrame(
            rows_, ["dg", "k", "v", "__del"]), epoch=e, app_id="t",
            fresh_keys=fresh)

    # epoch 1: key X at k='oldkey' (compacts into base at epoch 2's
    # advance because compact_every=1)
    adv(1, [("X", "oldkey", 1, False), ("Y", "other", 2, False)],
        fresh=True)
    # epoch 2: X moves oldkey -> newkey (tombstone + insert, one delta)
    adv(2, [("X", "oldkey", 1, True), ("X", "newkey", 3, False)])
    # epoch 3 forces epoch 2's delta to compact into the base
    adv(3, [("Z", "zk", 4, False)], fresh=True)
    # force the last delta in too so the read is pure base
    st._compact(99, "t")

    # internal_key strips dg on read; the stale ('oldkey', 1) image
    # must be gone and exactly one image of X must remain
    live = _rows(st.read_live())
    assert live == [("newkey", 3), ("other", 2), ("zk", 4)]
    # the old bucket no longer holds X (tx-level read keeps the key)
    old_b = st.tx._bucket_of(["oldkey"])
    assert st.tx.read_buckets([old_b]).filter(
        F.col("dg") == "X").count() == 0
    # and a full delete after a move clears every bucket
    adv(100, [("X", "newkey", 3, True)])
    st._compact(101, "t")
    assert st.tx.read().filter(F.col("dg") == "X").count() == 0


def test_crash_between_compaction_merge_and_commit_fresh_keys(
        spark, tmp_path):
    """ADVICE r11 (high): crash AFTER a compaction's tx.merge but
    BEFORE the StateStore epoch commit. The base at HEAD is one version
    ahead — it already CONTAINS the compacted pending epochs' rows —
    while the committed meta restores those epochs' fresh-keys flags.
    A fresh union (no anti-join) on read_live/read_live_pruned would
    then duplicate every row of those epochs: duplicate dedup/fuzzy
    pairs, doubled BM25 tf/df. read_committed must drop the restored
    fresh flags whenever tx.version > meta['v'] so the anti-join
    re-application stays idempotent over the ahead base."""
    path = str(tmp_path / "crashfk")

    def mk():
        return _mk_state(spark, path, compact_every=2)

    st = mk()
    metas = {}
    for e in (1, 2):  # two pure-insert fresh-keys epochs fill the window
        delta = spark.createDataFrame(
            [(f"dg{e}_{i}", f"key{i}", e * 10 + i) for i in range(6)],
            ["dg", "k", "v"]).withColumn("__del", F.lit(False))
        metas[e] = st.advance(delta, epoch=e, app_id="t", fresh_keys=True)
    assert metas[2]["fresh"] == {"1": True, "2": True}
    assert st.tx.version == 0  # nothing compacted yet

    # epoch 3's advance compacts epochs 1-2 into the base (merge lands,
    # base -> v1), writes the e3 delta... and the caller dies before
    # publishing meta3. The durably committed meta is still metas[2].
    delta3 = spark.createDataFrame(
        [("dg3_0", "key0", 999)], ["dg", "k", "v"]).withColumn(
        "__del", F.lit(False))
    st.advance(delta3, epoch=3, app_id="t", fresh_keys=True)
    assert st.tx.version == 1  # the ahead base: compaction merged
    del st

    resumed = mk()
    committed = resumed.read_committed(metas[2])
    want = sorted((f"key{i}", e * 10 + i)
                  for e in (1, 2) for i in range(6))
    # the committed view rewinds the base and is exact
    assert _rows(committed) == want
    # the live views over the AHEAD base must not duplicate: with the
    # old fresh-union behavior both reads returned each row twice
    assert _rows(resumed.read_live()) == want
    bids = resumed.bucket_ids_for_values([["key0"], ["key3"]])
    pruned = _rows(resumed.read_live_pruned(bids))
    assert pruned == sorted(t for t in want if t[0] in ("key0", "key3"))

    # and the replayed epoch 3 re-advances cleanly on top
    resumed.advance(spark.createDataFrame(
        [("dg3_0", "key0", 999)], ["dg", "k", "v"]).withColumn(
        "__del", F.lit(False)), epoch=3, app_id="t", fresh_keys=True)
    assert ("key0", 999) in _rows(resumed.read_live())
