"""DiffStateTable reads as ONE reduction over the delta log.

read_live, read_live_pruned and read_committed reconstruct base ⊕
pending deltas with one epoch-stamped anti-join instead of an
anti-join + union per pending delta. These tests pin all three reads
to a test-local copy of the per-delta chain with a two-way exceptAll
(multiset equality) over: an empty base and a base after a compaction,
tombstones, a tombstone and an insert for one key in one epoch,
duplicate images in one delta, fresh deltas interleaved with non-fresh
ones, a probe-key-bucketed table with a bucket-moving re-send, and the
crash-ahead base where read_committed drops the fresh flags.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dozer_spark.streaming.incstate import DiffStateTable, rewind_to_version
from dozer_spark.streaming.state import StateStore

SCHEMA = "dg string, k string, v long, __del boolean"


def _chain(st: DiffStateTable, base, epochs, keep=None):
    """The per-delta replay the single reduction replaced: in pending
    order, each delta's keys anti-join everything older, then its
    upserts union in; fresh-keys deltas union with no join."""
    for e in epochs:
        d = st.spark.read.schema(st._delta_schema()).parquet(
            st._delta_dir(e))
        if keep is not None:
            d = d.filter(keep)
        upserts = d.filter(~F.col("__del")).drop("__del")
        if base is None:
            base = upserts
        elif st._fresh.get(e, False):
            base = base.unionByName(upserts)
        else:
            base = base.join(
                d.select(*st.key_cols), st.key_cols, "left_anti"
            ).unionByName(upserts)
    return st._strip(base)


def _chain_live(st):
    return _chain(st, st.tx.read() if st.tx.version > 0 else None,
                  st._pending)


def _chain_pruned(st, bids):
    base = st.tx.read_buckets(bids) if st.tx.version > 0 else None
    keep = st.tx._bucket_col().isin(*bids) if bids else F.lit(False)
    return _chain(st, base, st._pending, keep)


def _chain_committed(st, meta):
    base = (rewind_to_version(st.tx, st.tx.read(), meta["v"], st.key_cols)
            if st.tx.version > 0 else None)
    return _chain(st, base, st._pending)


def _same(got, want):
    """Two-way exceptAll: equal as multisets (duplicates count)."""
    assert got.exceptAll(want).unionByName(want.exceptAll(got)).isEmpty()


def _adv(spark, st, e, rows, fresh=False):
    return st.advance(spark.createDataFrame(rows, SCHEMA), epoch=e,
                      app_id="t", fresh_keys=fresh)


def _check_reads(st, bid_sets):
    _same(st.read_live(), _chain_live(st))
    for bids in bid_sets:
        _same(st.read_live_pruned(bids), _chain_pruned(st, bids))


def test_reduction_matches_chain_key_bucketed(spark, tmp_path):
    path = str(tmp_path / "kb")
    st = DiffStateTable(spark, path, key_cols=["dg"], n_buckets=4,
                        compact_every=4)
    bid_sets = [[0, 2], [1], []]
    # e1: backfill with duplicate images of `a` in one delta
    _adv(spark, st, 1, [("a", "a", 1, False), ("a", "a", 2, False),
                        ("b", "b", 1, False), ("c", "c", 1, False),
                        ("d", "d", 1, False), ("e", "e", 1, False)])
    _check_reads(st, bid_sets)  # a lone delta: no reduction at all
    # e2: fresh keys, interleaved before a non-fresh delta
    _adv(spark, st, 2, [("g", "g", 1, False), ("h", "h", 1, False)],
         fresh=True)
    # e3: update, tombstone, tombstone + insert of one key in one epoch,
    # duplicate images
    _adv(spark, st, 3, [("b", "b", 9, False), ("c", "c", 1, True),
                        ("d", "d", 1, True), ("d", "d", 7, False),
                        ("e", "e", 5, False), ("e", "e", 6, False)])
    assert st.tx.version == 0  # empty base, three pending deltas
    live = {(r.dg, r.v) for r in st.read_live().collect()}
    assert ("d", 7) in live and ("c", 1) not in live
    _check_reads(st, bid_sets)

    # e4 tombstones a backfilled key and updates a fresh one; e5's
    # advance compacts e1-e4 into the base
    _adv(spark, st, 4, [("a", "a", 2, True), ("g", "g", 3, False)])
    _adv(spark, st, 5, [("i", "i", 1, False), ("j", "j", 1, False)],
         fresh=True)
    assert st.tx.version == 1 and st._pending == [5]
    # e6 tombstones a key of the pending fresh delta and re-images a
    # base key twice; e7 is a fresh tail after the last non-fresh delta
    _adv(spark, st, 6, [("i", "i", 1, True), ("h", "h", 4, False),
                        ("b", "b", 1, True), ("b", "b", 10, False),
                        ("b", "b", 11, False)])
    meta = _adv(spark, st, 7, [("k", "k", 1, False)], fresh=True)
    _check_reads(st, bid_sets)

    resumed = DiffStateTable(spark, path, key_cols=["dg"], n_buckets=4,
                             compact_every=4)
    committed = resumed.read_committed(meta)
    _same(committed, _chain_committed(resumed, meta))
    _same(committed, st.read_live())


def test_reduction_matches_chain_probe_bucketed_move(spark, tmp_path):
    """bucket_cols != key_cols: a re-send moves key X to another bucket
    as tombstone(old bucket) + insert(new bucket) in one delta."""
    st = DiffStateTable(spark, str(tmp_path / "pb"), key_cols=["dg"],
                        internal_key=True, bucket_cols=["k"], n_buckets=8,
                        compact_every=3)
    old_b = st.tx._bucket_of(["oldkey"])
    new_b = st.tx._bucket_of(["newkey"])
    bid_sets = [[old_b], [new_b], sorted({old_b, new_b}), list(range(8))]
    _adv(spark, st, 1, [("X", "oldkey", 1, False), ("Y", "other", 2, False),
                        ("Z", "zk", 3, False)], fresh=True)
    _adv(spark, st, 2, [("X", "oldkey", 1, True), ("X", "newkey", 4, False)])
    _adv(spark, st, 3, [("W", "wk", 5, False)], fresh=True)
    _check_reads(st, bid_sets)
    # e4's advance compacts e1-e3; e4 moves X back and deletes Y
    _adv(spark, st, 4, [("X", "newkey", 4, True), ("X", "oldkey", 6, False),
                        ("Y", "other", 2, True)])
    _adv(spark, st, 5, [("V", "oldkey", 7, False)], fresh=True)
    assert st.tx.version == 1
    _check_reads(st, bid_sets)
    got = sorted(map(tuple, st.read_live_pruned([old_b]).collect()))
    assert ("newkey", 4) not in got and ("oldkey", 6) in got


def test_reduction_matches_chain_crash_ahead_base(spark, tmp_path):
    """A compaction merged the base one version past the committed meta
    before the epoch commit; read_committed drops the restored fresh
    flags, so every read must equal the chain over the ahead base."""
    path = str(tmp_path / "crash")

    def mk():
        return DiffStateTable(spark, path, key_cols=["dg"],
                              internal_key=True, bucket_cols=["k"],
                              n_buckets=8, compact_every=2)

    st = mk()
    metas = {}
    for e in (1, 2):
        metas[e] = _adv(spark, st, e, [(f"dg{e}_{i}", f"key{i}", e * 10 + i,
                                        False) for i in range(6)], fresh=True)
    _adv(spark, st, 3, [("dg3_0", "key0", 999, False)], fresh=True)
    assert st.tx.version == 1  # the ahead base
    del st

    store = StateStore(spark, str(tmp_path / "store"))
    store.stage_meta("m", metas[2])
    store.commit()
    resumed = mk()
    meta = store.load_meta("m")
    committed = resumed.read_committed(meta)
    assert resumed._fresh == {1: False, 2: False}
    _same(committed, _chain_committed(resumed, meta))
    assert committed.count() == 12
    bids = resumed.bucket_ids_for_values([["key0"], ["key3"]])
    _check_reads(resumed, [bids])
