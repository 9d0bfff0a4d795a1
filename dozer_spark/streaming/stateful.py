"""Retraction-capable incremental GROUP BY over changelogs.

Mirrors the reference's Projection+Aggregation processor
(dozer-sql/src/aggregation/processor.rs:48-586):
- per-group aggregate state updated by Insert/Delete/Update
  (agg_delete :183, agg_insert :263, agg_update :414)
- emits the correct downstream changelog: Insert when a group appears,
  Update when its aggregate changes, Delete when its count drops to 0
  (processor.rs:286-338)
- HAVING transitions re-evaluated on old+new aggregate rows
  (processor.rs:339-386): enters-filter -> Insert, leaves-filter ->
  Delete, stays -> Update
- a group-key change inside an Update becomes Delete(old group) +
  Insert(new group) (processor.rs:538-546)

Spark-first design — "dirty-group recompute" instead of per-record
state mutation: each micro-batch
  1. updates the materialized input snapshot (MERGE by PK),
  2. collects the DISTINCT group keys touched by the batch (old + new
     images both — that's how key changes retract correctly),
  3. recomputes aggregates ONLY for those dirty groups from the snapshot,
  4. diffs against the previous aggregate state for those groups,
     emitting I/U/D.
This scales: work per batch is O(batch + dirty_groups), recompute is a
partition-pruned scan, and every aggregate (incl. MIN/MAX, which need a
value multiset for true retraction — aggregator.rs:64-239) is correct
without bespoke state structures. All state lives in DataFrames
(parquet/memory), so executors do the heavy lifting, not the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dozer_spark.operators.hints import cache_materialized, maybe_broadcast

from dozer_spark.streaming.changelog import (
    apply_changelog,
    changelog_upserts,
    keys_join,
    row_digest,
)


@dataclass
class RetractingAggregation:
    """Incremental GROUP BY with retraction changelog output.

    group_by: group key columns; aggs: aggregate Columns (aliased);
    having: optional Column over the aggregate row.
    """

    spark: SparkSession
    pk: list[str]
    group_by: list[str]
    aggs: list[Column]
    having: Column | None = None
    # durable state: set to resume across restarts; None keeps the fast
    # localCheckpoint path for ephemeral pipelines. Both the INPUT
    # SNAPSHOT (PK-keyed) and the aggregate table (group-digest-keyed)
    # are delta-log DiffStateTables: O(batch)/O(changed) epoch IO with
    # periodic compaction into a bucketed base — at scale the snapshot
    # is the corpus and anything per-epoch that scales with state size
    # (full rewrites, every-bucket merges) is the difference between
    # O(batch) and O(corpus) durable IO.
    state_dir: str | None = None
    snapshot_buckets: int = 16

    _snapshot: DataFrame | None = field(default=None, init=False)
    _state: DataFrame | None = field(default=None, init=False)  # aggregate rows
    _store: object = field(default=None, init=False)
    _snaptx: object = field(default=None, init=False)  # DiffStateTable
    _aggtx: object = field(default=None, init=False)  # DiffStateTable
    # caches from the PREVIOUS batch, released at the START of the next:
    # the returned output changelog is lazy and its lineage includes
    # these — unpersisting them before the caller's first action would
    # force a full recompute of the dirty-group aggregation
    _prev_caches: list = field(default_factory=list, init=False)

    def __post_init__(self):
        if self.state_dir is not None:
            from dozer_spark.streaming.incstate import (
                DiffStateTable,
                diff_state_path,
            )
            from dozer_spark.streaming.state import StateStore

            self._store = StateStore(self.spark, self.state_dir)
            # BOTH durable states are delta-logs: the input snapshot is
            # keyed by the source PK, the aggregate table by the group
            # digest — each epoch appends only the batch's rows / the
            # diff's changed groups (O(batch) write IO; the previous
            # bucketed MERGE per epoch rewrote EVERY bucket a uniform
            # batch touched — at n_buckets=16 that was the whole state)
            self._snaptx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "snapshot"),
                key_cols=self.pk, n_buckets=self.snapshot_buckets,
            )
            self._aggtx = DiffStateTable(
                self.spark, diff_state_path(self.state_dir, "agg"),
                key_cols=["__gk"], n_buckets=self.snapshot_buckets,
                internal_key=True,
            )
            if self._store.epoch > 0:  # resume from the last committed epoch
                # AS OF the committed epoch (orphaned deltas ignored,
                # orphaned compactions rewound): an ahead snapshot would
                # poison the dirty-key probe — a PK whose group key
                # changed in the crashed batch probes to its NEW group
                # only and the old group's retraction is lost
                self._snapshot = self._snaptx.read_committed(
                    self._store.load_meta("snap_txv")
                )
                # the aggregate diff must also see the COMMITTED state so
                # the replayed batch re-diffs and re-emits
                self._state = self._aggtx.read_committed(
                    self._store.load_meta("agg_txv")
                )

    # -- helpers ------------------------------------------------------------

    def _ckpt(self, name: str, df: DataFrame) -> DataFrame:
        """Break lineage for one EPHEMERAL state advance (durable state
        goes through DiffStateTable; this path only runs store-less)."""
        return df.localCheckpoint(eager=True)

    def _agg_for(self, snapshot: DataFrame, keys: DataFrame | None) -> DataFrame:
        # null-safe: a NULL group key forms one ordinary group (SQL GROUP
        # BY semantics, aggregation/processor.rs treats it as any other key)
        src = snapshot if keys is None else keys_join(snapshot, keys, "semi")
        out = src.groupBy(*self.group_by).agg(*self.aggs)
        if self.having is not None:
            out = out.filter(self.having)
        return out

    # -- per-batch processing ------------------------------------------------

    def process_batch(self, changelog: DataFrame) -> DataFrame:
        """Consume one changelog micro-batch; return the output changelog of
        the aggregation (rows = aggregate records with __op I/U/D)."""
        for df in self._prev_caches:
            df.unpersist()
        self._prev_caches = []
        changelog = changelog.cache()
        if self._snapshot is not None:
            # materialize the cache NOW: the snapshot-probe join built
            # below gates its broadcast hint at plan-build time, and only
            # a materialized InMemoryRelation reports the batch's REAL
            # bytes (a lazy cache inherits the child's estimate —
            # Long.MaxValue for checkpoint-backed changelogs, which would
            # refuse the hint for every ordinary batch). First batch has
            # no probe join, so the count is skipped there.
            changelog.count()

        # 1. dirty group keys = keys of new images + keys of old images
        new_keys = changelog.select(*self.group_by)
        if self._snapshot is not None:
            # gated broadcast of the batch's PK set: an ordinary batch
            # probes the snapshot without shuffling it; a corpus-sized
            # backfill batch fails the gate and AQE plans the join
            old_keys = self._snapshot.join(
                maybe_broadcast(changelog.select(*self.pk).distinct()), self.pk
            ).select(*self.group_by)
            dirty = new_keys.unionByName(old_keys).distinct()
        else:
            dirty = new_keys.distinct()
        # materialized cache (not just .cache()): the dirty-key semi/anti
        # joins below gate their broadcast hint on this frame's stats, and
        # only a materialized InMemoryRelation reports REAL bytes — a lazy
        # cache inherits the snapshot-join child's unknown estimate
        dirty = cache_materialized(dirty)

        # 2. update the input snapshot (replay semantics of record_store.rs)
        if self._store is not None:
            # durable path: append the batch's final per-PK images as one
            # epoch delta (O(batch) write IO; compaction into the
            # bucketed base is amortized) — an orphaned delta is
            # overwritten on crash replay
            upsert = changelog_upserts(changelog, self.pk)
            snap_meta = self._snaptx.advance(
                upsert, epoch=self._store.epoch + 1, app_id="ragg"
            )
            self._store.stage_meta("snap_txv", snap_meta)
            merged = self._snaptx.read_live()  # file-backed: flat lineage
        else:
            batch_snapshot = apply_changelog(changelog, self.pk)
            if self._snapshot is None:
                merged = batch_snapshot
            else:
                touched = changelog.select(*self.pk).distinct()
                kept = self._snapshot.join(
                    maybe_broadcast(touched), self.pk, "left_anti")
                merged = kept.unionByName(batch_snapshot)
            # materialize to break lineage growth across batches
            merged = self._ckpt("snapshot", merged)
        self._snapshot = merged

        # 3. recompute aggregates for dirty groups only. Lazy cache, not
        # an eager checkpoint: the store-less path consumes the frame in
        # the diff AND its state advance — the cache deduplicates the
        # recompute, and that advance's own _ckpt breaks lineage for the
        # next batch, so an extra materialization job here buys nothing
        new_agg = self._agg_for(merged, dirty).cache()

        # 4. diff vs previous state for those groups -> I/U/D changelog
        agg_cols = [c for c in new_agg.columns if c not in self.group_by]
        if self._state is None:
            old_agg = new_agg.limit(0)
        else:
            old_agg = keys_join(self._state, dirty, "semi")

        # diff on a null-distinguishing digest of the group key so a
        # NULL-keyed group pairs old-vs-new instead of splitting D+I
        n = new_agg.select(
            row_digest(self.group_by).alias("__gk"),
            F.struct(*[F.col(c) for c in self.group_by]).alias("__nkeys"),
            F.struct(*[F.col(c) for c in agg_cols]).alias("__new"),
        )
        o = old_agg.select(
            row_digest(self.group_by).alias("__gk"),
            F.struct(*[F.col(c) for c in self.group_by]).alias("__okeys"),
            F.struct(*[F.col(c) for c in agg_cols]).alias("__old"),
        )
        joined = n.join(o, "__gk", "full_outer")
        op = (
            F.when(F.col("__old").isNull() & F.col("__new").isNotNull(), F.lit("I"))
            .when(F.col("__new").isNull() & F.col("__old").isNotNull(), F.lit("D"))
            .when(F.col("__new") != F.col("__old"), F.lit("U"))
            .otherwise(F.lit(None))
        )
        image = F.when(F.col("__op") == "D", F.col("__old")).otherwise(F.col("__new"))
        keys_img = F.when(F.col("__op") == "D", F.col("__okeys")).otherwise(F.col("__nkeys"))
        diffed = (
            joined.withColumn("__op", op)
            .filter(F.col("__op").isNotNull())
            .withColumn("__img", image)
            .withColumn("__kimg", keys_img)
        )
        # ONE execution of the diff feeds both the output changelog and
        # the durable state advance. Even a lazy localCheckpoint runs
        # every shuffle stage of an AQE plan when it is created (AQE
        # executes the plan up to its result stage); the first consumer
        # then computes and pins the result stage and later consumers
        # read the pinned blocks. Deriving the agg delta from `diffed`
        # instead would plan and run the whole diff a second time.
        diff = diffed.select(
            "__op", "__gk",
            *[F.col(f"__kimg.{c}").alias(c) for c in self.group_by],
            *[F.col(f"__img.{c}").alias(c) for c in agg_cols],
        ).localCheckpoint(eager=False)
        out = diff.drop("__gk")

        # 5. advance aggregate state
        if self._store is not None:
            # durable: merge ONLY the changed groups (the diff rows) into
            # the digest-keyed DiffStateTable — O(dirty) write IO per
            # epoch instead of a full aggregate-table rewrite. D rows
            # delete their digest; I/U upsert the new image.
            changed = diff.select(
                "__gk", *self.group_by, *agg_cols,
                (F.col("__op") == "D").alias("__del"),
            )
            meta = self._aggtx.advance(changed, epoch=self._store.epoch + 1,
                                       app_id="ragg_agg")
            self._state = self._aggtx.read_live()
            # bind the log position to the epoch: the crash-rewind anchor
            self._store.stage_meta("agg_txv", meta)
            self._store.commit()  # epoch commit: both states become visible
        elif self._state is None:
            self._state = self._ckpt("aggstate", new_agg)
        else:
            kept = keys_join(self._state, dirty, "anti")
            self._state = self._ckpt("aggstate", kept.unionByName(new_agg))
        # released at the start of the NEXT batch (see _prev_caches)
        self._prev_caches = [changelog, dirty, new_agg]
        return out

    def current(self) -> DataFrame:
        """Current materialized aggregate table."""
        if self._state is None:
            raise ValueError("no batches processed yet")
        return self._state
