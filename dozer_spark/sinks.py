"""Sinks — Spark-native equivalents of the reference's sink surface.

Reference: SinkConfig {Dummy, Aerospike, Clickhouse, Oracle}
(dozer-types/src/models/sink.rs:107-112); the Sink trait batches rows,
commits on epoch, and persists source resume state
(dozer-core/src/node.rs:111-147).

Mapping:
- Dummy           -> noop format (used by bench.py to force execution)
- ClickHouse      -> NATIVE HTTP sink (sinks_clickhouse.py: executor-side
                     JSONEachRow inserts, dedup-token epochs) or this
                     JDBC writer config when a driver jar is present
- any upsert sink -> storage/txtable.py foreach_batch_merge (MERGE by PK)
- epoch commit    -> micro-batch + checkpointLocation (built-in)
- batch files     -> parquet/csv/json writers with partitioning control

At scale the file sinks matter most: partitionBy for downstream partition
pruning and a sane file count (repartition before write — a 1000-executor
job writing 100k tiny files is the classic failure)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

BATCH_FORMATS = {"parquet", "csv", "json", "noop"}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_files: int | None = None,
    **options,
) -> None:
    """Batch sink. target_files repartitions before write to control file
    count (small-files problem); partition_by enables downstream pruning."""
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r} (one of {sorted(BATCH_FORMATS)})")
    if target_files is not None:
        df = df.repartition(target_files)
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "noop":
        writer.save()
    else:
        writer.save(path)


@dataclass
class ClickHouseSink:
    """ClickHouse via JDBC (reference impl: dozer-sink-clickhouse/src/sink.rs).

    Config-only in this container (no ClickHouse server / JDBC driver jar);
    `options()` is the part unit tests can check. The reference creates the
    target table from the pipeline schema and inserts per epoch — here the
    per-epoch insert is foreachBatch(lambda b, _: b.write...jdbc...).
    """

    url: str  # jdbc:clickhouse://host:8123/db
    table: str
    user: str = "default"
    password: str = ""
    batch_size: int = 100_000

    def options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "dbtable": self.table,
            "user": self.user,
            "password": self.password,
            "batchsize": str(self.batch_size),
            "isolationLevel": "NONE",  # CH has no transactions; avoid driver errors
        }

    def write(self, df: DataFrame, mode: str = "append") -> None:
        df.write.format("jdbc").options(**self.options()).mode(mode).save()

    def foreach_batch(self):
        """For writeStream.foreachBatch — the epoch-commit sink shape."""

        def fn(batch: DataFrame, batch_id: int) -> None:
            self.write(batch)

        return fn
