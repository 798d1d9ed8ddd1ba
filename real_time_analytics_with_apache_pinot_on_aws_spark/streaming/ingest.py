"""Realtime ingestion pipeline (SURVEY §2.A A1-A7, §2.B B57-B61).

Maps the reference's Pinot realtime-table lifecycle onto Structured Streaming:

| Reference (citation)                                   | Here |
|--------------------------------------------------------|------|
| Kinesis stream, 2 shards (stack ts:730-734)            | ``RawRecordSource``: kafka/file/rate readStream; one input partition per shard natively |
| LATEST shard iterator (kinesisTableConfigFile.json:18) | ``startingOffsets="latest"`` (file source: only new files) |
| KafkaJSONMessageDecoder (json:21)                      | ``schema.decoded_frame`` — from_json + casts, codegen'd |
| consuming segment, immediately queryable (README:19)   | short-trigger micro-batch; freshness = trigger + commit |
| flush 2 min / 150 MB (json:23-25)                      | ``trigger(processingTime=...)`` cadence |
| S3 deep store (README:20)                              | the table directory itself |
| 7-day retention (json:5-9)                             | ``run_retention`` partition drop on the derived date col |
| no watermark on raw table (B59)                        | append mode, no ``withWatermark`` — disorder retained |

The stored layout (``ingest_date=<day>`` partitions, derived columns, the
read/expire protocol) is shared with the OFFLINE side and lives in
``segments.py``; this module owns the stream: decode, micro-batch commit
and the consuming lifecycle.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import segments
from ..functions import sqlfns
from ..operators.dedup import cache_scope, lifecycle_cache
from ..schema import TableSchema, decoded_frame
from .rollup import rollup_batch


@dataclass
class RawRecordSource:
    """Where raw JSON records come from.

    kind='files': every line of every new file under ``path`` is one record
    (the test/bench analog of a Kinesis shard put).  kind='kafka': value bytes
    from a topic.  kind='rate': synthetic load generator.
    """

    kind: str = "files"
    path: str | None = None
    options: dict[str, str] | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        opts = dict(self.options or {})
        if self.kind == "files":
            return (
                spark.readStream.format("text")
                .options(**opts)
                .load(self.path)
                .withColumnRenamed("value", "value")
            )
        if self.kind == "kafka":
            return (
                spark.readStream.format("kafka")
                .options(**opts)
                .option("startingOffsets", opts.get("startingOffsets", "latest"))
                .load()
                .select(F.col("value").cast("string").alias("value"))
            )
        if self.kind == "kinesis":
            # Kinesis connector jar is not bundled here; options are prepared
            # by sources.kinesis_source and validated, IO needs the jar.
            return (
                spark.readStream.format("aws-kinesis")
                .options(**opts)
                .load()
                .select(F.col("data").cast("string").alias("value"))
            )
        if self.kind == "rate":
            return (
                spark.readStream.format("rate")
                .options(**opts)
                .load()
                .select(F.to_json(F.struct("timestamp", "value")).alias("value"))
            )
        raise ValueError(f"unknown source kind {self.kind!r}")


class IngestPipeline:
    """One realtime table: stream -> decode -> partitioned parquet append."""

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema,
        table_path: str,
        checkpoint_path: str,
        source: RawRecordSource,
        retention_days: int | None = 7,
        rollup_spec=None,
        rollup_path: str | None = None,
        extra_rollups: tuple = (),
        transform_configs: tuple = (),
        filter_function: str | None = None,
        unnest_fields: tuple = (),
        sorted_column: str | None = None,
        bloom_filter_columns: tuple = (),
        timestamp_index: tuple = (),
        clp_columns: tuple = (),
        null_handling_enabled: bool = True,
    ) -> None:
        self.spark = spark
        self.schema = schema
        self.table_path = table_path
        self.checkpoint_path = checkpoint_path
        self.source = source
        self.retention_days = retention_days
        # Star-tree analog (streaming/rollup.py): when set, each micro-batch
        # also appends its partial-aggregate cells to ``rollup_path``.
        # ``extra_rollups`` carries further (spec, path) pairs — Pinot allows
        # several star-trees per table; each maintains its own cell log.
        self.rollup_spec = rollup_spec
        self.rollup_path = rollup_path
        self._rollups: list = (
            [(rollup_spec, rollup_path)]
            if rollup_spec is not None and rollup_path is not None
            else []
        ) + [(sp, pa) for sp, pa in extra_rollups]
        # Pinot ingestionConfig analog (engine.TableConfig): column transforms
        # + row-drop predicate, applied between decode and commit.
        self.transform_configs = tuple(transform_configs)
        self.filter_function = filter_function
        # Pinot complexTypeConfig.fieldsToUnnest analog: explode multi-value
        # collections into one row per element before transforms run.
        self.unnest_fields = tuple(unnest_fields)
        # Storage-index analogs applied at seal time (engine.TableConfig):
        # sortedColumn -> tight parquet zone maps; bloomFilterColumns ->
        # parquet bloom filters for point-lookup row-group skipping.
        self.sorted_column = sorted_column
        self.bloom_filter_columns = tuple(bloom_filter_columns)
        # Pinot TIMESTAMP index ((column, (GRAN, ...)), ...) and CLP log
        # columns **[P1.2]**: the derived columns segments.derive stores
        # (``<col>__<gran>`` truncations whose parquet min/max stats prune
        # range filters; the CLPLogRecordExtractor triples)
        self.timestamp_index = tuple(timestamp_index)
        self.clp_columns = tuple(clp_columns)
        # Pinot nullHandlingEnabled=false **[P1.2]**: undeclared-default
        # fields fill with the silent type-default matrix at decode
        # (schema.pinot_type_default) instead of keeping SQL nulls
        self.null_handling_enabled = bool(null_handling_enabled)
        self._query: StreamingQuery | None = None

    # -- decode ----------------------------------------------------------

    def decoded(self) -> DataFrame:
        """Raw value column -> typed rows (``<time>__ts`` typed event time)
        in their stored form (:func:`segments.derive`: ``ingest_date``, day
        granularity per kinesisTable.json:30, and the derived columns)."""
        out = decoded_frame(
            self.source.load(self.spark),
            self.schema,
            null_handling_enabled=self.null_handling_enabled,
        )
        for field in self.unnest_fields:
            # complexTypeConfig **[P1.2]**: one row per element; empty/null
            # collections keep their row with a NULL element (explode_outer,
            # matching Pinot's flattening of absent nested collections)
            out = out.withColumn(field, F.explode_outer(F.col(field)))
        for col_name, fn in self.transform_configs:
            sqlfns.register_calls(self.spark, fn)
            out = out.withColumn(col_name, F.expr(fn))
        if self.filter_function:
            sqlfns.register_calls(self.spark, self.filter_function)
            # Pinot filterConfig semantics: matching rows are DROPPED
            out = out.filter(~F.expr(self.filter_function))
        tc = self.schema.time_column()
        return segments.derive(
            out,
            tc.name if tc is not None else None,
            self.timestamp_index,
            self.clp_columns,
        )

    # -- lifecycle -------------------------------------------------------

    def start(self, trigger: str | None = "5 seconds", available_now: bool = False) -> StreamingQuery:
        """Begin consumption (the AddTable 'starts consuming' moment, A8).

        ``trigger`` ≈ segment-flush cadence: the reference seals at 2 minutes
        (kinesisTableConfigFile.json:24); tests use ``available_now`` to drain
        synchronously.  Day-partitioned parquet append == sealed segments in
        deep storage; exactly-once via checkpoint (strictly better than the
        reference's at-least-once, SURVEY B61).
        """
        table_path = self.table_path
        rollups = list(self._rollups)
        sorted_column = self.sorted_column
        bloom_filter_columns = self.bloom_filter_columns

        def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # foreachBatch + plain batch append (not the file-stream sink):
            # no _spark_metadata log, so retention can drop partition dirs
            # directly and any engine can read the table.  Source offsets are
            # checkpointed, so batches are not re-offered across restarts;
            # semantics match the reference's at-least-once segment commit
            # (kinesisTableConfigFile.json:19,22) with dupes only possible on
            # mid-batch crash.
            #
            # One write task per day, not one per input file: rebalancing on
            # the day column lets AQE merge the source's small partitions
            # into one writer (one sealed file) per day, and still split a
            # large batch at the advisory partition size.  A fixed
            # coalesce(1) would funnel a 150 MB flush into one task.
            days = ["ingest_date"] if "ingest_date" in batch_df.columns else []
            batch_df = batch_df.hint("rebalance", *days)
            # (__ingest_epoch, __ingest_seq) is a stable arrival-order
            # tiebreaker: epoch orders batches, the monotonic id is unique
            # within a batch.  Upsert resolution (engine.register_view) uses
            # it so two versions of a primary key sharing a timestamp resolve
            # deterministically — later-arrived wins, Pinot's upsert rule.
            batch_df = batch_df.withColumn(
                "__ingest_epoch", F.lit(int(epoch_id)).cast("long")
            ).withColumn("__ingest_seq", F.monotonically_increasing_id())
            if sorted_column is not None and sorted_column in batch_df.columns:
                # Pinot sortedColumn analog: order rows inside each sealed
                # file so parquet row-group min/max stats are tight and
                # disjoint — range predicates then skip row groups (the
                # sorted/range-index behavior).  sortWithinPartitions: no
                # extra shuffle, the sort rides the write tasks.
                batch_df = batch_df.sortWithinPartitions(*days, sorted_column)
            with cache_scope():
                if rollups:
                    # star-tree tables read the batch twice (raw write, then
                    # cells); foreachBatch hands over an uncached frame, so
                    # cache it and the source is read and decoded once
                    batch_df = lifecycle_cache(batch_df, "streaming.ingest.batch")
                # no _SUCCESS marker: nothing reads it (table() decides
                # emptiness from day partitions and parquet files)
                writer = batch_df.write.mode("append").option(
                    "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
                )
                if days:
                    writer = writer.partitionBy(*days)
                for col_name in bloom_filter_columns:
                    # Pinot bloomFilterColumns analog: parquet split-block
                    # bloom per column chunk; point lookups skip whole row
                    # groups.  parquet-mr omits the bloom when a chunk stays
                    # fully dictionary-encoded (the dictionary page already
                    # filters row groups exactly) — same storage-index effect.
                    writer = writer.option(
                        f"parquet.bloom.filter.enabled#{col_name}", "true"
                    )
                writer.parquet(table_path)
                for spec_i, path_i in rollups:
                    # segment-local pre-aggregation, star-tree style
                    cells = rollup_batch(batch_df, spec_i).write.mode("append")
                    if "ingest_date" in spec_i.dims:
                        # day-partition the cell log so retention expires
                        # rollup cells together with the raw partitions
                        # (Pinot star-trees are per-segment, so they expire
                        # with the segment; a rollup WITHOUT the day
                        # dimension cannot expire per day — see
                        # run_retention)
                        cells = cells.partitionBy("ingest_date")
                    cells.parquet(path_i)

        writer = (
            self.decoded()
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger:
            writer = writer.trigger(processingTime=trigger)
        self._query = writer.start()
        return self._query

    def process_available(self) -> None:
        """Drain everything currently in the source.

        An ``availableNow`` query terminates after draining (segment-seal
        analog), so this restarts one if needed — the checkpoint makes
        repeated drains exactly-once.  A continuous (processingTime) query
        just waits for in-flight data.
        """
        q = self._query
        if q is not None and q.isActive:
            q.processAllAvailable()
            if q.isActive:
                # continuous (processingTime) query: stays active and has now
                # drained everything, including files newer than any snapshot
                return
        if q is not None:
            # an availableNow query processes only the file snapshot taken at
            # start — data arriving later is NOT in it.  Let it finish, then
            # fall through to a fresh drain so post-snapshot files are read
            # (the checkpoint makes the double drain exactly-once).
            q.awaitTermination()
        self._query = None
        self.start(available_now=True)
        self._query.awaitTermination()
        self._query = None

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    # -- serving ---------------------------------------------------------

    def table(self, with_virtual: bool = False) -> DataFrame:
        """The queryable table (consuming-segment analog: rows appear after
        each micro-batch commit), read by :func:`segments.read`: footers
        merged so schema evolution surfaces new columns table-wide, and an
        EMPTY frame of the decode schema before the first commit.
        ``with_virtual`` appends Pinot's ``$docId/$segmentName/$hostName``
        virtual columns **[P1.2]**.
        """
        return segments.read(
            self.spark,
            self.table_path,
            lambda: self.decoded().schema,
            with_virtual=with_virtual,
        )

    def rollup_table(self, index: int = 0) -> DataFrame:
        """The pre-aggregated cell log (star-tree analog); merge with
        streaming.rollup.serve.  ``index`` selects among multiple configured
        star-trees (Pinot allows several per table)."""
        if not self._rollups:
            raise ValueError("pipeline has no rollup configured")
        return self.spark.read.parquet(self._rollups[index][1])

    # -- retention (A7) --------------------------------------------------

    def run_retention(self, now=None) -> list[str]:
        """Drop the day partitions older than ``retention_days`` before the
        newest day (kinesisTableConfigFile.json:8-9), star-tree cells with
        their day: :func:`segments.expire` over :meth:`day_roots`, a
        directory removal per day with no rewrite.  Returns dropped days.
        """
        if self.retention_days is None:
            return []
        if now is None:
            row = self.table().agg(F.max("ingest_date").alias("m")).collect()[0]
            now = row["m"]
        if now is None:
            return []
        return segments.expire(
            self.spark,
            self.day_roots().values(),
            now - timedelta(days=self.retention_days),
        )

    def day_roots(self) -> dict[str, str]:
        """label -> root of every day-partitioned root this side writes:
        the table (label ``""``), then each star-tree cell log whose dims
        hold the day (``rollup``, ``rollup<i>``), which expires, moves and
        compacts with its day.  A rollup whose dims omit the day
        aggregates across days and cannot be expired per day —
        Engine.query_agg refuses to route to one under retention."""
        roots = {"": self.table_path}
        for i, (spec_i, path_i) in enumerate(self._rollups):
            if "ingest_date" in spec_i.dims:
                roots["rollup" if i == 0 else f"rollup{i}"] = path_i
        return roots
