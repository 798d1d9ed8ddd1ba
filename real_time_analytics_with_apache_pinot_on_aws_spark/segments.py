"""Segment layout shared by both sides of a table.

A side (the REALTIME stream's sealed data, the OFFLINE side's uploads) is
a root of day partitions, ``<root>/ingest_date=<yyyy-mm-dd>/*.parquet``,
and so is each star-tree cell log whose dims hold ``ingest_date``: it
expires, moves and compacts with its day.  Only this module knows that
layout.  Callers: ``IngestPipeline.decoded`` and ``Engine.upload_segment``
store :func:`derive`'s columns (the empty OFFLINE schema is ``derive``
over an empty decoded frame); ``IngestPipeline.table``,
``Engine._offline_frame`` and the hybrid star-tree cells :func:`read`;
``Engine.table_detail``, ``upload_segment`` and ``realtime_to_offline``
list; ``run_retention`` on both sides, ``realtime_to_offline``,
``delete_segments`` and ``Engine.compact`` :func:`expire`, :func:`drop`
and :func:`compact` a side's roots (``Engine._day_roots``).  File
operations go through :mod:`fs` (Hadoop FileSystem: ``file:`` and
``s3a://`` alike); a delete or rename that returns false raises.
"""

from __future__ import annotations

from datetime import date
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as _fs
from .operators.clp import clp_encode

#: the day-partition column every side and day-partitioned cell log carries
PARTITION = "ingest_date"


def timestamp_index_column(column: str, granularity: str) -> str:
    """Derived-column name for a TIMESTAMP-index granularity — the analog of
    Pinot's ``$col$DAY`` (``$`` is hostile to SQL identifiers; double
    underscore matches the engine's ``__ts`` convention)."""
    return f"{column}__{granularity.lower()}"


def derive(
    df: DataFrame,
    time_column: str | None,
    timestamp_index: Iterable = (),
    clp_columns: Iterable[str] = (),
) -> DataFrame:
    """The stored form of a decoded frame: ``ingest_date`` from the typed
    time column (its ``__ts`` decode output when present), one truncated
    ``<col>__<gran>`` column per TIMESTAMP-index granularity, and each
    CLP column replaced by its three physical columns (operators/clp.py).
    Declarations naming a column the frame lacks are skipped."""
    if time_column is not None:
        ts = f"{time_column}__ts" if f"{time_column}__ts" in df.columns else time_column
        df = df.withColumn(PARTITION, F.to_date(F.col(ts)))
    for col, grans in timestamp_index:
        src = f"{col}__ts" if f"{col}__ts" in df.columns else col
        if src not in df.columns:
            continue
        for gran in grans:
            df = df.withColumn(
                timestamp_index_column(col, gran), F.date_trunc(gran, F.col(src))
            )
    for col in clp_columns:
        if col in df.columns:
            df = clp_encode(df, col)
    return df


def augment_virtual_columns(df: DataFrame) -> DataFrame:
    """Append Pinot's virtual columns to a frame read DIRECTLY from parquet.

    The mapping is exact, not simulated: a sealed parquet file IS the
    segment here, so the scan's hidden ``_metadata`` column gives
    ``$docId`` = ``row_index`` (position within the file — Pinot's
    position-within-segment) and ``$segmentName`` = the file name.  Both
    come from the vectorized reader for free (constant per file / counter
    per batch, no shuffle, and ``row_index`` predicates still push down to
    the scan).  ``$hostName`` is this process's host: the engine is the
    single "server" — on a real cluster the serving executor is dynamic
    per stage, so the stable Pinot-analog identity is the session host.
    """
    import socket

    return df.select(
        "*",
        F.col("_metadata.row_index").alias("$docId"),
        F.regexp_replace(F.col("_metadata.file_name"), r"\.parquet$", "").alias(
            "$segmentName"
        ),
        F.lit(socket.gethostname()).alias("$hostName"),
    )


def null_virtual_columns(df: DataFrame) -> DataFrame:
    """The virtual columns on a table with NO segments yet (empty typed
    frame — no file scan, so no ``_metadata``): typed NULLs, keeping the
    schema identical to the file-backed shape so hybrid unions line up."""
    import socket

    return df.select(
        "*",
        F.lit(None).cast("bigint").alias("$docId"),
        F.lit(None).cast("string").alias("$segmentName"),
        F.lit(socket.gethostname()).alias("$hostName"),
    )


def read(
    spark: SparkSession,
    root: str,
    empty: Callable[[], T.StructType] | None = None,
    with_virtual: bool = False,
) -> DataFrame | None:
    """The root's segments as one frame, or — with no day partition and no
    parquet file, as right after AddTable — an empty frame of schema
    ``empty()`` (None when ``empty`` is None).  Footers are merged: a
    column added to the schema reads NULL in older files (Pinot's
    add-column + reload **[P1.2]**).  ``with_virtual`` appends
    ``$docId/$segmentName/$hostName`` (:func:`augment_virtual_columns`).
    """
    if not _fs.glob_status(spark, f"{root}/{PARTITION}=*") and not _fs.glob_status(
        spark, f"{root}/*.parquet"
    ):
        if empty is None:
            return None
        df = spark.createDataFrame([], empty())
        return null_virtual_columns(df) if with_virtual else df
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return augment_virtual_columns(df) if with_virtual else df


def write(df: DataFrame, root: str, mode: str = "append") -> None:
    """Write ``df`` under ``root``, one directory per day when it carries
    the day column."""
    writer = df.write.mode(mode)
    if PARTITION in df.columns:
        writer = writer.partitionBy(PARTITION)
    writer.parquet(root)


def _partition_dirs(spark: SparkSession, root: str) -> list[str]:
    return [
        p["path"]
        for p in _fs.glob_status(spark, f"{root}/{PARTITION}=*")
        if p["is_dir"]
    ]


def partitions(spark: SparkSession, root: str) -> list[str]:
    """Sorted day-partition directory names (``ingest_date=<day>``)."""
    return [_fs.basename(p) for p in _partition_dirs(spark, root)]


def days(spark: SparkSession, root: str) -> list[str]:
    """Sorted day values of the root's partitions."""
    return [p.split("=", 1)[1] for p in partitions(spark, root)]


def files(spark: SparkSession, root: str) -> list[dict]:
    """Every parquet file in the root's day partitions: [{path, size}]."""
    return [
        f
        for f in _fs.glob_status(spark, f"{root}/{PARTITION}=*/*.parquet")
        if not f["is_dir"]
    ]


def _delete(spark: SparkSession, path: str, what: str) -> None:
    if not _fs.delete(spark, path, recursive=True):
        raise RuntimeError(f"{what}: delete of {path} returned false — data NOT dropped")


def drop(spark: SparkSession, roots: Iterable[str], only=None) -> None:
    """Delete the day partitions of each root — those whose day is in
    ``only``, or every one when ``only`` is None.  Partition-dir removal:
    O(partitions), no rewrite."""
    for root in roots:
        for path in _partition_dirs(spark, root):
            if only is None or _fs.basename(path).split("=", 1)[1] in only:
                _delete(spark, path, "drop")


def expire(spark: SparkSession, roots: Iterable[str], cutoff: date) -> list[str]:
    """Retention: delete every day partition older than ``cutoff`` across
    ``roots`` (a side's data and its day-partitioned cell logs, so cells
    expire with their rows).  Returns the expired days, first-seen order.
    A partition whose value is not an ISO date (the null-day partition)
    never expires."""
    dropped: list[str] = []
    for root in roots:
        for path in _partition_dirs(spark, root):
            value = _fs.basename(path).split("=", 1)[1]
            try:
                expired = date.fromisoformat(value) < cutoff
            except ValueError:
                continue
            if expired:
                _delete(spark, path, "retention")
                if value not in dropped:
                    dropped.append(value)
    return dropped


def compact(
    spark: SparkSession, root: str, max_files: int, table: str
) -> dict[str, int]:
    """Rewrite each day partition of ``root`` holding more than
    ``max_files`` parquet files down to ``max_files``; returns
    {partition name: files before} for the partitions rewritten.  The
    caller must keep writers off the root (sealed segments only)."""
    compacted: dict[str, int] = {}
    for part_dir in _partition_dirs(spark, root):
        part_name = _fs.basename(part_dir)
        originals = [
            f["path"] for f in _fs.list_files(spark, part_dir, suffix=".parquet")
        ]
        if len(originals) <= max_files:
            continue
        # read the EXACT snapshotted file list (not the directory), so a
        # file that appears after the snapshot is neither duplicated into
        # the rewrite nor unlinked
        df = spark.read.parquet(*originals)
        # '=' must not appear in the temp dir name: partition discovery
        # would read `_compact_ingest_date=...` as a partition column and
        # fail the whole table scan if a crash leaves the dir behind
        # (underscore-prefixed names without '=' are ignored as hidden)
        tmp = f"{root}/_compact_{part_name.replace('=', '_')}"
        df.coalesce(max_files).write.mode("overwrite").parquet(tmp)
        # rename the compacted files IN before unlinking the originals: a
        # failure leaves duplicates (and the temp dir), never a lost day
        for f in _fs.list_files(spark, tmp, suffix=".parquet"):
            dst = f"{part_dir}/{_fs.basename(f['path'])}"
            if not _fs.rename(spark, f["path"], dst):
                raise RuntimeError(
                    f"compact({table!r}): rename {f['path']} -> {dst} failed; "
                    f"originals untouched, compacted output kept in {tmp}"
                )
        for f in originals:
            if not _fs.delete(spark, f):
                raise RuntimeError(
                    f"compact({table!r}): delete of original {f} failed after "
                    f"the compacted files were installed — partition "
                    f"{part_name} temporarily holds duplicates; remove the "
                    f"listed original manually"
                )
        _fs.delete(spark, tmp, recursive=True)
        compacted[part_name] = len(originals)
    return compacted
