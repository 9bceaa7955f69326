"""Persisted-index table lifecycle: how a standing index is stored as
catalog tables, shared by the MinHash (``dedup``), IVF and IVFPQ
(``similarity``) and graph (``graph``) indexes.

Each index kind owns only its rows (signatures and band rows, cell
assignments, PQ codes, edges) and its table names.  This module owns
the catalog side: resetting a name for a fresh build, reading a
table's bucket spec back from the catalog, appending under that spec,
compacting, and the one-row meta table.

Every read goes through :func:`open_table`, which refreshes the table
in the calling session first.  Rows appended from another session
(``streaming.run_foreach_batch`` runs its batch function in the
stream's cloned session) are otherwise invisible to the caller's
cached file listing, and a compaction run from the caller would
rewrite that stale listing and drop them.

Compaction operating contract (:func:`compact_tables`; the per-kind
``compact_*_index`` functions point here):

* **Single writer.**  Compaction is a batch-maintenance op; run no
  other append or compaction on the same index meanwhile.
* **Non-atomic swap.**  The compacted copy is written to
  ``{table}__compact``, then the live table is renamed out to
  ``{table}__old``, the copy renamed in, and ``__old`` dropped last.
  A probe that resolves the table between the two renames gets
  ``TABLE_OR_VIEW_NOT_FOUND``: schedule compaction when no probes run,
  or have probes retry on that error.  A view in front of the table
  would close the gap but loses the bucketed scan that the
  zero-Exchange probe plans are pinned on, so none is used.
* **Crash states are always recoverable.**  Nothing is deleted before
  its replacement is live, so after a crash at any step every row is
  under the public name, ``__old`` or ``__compact``.  The next
  compaction drops leftover ``__compact``/``__old`` debris and, when a
  crash fell between the two renames, first renames ``__old`` back to
  the public name.

Probe results are bit-identical before and after compaction; only the
file layout changes.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

from .skew import write_bucketed

_AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


class BucketSpec(NamedTuple):
    """A bucketed table's layout as the catalog stores it."""

    num_buckets: int
    bucket_by: list[str]
    sort_by: list[str]


def reset_tables(spark: SparkSession, *tables: str) -> None:
    """Drop each table, then delete its warehouse directory if one is
    left.  The default in-memory catalog forgets tables across sessions
    but leaves their directories, and ``saveAsTable`` refuses to adopt
    an existing location [LOCATION_ALREADY_EXISTS].  The sweep goes
    through the Hadoop FS API, so it works on local FS, HDFS and object
    stores alike."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        path = spark._jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{t.lower()}")
        fs = path.getFileSystem(hconf)
        if fs.exists(path):
            fs.delete(path, True)


def open_table(spark: SparkSession, table: str) -> DataFrame:
    """``spark.table`` after a refresh, so the calling session sees rows
    that another session appended since it last listed the files."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


def write_rows(
    spark: SparkSession, table: str, rows: list, schema: str
) -> None:
    """Write a small driver-built table (meta, quantizers) whole."""
    spark.createDataFrame(rows, schema).write.mode("overwrite").saveAsTable(
        table
    )


def read_meta(spark: SparkSession, table: str) -> Row:
    """The one row of an index's meta table; any other count means the
    index was corrupted, as appends never add meta rows."""
    rows = open_table(spark, table).collect()
    if len(rows) != 1:
        raise ValueError(
            f"{table} has {len(rows)} rows — the index metadata was "
            "corrupted (a valid index has exactly one; appends never add "
            "meta rows)"
        )
    return rows[0]


def bucket_spec(spark: SparkSession, table: str) -> BucketSpec:
    """Bucket count, bucket columns and sort columns of ``table``, read
    from the catalog."""
    info = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }

    def cols(key: str) -> list[str]:
        # rendered as "[`band`, `bhash`]", or "[]"
        names = info[key].strip("[]").split(",")
        return [c.strip().strip("`") for c in names if c.strip()]

    return BucketSpec(
        int(info["Num Buckets"]), cols("Bucket Columns"), cols("Sort Columns")
    )


def append_rows(df: DataFrame, table: str) -> None:
    """Append ``df`` to a bucketed table under its stored bucket spec:
    bucketed tables append per-bucket files, and the rows already in
    the table are never read."""
    spec = bucket_spec(df.sparkSession, table)
    write_bucketed(
        df, table, spec.bucket_by, spec.num_buckets, spec.sort_by,
        mode="append",
    )


def compact_tables(spark: SparkSession, *tables: str) -> dict[str, int]:
    """Rewrite each bucketed table into its own stored bucket spec with
    exactly one file per bucket and swap it in; see the module docstring
    for the operating contract.  Returns ``{table: files_after}``.

    Cost: one read and one write of each table, O(index), with no
    shuffle.  The read is forced onto the bucketed scan (one input
    partition per bucket), so each task streams exactly its bucket's
    files into one output file.  The forced scan matters: by default
    the planner treats a repartition on the bucket columns as already
    satisfied by the bucket spec, and AQE then disables the bucketed
    scan, leaving bucket-mixed file splits that re-fragment the
    write."""
    out: dict[str, int] = {}
    prev_auto = spark.conf.get(_AUTO_BUCKETED_SCAN, "true")
    spark.conf.set(_AUTO_BUCKETED_SCAN, "false")
    try:
        for table in tables:
            tmp, old = f"{table}__compact", f"{table}__old"
            if not spark.catalog.tableExists(table) and (
                spark.catalog.tableExists(old)
            ):
                # a crash fell between the two renames: __old is the
                # last live copy
                spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
            spec = bucket_spec(spark, table)
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            spark.sql(f"DROP TABLE IF EXISTS {old}")
            rows = open_table(spark, table)
            if spec.sort_by:
                rows = rows.sortWithinPartitions(*spec.sort_by)
            write_bucketed(
                rows, tmp, spec.bucket_by, spec.num_buckets, spec.sort_by
            )
            # rename-out / rename-in / drop-last: never drop before the
            # replacement is live under the public name
            spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            spark.sql(f"DROP TABLE {old}")
            out[table] = len(open_table(spark, table).inputFiles())
    finally:
        spark.conf.set(_AUTO_BUCKETED_SCAN, prev_auto)
    return out
