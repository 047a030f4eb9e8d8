"""Sinks S6-S8 (SURVEY.md §2.1) — parquet / CSV / JDBC writers with
the reference's write semantics made explicit:

* full-replace (``to_sql(if_exists='replace')``,
  ref: spark_data_processor.py:899-906) -> ``mode('overwrite')``;
* upsert keys (``UNIQUE(iso3, year)`` + ``ON CONFLICT DO NOTHING``,
  ref: init_db.sql:28,59,138-144) -> ``dropDuplicates(keys)`` before
  the write;
* audit columns (``updated_at`` triggers, ref: init_db.sql:74-93) ->
  ``current_timestamp()`` stamped at write time.

Scale notes: parquet marts are written ``partitionBy`` a low-cardinality
column (year) so downstream reads partition-prune; JDBC writes shard
across ``numPartitions`` concurrent connections — each partition is one
INSERT batch stream, which is how a 1000-executor cluster loads a
warehouse without a driver-side bottleneck.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prepare(
    df: DataFrame,
    upsert_keys: Sequence[str] | None,
    audit_col: str | None,
) -> DataFrame:
    if upsert_keys:
        df = df.dropDuplicates(list(upsert_keys))
    if audit_col:
        df = df.withColumn(audit_col, F.current_timestamp())
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    upsert_keys: Sequence[str] | None = None,
    audit_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S7: snappy parquet sink. ref artifacts: data/processed/*.parquet
    (earlier-revision write path logged at ask.txt:141)."""
    writer = _prepare(df, upsert_keys, audit_col).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The everyday 100 TB maintenance
    op — streaming sinks and over-parallel writers leave thousands of
    KB-sized files whose per-file open/footer cost dominates scans;
    compaction restores ~target-sized files so the reader's split
    planning works with maxPartitionBytes instead of file count.
    Returns (files_before, files_after). Uses repartition (round-robin
    full shuffle) rather than coalesce: coalesce(n) would also narrow
    the UPSTREAM computation to n tasks and can skew output sizes;
    here the shuffle IS the point — uniform target files."""
    from pathlib import Path as _P

    from .metadata import table_files

    if _P(src).resolve() == _P(dst).resolve():
        raise ValueError(
            "compact_parquet: src and dst must differ — overwriting the "
            "directory being read fails mid-write"
        )
    before = table_files(src)  # recursive, so partitionBy layouts count
    n_out = max(1, -(-sum(f.size for f in before) // target_file_bytes))
    spark.read.parquet(src).repartition(n_out).write.mode("overwrite").parquet(dst)
    return len(before), len(table_files(dst))


def write_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    upsert_keys: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S6: headered CSV sink. ref: spark_data_processor.py:638-651 used
    ``toPandas().to_csv()`` — a driver collect; here the write is
    distributed unless ``single_file`` forces the reference's
    one-file-per-mart layout (mart-scale only: coalesce(1) funnels the
    data through one task)."""
    out = _prepare(df, upsert_keys, None)
    if single_file:
        out = out.coalesce(1)
    out.write.mode(mode).option("header", "true").csv(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    upsert_keys: Sequence[str] | None = None,
    audit_col: str | None = "updated_at",
    mode: str = "overwrite",
    num_partitions: int | None = None,
) -> None:
    """S8: JDBC sink. ref: spark_data_processor.py:891-932 loads the
    three marts into PostgreSQL via pandas ``to_sql`` (driver-side,
    chunked); here ``df.write.format('jdbc')`` streams from executors.

    Requires the vendor driver jar on the classpath (same gate as
    ``sources.readers.read_jdbc``); callers without one get the
    standard ClassNotFound error from the JVM, tested via
    tests/test_sinks.py's skip-if-no-driver probe.
    """
    out = _prepare(df, upsert_keys, audit_col)
    if num_partitions:
        out = out.repartition(num_partitions)
    writer = out.write.format("jdbc").mode(mode).option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def make_jsonl_sink_datasource():
    """Custom Python Data Source SINK (the writer face of the Spark-4
    API whose reader face is sources/synthetic.SyntheticTBDataSource):
    each partition streams its rows to a private temp file and returns
    a WriterCommitMessage; the driver's ``commit`` renames every temp
    file into place only after ALL partitions succeeded (``abort``
    deletes them) — the same two-phase contract FileOutputCommitter
    gives JVM sinks, here implemented in ~30 lines of Python. At scale
    this is how you write to a system Spark has no connector for
    (a feature store API, a vector DB) without losing task-retry
    atomicity.

    Shared-filesystem caveat: ``commit`` runs on the DRIVER and
    ``os.replace``s temp files the EXECUTORS wrote, which is atomic
    only when both see one filesystem (local mode, NFS). Against a
    remote system, route the rename/finalize through the same storage
    client the writers used (e.g. a server-side move or a
    manifest-commit), or the two-phase guarantee silently degrades to
    per-task visibility."""
    import json as _json
    import os
    import uuid
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _Commit(WriterCommitMessage):
        tmp: str
        final: str

    class _Writer(DataSourceWriter):
        def __init__(self, path: str):
            self._path = path

        def write(self, iterator):
            os.makedirs(self._path, exist_ok=True)
            token = uuid.uuid4().hex
            tmp = os.path.join(self._path, f"_tmp_{token}.jsonl")
            with open(tmp, "w") as f:
                for row in iterator:
                    # default=str: date/timestamp/Decimal columns
                    # serialize as ISO strings instead of raising
                    f.write(_json.dumps(row.asDict(), default=str) + "\n")
            return _Commit(tmp=tmp, final=os.path.join(self._path, f"part-{token}.jsonl"))

        def commit(self, messages):
            if getattr(self, "_overwrite", False):
                # two-phase overwrite: prior runs' part files go away
                # in the SAME commit step that publishes the new ones —
                # a failed job aborts before this point and leaves the
                # previous contents untouched
                import glob as _glob

                for old in _glob.glob(os.path.join(self._path, "part-*.jsonl")):
                    os.remove(old)
            for m in messages:
                if m is not None:
                    os.replace(m.tmp, m.final)

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.tmp):
                    os.remove(m.tmp)

    class _Sink(DataSource):
        @classmethod
        def name(cls):
            return "bdap_jsonl_sink"

        def writer(self, schema, overwrite):
            w = _Writer(self.options["path"])
            w._overwrite = overwrite
            return w

    return _Sink
