"""``metadata.py``: the package's one parquet file lister and footer
reader, what its callers do with an empty table, and the package zip
``get_spark`` ships to the Python workers."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_analysis_project_spark.metadata import (
    column_bounds,
    row_count,
    table_bytes,
    table_files,
)

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "big_data_analysis_project_spark"


def test_one_reader():
    """Only metadata.py lists parquet files or opens a footer."""
    pattern = re.compile(r"pyarrow\.parquet|ParquetFile\(|\.rglob\(")
    offenders = [
        f"{p.relative_to(REPO)}:{n}"
        for p in sorted(PKG.glob("**/*.py"))
        if p.name != "metadata.py" or p.parent != PKG
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []


def test_listing_recurses_into_partitions(tmp_path):
    t = tmp_path / "t.parquet"
    for part, rows in (("k=1", 3), ("k=2", 2)):
        (t / part).mkdir(parents=True)
        pq.write_table(pa.table({"a": list(range(rows))}), t / part / "p.parquet")
    (t / "_SUCCESS").write_bytes(b"")
    files = table_files(t)
    assert [Path(f.path).relative_to(t).as_posix() for f in files] == [
        "k=1/p.parquet",
        "k=2/p.parquet",
    ]
    assert table_bytes(t) == sum(f.size for f in files) > 0
    assert all(f.mtime_ns > 0 for f in files)
    assert row_count(t) == 5
    # a single file lists itself; a missing path lists nothing
    assert table_files(files[0].path) == files[:1]
    assert table_files(tmp_path / "missing") == []
    assert table_bytes(tmp_path / "missing") == row_count(tmp_path / "missing") == 0


def _write_empty_tables(root: Path) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        root / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([], pa.int64()),
                "l_partkey": pa.array([], pa.int64()),
                "l_suppkey": pa.array([], pa.int64()),
                "l_extendedprice": pa.array([], pa.float64()),
            }
        ),
        root / "lineitem.parquet",
    )


def test_empty_tables_give_empty_results(spark, tmp_path):
    """0-row events and lineitem: no bound (as the aggregation), and
    the keys that size their work from the bounds return no rows."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry import QUERIES
    from big_data_analysis_project_spark.sources.readers import load_events

    _write_empty_tables(tmp_path)
    sf = str(tmp_path)
    ev = load_events(spark, sf)
    got = column_bounds(ev, f"{sf}/events.parquet", ("ts",))["ts"]
    agg = ev.select(F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))).first()
    assert got == tuple(agg) == (None, None)
    for key in (
        "stream_outer_join",
        "stream_dedup_watermarked",
        "sink_zorder",
        "stream_backfill_tail",
    ):
        assert QUERIES[key](spark, sf).count() == 0, key


def test_udf_key_runs_outside_the_repo(tmp_path):
    """Python workers import the package from the zip get_spark ships,
    not from the launch directory: a process started elsewhere, with
    the package on its own sys.path only, runs a UDF key. PYTHONPATH
    is removed because workers inherit the JVM's."""
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from big_data_analysis_project_spark.registry import QUERIES
from big_data_analysis_project_spark.session import get_spark
spark = get_spark(app_name="launch-dir", master="local[2]")
print("ROWS", QUERIES["mm_resize"](spark, {SF_SMOKE!r}).count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert re.search(r"^ROWS [1-9]\d*$", out.stdout, re.M), out.stdout
