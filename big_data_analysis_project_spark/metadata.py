"""Parquet metadata: the one module of the package that lists a
table's files or opens a parquet footer.

* ``table_files(path)``: every ``*.parquet`` file under a table
  directory, recursively (``partitionBy`` nests part files under
  ``key=value`` directories), or the one file ``path`` names; sorted,
  with size and ``mtime_ns`` from the same listing. A missing path
  lists nothing.
* ``table_bytes(path)``, ``row_count(path)``: their summed size and
  footer ``num_rows``.
* ``column_bounds(df, path, cols)``: exact ``{col: (lo, hi)}``, equal
  to ``F.min``/``F.max`` over ``df`` (``F.unix_micros`` of them for
  timestamps), ``(None, None)`` for an empty table or all-null column.
  ``df`` must read the table at ``path`` row for row (no filter).

Footer versus aggregate: INT32/INT64 row-group statistics are exact,
so the footer answers, without a Spark job, when its value cannot
depend on the session: signed integers; nanosecond timestamps (read as
bigint under ``nanosAsLong`` and normalized with ``ts div 1000``, which
is floor division for post-epoch values); microsecond timestamps with
``isAdjustedToUTC=true``. Microsecond timestamps with
``isAdjustedToUTC=false`` read as TIMESTAMP_NTZ, and the normalizing
cast applies the session time zone, so their footer answers only when
``spark.sql.session.timeZone`` is ``UTC``. Row groups whose column is
all null hold no value and are skipped. Any other case (another type,
no statistics, a pre-epoch timestamp, a column the footer lacks, an
unreadable footer, no file) runs one MIN/MAX aggregation over ``df``
for the columns concerned and prints one ``[stats]`` line per column
with the reason on stderr.

Files are listed with ``pyarrow.fs.FileSystem.from_uri`` on the
resolved absolute path and one recursive ``FileSelector``. Only the
local filesystem is tested, offline.
"""

from __future__ import annotations

import sys
from pathlib import Path
from typing import NamedTuple


class TableFile(NamedTuple):
    path: str
    size: int
    mtime_ns: int


def _listing(path) -> tuple:
    from pyarrow import fs

    filesystem, root = fs.FileSystem.from_uri(str(Path(path).resolve()))
    info = filesystem.get_file_info(root)
    if info.type == fs.FileType.Directory:
        infos = [
            i
            for i in filesystem.get_file_info(fs.FileSelector(root, recursive=True))
            if i.type == fs.FileType.File and i.path.endswith(".parquet")
        ]
    else:
        infos = [info] if info.type == fs.FileType.File else []
    return filesystem, sorted(TableFile(i.path, i.size, i.mtime_ns) for i in infos)


def table_files(path) -> list[TableFile]:
    return _listing(path)[1]


def table_bytes(path) -> int:
    return sum(f.size for f in table_files(path))


def row_count(path) -> int:
    import pyarrow.parquet as pq

    filesystem, files = _listing(path)
    return sum(pq.read_metadata(f.path, filesystem=filesystem).num_rows for f in files)


def _union(a: tuple, b: tuple) -> tuple:
    if a[0] is None or b[0] is None:
        return b if a[0] is None else a
    return min(a[0], b[0]), max(a[1], b[1])


def _footer_bounds(md, col: str, tz: str) -> tuple | str:
    """``(lo, hi)`` of ``col`` in one file's footer, or why the footer
    cannot give the aggregated value."""
    import json

    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if col not in names:
        return "not in footer"
    i = names.index(col)
    t = json.loads(md.schema.column(i).logical_type.to_json())
    is_ts = t["Type"] == "Timestamp"
    if md.schema.column(i).physical_type not in ("INT32", "INT64") or not (
        t["Type"] == "None"
        or (t["Type"] == "Int" and t["isSigned"])
        or (is_ts and t["timeUnit"] in ("microseconds", "nanoseconds"))
    ):
        return "unsupported type"
    micros = is_ts and t["timeUnit"] == "microseconds"
    if micros and not t["isAdjustedToUTC"] and tz != "UTC":
        return f"session tz {tz}; footer not UTC-adjusted"
    div = 1000 if is_ts and not micros else 1
    out = (None, None)
    for g in (md.row_group(k) for k in range(md.num_row_groups)):
        st = g.column(i).statistics
        if g.num_rows == 0 or (st is not None and st.null_count == g.num_rows):
            continue  # no value to bound
        if st is None or not st.has_min_max:
            return "no stats"
        if is_ts and st.min_raw < 0:
            return "pre-epoch"  # floor and Spark's truncating div diverge
        out = _union(out, (st.min_raw // div, st.max_raw // div))
    return out


def column_bounds(df, path, cols) -> dict[str, tuple]:
    """Exact ``{col: (lo, hi)}`` of ``cols`` over ``df``; see the module
    docstring for when the footer answers."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    bounds, why = dict.fromkeys(cols, (None, None)), {}
    try:
        filesystem, files = _listing(path)
        why = {} if files else dict.fromkeys(cols, "no files")
        for f in files:
            md = pq.read_metadata(f.path, filesystem=filesystem)
            for c in [c for c in cols if c not in why]:
                got = _footer_bounds(md, c, tz)
                if isinstance(got, str):
                    why[c] = got
                else:
                    bounds[c] = _union(bounds[c], got)
    except Exception:  # noqa: BLE001 — the footer is an optimization, never fatal
        why.update((c, "unreadable") for c in cols if c not in why)
    if not why:
        return bounds
    types, exprs = dict(df.dtypes), []
    for c in why:
        print(f"[stats] {Path(path).stem}.{c}: aggregate ({why[c]})", file=sys.stderr)
        agg = [F.min(c), F.max(c)]
        exprs += [F.unix_micros(a) for a in agg] if types[c] == "timestamp" else agg
    row = df.select(*exprs).first()
    return {**bounds, **{c: (row[2 * k], row[2 * k + 1]) for k, c in enumerate(why)}}
