"""Unit tests for the round-13 data-derived streaming partition
sizing (``streaming_q._stream_partitions``): state-store-bound drains
size to source bytes (floor 2, cap cores), Python-kernel drains size
to worker parallelism, and the env override wins everywhere. Pure
logic — the function touches only ``defaultParallelism`` and the
filesystem, so a stub session suffices (no JVM)."""

from __future__ import annotations

import os
import types

import pytest

from big_data_analysis_project_spark.errors import ScaleRefusal
from big_data_analysis_project_spark.registry.streaming_q import (
    _STATE_PARTITION_TARGET_BYTES,
    _stream_partitions,
)


def _stub_spark(cores: int):
    sc = types.SimpleNamespace(defaultParallelism=cores)
    return types.SimpleNamespace(sparkContext=sc)


@pytest.fixture(autouse=True)
def _no_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)


def test_small_source_hits_the_floor(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 2


def test_large_source_scales_and_caps_at_cores(tmp_path):
    # a directory table of two part files, ~5 stores' worth of bytes
    d = tmp_path / "events.parquet"
    d.mkdir()
    half = (5 * _STATE_PARTITION_TARGET_BYTES) // 2
    for i in range(2):
        f = d / f"part-{i}.parquet"
        with f.open("wb") as fh:
            fh.truncate(half)  # sparse: size without writing 160 MB
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 5
    # a small cluster caps at its core count
    assert _stream_partitions(_stub_spark(3), str(tmp_path)) == 3


def test_missing_source_falls_to_floor(tmp_path):
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 2


def test_kernel_parallel_sizes_to_workers_not_state(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    # tiny state, but the per-group Python kernel wants parallelism
    assert (
        _stream_partitions(_stub_spark(32), str(tmp_path), kernel_parallel=True)
        == 16
    )
    assert (
        _stream_partitions(_stub_spark(4), str(tmp_path), kernel_parallel=True)
        == 4
    )


def test_env_override_wins_both_regimes(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "7")
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 7
    assert (
        _stream_partitions(_stub_spark(32), str(tmp_path), kernel_parallel=True)
        == 7
    )


# --- every SPARK_GRAFT_* integer knob falls back on a malformed value --
#
# Each case drives the knob's real call site (with the corpus-touching
# accessors stubbed) and returns (effective value, default).


def _refusal_budget(fn):
    with pytest.raises(ScaleRefusal) as exc:
        fn()
    return exc.value.budget


def _knob_cpus(mp, tmp_path, request):
    from big_data_analysis_project_spark.session import _default_parallelism

    return _default_parallelism(), os.cpu_count() or 4


def _knob_state_partitions(mp, tmp_path, request):
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    return _stream_partitions(_stub_spark(32), str(tmp_path)), 2


def _knob_stream_pairs(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import streaming_q as S

    return S._stream_pairs_budget(), S.STREAM_PAIRS_BUDGET


def _knob_knn_exact(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import similarity_q as S

    mp.setattr(S, "unit_vectors_cached", lambda *_: types.SimpleNamespace(count=lambda: 3))
    return S._knn_exact_bill(None, str(tmp_path))[2], S.KNN_EXACT_PAIRS_BUDGET


def _knob_knn_probe(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import similarity_q as S

    mp.setattr(S, "batch_centroids_cached", lambda *_: [[0.0]] * S.N_CENTROIDS)
    rec = S.knn_probe_provenance(None, str(tmp_path))
    return rec, {"n_probe": S.KNN_PROBE, "mode": "fixed_k_default"}


def _over_budget_profile(D):
    big = D.EVIDENCE_PAIRS_BUDGET + 1
    return lambda *_: {
        "pairs_bound": big, "pairs_bound_dbl": float(big), "max_df": 2,
        "probe_rows": big, "probe_rows_dbl": float(big), "max_term": big,
        "n_shared_shingles": 1,
    }


def _knob_evidence(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import ARTIFACTS
    from big_data_analysis_project_spark.registry import dedup_q as D

    mp.setattr(D, "shingles_cached", lambda *_: None)
    mp.setattr(D, "shingle_df_profile_cached", _over_budget_profile(D))
    build = ARTIFACTS["shingle_evidence"].build  # the unmemoized builder
    return _refusal_budget(lambda: build(None, str(tmp_path))), D.EVIDENCE_PAIRS_BUDGET


def _knob_mllib(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import dedup_q as D

    mp.setattr(D, "shingle_df_profile_cached", _over_budget_profile(D))
    got = _refusal_budget(lambda: D._mllib_guard(None, str(tmp_path)))
    return got, D.EVIDENCE_PAIRS_BUDGET


def _knob_incremental(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import dedup_q as D

    mp.setattr(D, "shingles_cached", lambda *_: None)
    mp.setattr(D, "incremental_probe_profile_cached", _over_budget_profile(D))
    got = _refusal_budget(lambda: D.dedup_incremental(None, str(tmp_path)))
    return got, D.EVIDENCE_PAIRS_BUDGET


def _knob_emb_pairs(mp, tmp_path, request):
    from big_data_analysis_project_spark.registry import dedup_q as D

    from .conftest import SF_SMOKE

    spark = request.getfixturevalue("spark")
    mp.setattr(D, "EMB_PAIRS_BUDGET", 1)  # every label block is over 1 pair
    return _refusal_budget(lambda: D.dedup_embedding(spark, SF_SMOKE)), 1


def _knob_driver_sample_cap(mp, tmp_path, request):
    """Read at registry import: the import itself must survive."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root))
    env["SPARK_GRAFT_DRIVER_SAMPLE_CAP"] = "lots"
    r = subprocess.run(
        [sys.executable, "-c",
         "import big_data_analysis_project_spark.registry as R; "
         "print(R.similarity_q._DRIVER_SAMPLE_CAP)"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return int(r.stdout.split()[-1]), 50_000


_KNOBS = {
    "SPARK_GRAFT_CPUS": _knob_cpus,
    "SPARK_GRAFT_STREAM_STATE_PARTITIONS": _knob_state_partitions,
    "SPARK_GRAFT_STREAM_PAIRS_CAP": _knob_stream_pairs,
    "SPARK_GRAFT_KNN_EXACT_CAP": _knob_knn_exact,
    "SPARK_GRAFT_KNN_PROBE": _knob_knn_probe,
    "SPARK_GRAFT_EVIDENCE_PAIRS_CAP": _knob_evidence,
    "SPARK_GRAFT_MLLIB_PAIRS_CAP": _knob_mllib,
    "SPARK_GRAFT_INCREMENTAL_PAIRS_CAP": _knob_incremental,
    "SPARK_GRAFT_EMB_PAIRS_CAP": _knob_emb_pairs,
    "SPARK_GRAFT_DRIVER_SAMPLE_CAP": _knob_driver_sample_cap,
}


@pytest.mark.parametrize("knob", sorted(_KNOBS))
def test_typoed_env_override_falls_back(knob, tmp_path, monkeypatch, request):
    monkeypatch.setenv(knob, "lots")
    got, want = _KNOBS[knob](monkeypatch, tmp_path, request)
    assert got == want


def test_every_integer_knob_is_covered():
    """No SPARK_GRAFT_* integer knob is parsed outside ``env_int``, and
    every ``env_int`` knob has a case above."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "big_data_analysis_project_spark"
    src = "\n".join(p.read_text() for p in pkg.rglob("*.py"))
    assert not re.search(r"int\(\s*(os\.environ|env\b|env_cap\b)", src)
    names = set(re.findall(r'env_int\(\s*"(SPARK_GRAFT_\w+)"', src))
    names |= {"SPARK_GRAFT_KNN_EXACT_CAP"}  # passed as KNN_EXACT_CAP_ENV
    assert names == set(_KNOBS)


# --- events ts bounds: metadata.column_bounds --------------------------
#
# stream_outer_join / stream_dedup_watermarked derive their staging
# split points from min/max(ts); the footer read replaces a full
# corpus scan (guide §6) and must be bit-identical to the aggregation
# for BOTH on-disk ts encodings and in every session time zone, else
# the staged micro-batches — and with them the emitted row sets —
# would silently change.


def _agg_ts_bounds(ev):
    from pyspark.sql import functions as F

    b = ev.select(
        F.unix_micros(F.min("ts")).alias("lo"),
        F.unix_micros(F.max("ts")).alias("hi"),
    ).collect()[0]
    return b.lo, b.hi


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_ts_bounds_footer_equals_aggregation(spark, tz, capsys):
    """The sf corpora store ts as Timestamp(isAdjustedToUTC=false,
    micros), which Spark reads as TIMESTAMP_NTZ and normalizes in the
    session zone: outside UTC the footer's raw micros are hours off
    the aggregation, so the bounds must come from the aggregation and
    say so on stderr."""
    from big_data_analysis_project_spark.metadata import column_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    from .conftest import SF_SMOKE

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        ev = load_events(spark, SF_SMOKE)
        capsys.readouterr()
        got = column_bounds(ev, f"{SF_SMOKE}/events.parquet", ("ts",))["ts"]
        err = capsys.readouterr().err
        want = _agg_ts_bounds(ev)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got == want
    line = f"[stats] events.ts: aggregate (session tz {tz}; footer not UTC-adjusted)"
    assert (line in err) == (tz != "UTC"), err


def test_ts_bounds_footer_runs_no_job(spark):
    """In the UTC session the bounds come from the footer alone: zero
    Spark jobs under the job group, where the aggregation runs one."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.metadata import column_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    from .conftest import SF_SMOKE

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    ev = load_events(spark, SF_SMOKE)
    sc, group = spark.sparkContext, "column_bounds_footer"
    jobs = lambda: len(sc.statusTracker().getJobIdsForGroup(group))  # noqa: E731
    sc.setJobGroup(group, "footer bounds")
    try:
        before = jobs()
        column_bounds(ev, f"{SF_SMOKE}/events.parquet", ("ts",))
        footer_jobs = jobs() - before
        ev.select(F.max("ts")).collect()
        agg_jobs = jobs() - before - footer_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert footer_jobs == 0
    assert agg_jobs >= 1  # the counter sees a job when one runs


def test_ts_bounds_nanos_encoding_floors_to_micros(spark, tmp_path):
    """TIMESTAMP(NANOS) corpora (older testdata generations) read as
    bigint nanos and normalize with ``ts div 1000``; the footer path
    must floor-divide the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analysis_project_spark.metadata import column_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    ns = [1_704_067_200_123_456_789, 1_704_067_200_123_457_999, 1_706_000_000_000_000_001]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["click"] * 3),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}"] * 3),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    ev = load_events(spark, str(tmp_path))
    got = column_bounds(ev, str(tmp_path / "events.parquet"), ("ts",))["ts"]
    assert got == (min(ns) // 1000, max(ns) // 1000)
    assert got == _agg_ts_bounds(ev)


def test_ts_bounds_fallback_paths(spark, tmp_path, capsys):
    """A footer without statistics cannot answer: the bounds come from
    the aggregation, equal to it, with the reason on stderr."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analysis_project_spark.metadata import column_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    us = [1_704_067_200_000_001, 1_704_067_300_000_002, 1_704_067_400_000_003]
    tbl = pa.table({"ts": pa.array(us, pa.timestamp("us"))})
    pq.write_table(
        tbl, tmp_path / "events.parquet", write_statistics=False
    )
    ev = load_events(spark, str(tmp_path))
    capsys.readouterr()
    got = column_bounds(ev, str(tmp_path / "events.parquet"), ("ts",))["ts"]
    assert "[stats] events.ts: aggregate (no stats)" in capsys.readouterr().err
    assert got == _agg_ts_bounds(ev) == (min(us), max(us))


def test_ts_bounds_match_pyspark_datetime_roundtrip(spark):
    """stream_backfill_tail reconstructs the corpus max_ts datetime
    from the footer hi bound via TimestampType.fromInternal's exact
    recipe; it must equal the collected MAX(ts) value."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.metadata import column_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    from .conftest import SF_SMOKE

    ev = load_events(spark, SF_SMOKE)
    hi_us = column_bounds(ev, f"{SF_SMOKE}/events.parquet", ("ts",))["ts"][1]
    m_footer = datetime.fromtimestamp(hi_us // 1_000_000).replace(
        microsecond=hi_us % 1_000_000
    )
    m_collected = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    assert m_footer == m_collected
