"""Deterministic edge-case tests for boundary semantics the sf-scale
oracles only hit by luck.

The sessionize sub-second bug (unix_timestamp truncation merged a
session exactly gap+0.7s apart — caught at sf0.1 only) motivates
pinning the boundary contract explicitly: a gap of exactly
SESSION_GAP is the same session, one microsecond more splits it, in
BOTH engines."""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_analysis_project_spark.operators.graphs import connected_components
from big_data_analysis_project_spark.registry import ORACLE, QUERIES
from big_data_analysis_project_spark.registry.streaming_q import SESSION_GAP_MIN

from .conftest import SF_SMOKE

GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def _write_events_table(path, rows):
    """rows: (event_id, ts_ns, user_id, value). Written as
    TIMESTAMP(NANOS) parquet — the driver testdata's physical type.
    ONE writer for every fixture in this module so the physical-schema
    contract (nanos, store_schema=False) lives in one place."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, path, store_schema=False)


def _write_events(tmpdir, rows):
    _write_events_table(f"{tmpdir}/events.parquet", rows)


def test_sessionize_exact_gap_boundary(spark, tmp_path):
    """Events exactly GAP apart stay in one session (strict >); one
    microsecond beyond splits. Spark and the DuckDB oracle must agree
    on both sides of the boundary."""
    t0 = 1_700_000_000_000_000_000  # ns epoch
    rows = [
        (1, t0, 42, 1.0),
        (2, t0 + GAP_US * 1000, 42, 2.0),  # exactly GAP after e1 -> same session
        (3, t0 + GAP_US * 1000 * 2 + 1000, 42, 4.0),  # GAP + 1us after e2 -> new session
    ]
    _write_events(tmp_path, rows)
    sdf = QUERIES["sessionize"](spark, str(tmp_path))
    got = sorted((r.n_events, r.total_value) for r in sdf.collect())
    assert got == [(1, 4.0), (2, 3.0)], got

    conn = duckdb.connect()
    conn.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = sorted((r[2], r[3]) for r in conn.execute(ORACLE["sessionize"]).fetchall())
    assert oracle == got


def test_sessionize_builtin_exact_gap_boundary(spark, tmp_path):
    """Native session_window shares the lag-based key's boundary
    contract (its merge is inclusive of the session end): exactly GAP
    apart -> same session, GAP + 1us -> new. Same fixture and
    expectations as test_sessionize_exact_gap_boundary, so the two
    implementations are pinned to one contract."""
    t0 = 1_700_000_000_000_000_000  # ns epoch
    rows = [
        (1, t0, 42, 1.0),
        (2, t0 + GAP_US * 1000, 42, 2.0),  # exactly GAP -> same session
        (3, t0 + GAP_US * 1000 * 2 + 1000, 42, 4.0),  # GAP + 1us -> new
    ]
    _write_events(tmp_path, rows)
    sdf = QUERIES["sessionize_builtin"](spark, str(tmp_path))
    got = sorted((r.n_events, r.total_value) for r in sdf.collect())
    assert got == [(1, 4.0), (2, 3.0)], got

    conn = duckdb.connect()
    conn.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = sorted(
        (r[2], r[3]) for r in conn.execute(ORACLE["sessionize_builtin"]).fetchall()
    )
    assert oracle == got


def test_window_tumbling_epoch_alignment(spark, tmp_path):
    """An event exactly on an hour boundary belongs to the window it
    starts ([start, end) semantics) in both engines."""
    hour_ns = 3_600 * 1_000_000_000
    t0 = (1_700_000_000_000_000_000 // hour_ns) * hour_ns  # aligned hour
    rows = [
        (1, t0 - 1000, 1, 1.0),  # 1us before the boundary -> prev window
        (2, t0, 1, 2.0),  # exactly on it -> next window
        (3, t0 + 1000, 1, 4.0),
    ]
    _write_events(tmp_path, rows)
    sdf = QUERIES["window_tumbling"](spark, str(tmp_path))
    got = sorted((r.n_events, r.total_value) for r in sdf.collect())
    assert got == [(1, 1.0), (2, 6.0)], got
    conn = duckdb.connect()
    conn.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = sorted((r[2], r[3]) for r in conn.execute(ORACLE["window_tumbling"]).fetchall())
    assert oracle == got


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-data semantics, not just watermark configuration: an
    append-mode windowed aggregate over a checkpointed file source is
    run, the watermark finalizes and emits a window, then a SECOND run
    (checkpoint restart = the next micro-batch at scale) delivers an
    event for that already-finalized window. The event must be
    DROPPED: the window is never re-emitted and its aggregate never
    changes. availableNow+complete-mode twins can't show this — only
    an across-batch append run can."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    hour_ns = 3_600 * 1_000_000_000
    t0 = 1_700_000_000_000_000_000 // hour_ns * hour_ns

    def _write_events_file(path, rows):
        _write_events_table(path, [(r[0], r[1], 1, float(r[2])) for r in rows])

    def run_stream():
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        stream = (
            spark.readStream.schema(raw)
            .format("parquet")
            .load(str(src))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        )
        q = (
            agg.select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n", "tv"
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    h0 = lambda s: t0 + s * 1_000_000_000  # noqa: E731
    _write_events_file(src / "b1.parquet", [(1, h0(1), 5.0), (2, h0(2), 7.0), (3, t0 + 3 * hour_ns + 10**9, 1.0)])
    got1 = run_stream()
    # hour-0 window finalized by the hour-3 event's watermark advance
    assert [(r[1], r[2]) for r in got1] == [(2, 12.0)], got1

    # batch 2: a LATE hour-0 event (100.0 — poison value) + an hour-5
    # event that advances the watermark past hour 3
    _write_events_file(src / "b2.parquet", [(4, h0(5), 100.0), (5, t0 + 5 * hour_ns + 10**9, 2.0)])
    got2 = run_stream()
    # late event dropped: hour-0 unchanged, no 100.0 anywhere;
    # hour-3 window newly finalized
    assert [(r[1], r[2]) for r in got2] == [(2, 12.0), (1, 1.0)], got2
    assert all(r[2] < 100.0 for r in got2)


def _uf_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_distributed_cc_random_graphs(spark, seed):
    """The fully-distributed CC path (driver_edge_limit=0: min-label
    propagation + pointer jumping) must match an independent union-find
    on adversarial graphs: a 60-vertex chain (worst-case diameter for
    label propagation), a star, random cliques, and noise edges."""
    rng = random.Random(seed)
    edges = [(i, i + 1) for i in range(1000, 1060)]  # long chain
    edges += [(2000, 2000 + i) for i in range(1, 20)]  # star
    base = 3000
    for _ in range(5):  # small cliques
        size = rng.randint(3, 6)
        ids = [base + i for i in range(size)]
        edges += [(a, b) for a in ids for b in ids if a < b]
        base += 10
    edges += [
        (rng.randint(0, 500), rng.randint(0, 500)) for _ in range(50)
    ]  # random noise edges
    edges += [(400, 400), (1000, 1000)]  # explicit self-loops — must
    # not wedge the algorithm (rng alone never produced one)
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.vertex: r.component
        for r in connected_components(df, driver_edge_limit=0).collect()
    }
    want = _uf_components([e for e in edges])
    assert got == want


def test_scan_csv_permissive_split(spark):
    """PERMISSIVE ingest must separate exactly the two injected
    malformed lines from the 25 clean nation rows — bad lines are
    captured, never dropped silently, never fatal."""
    row = QUERIES["scan_csv_permissive"](spark, SF_SMOKE).collect()[0]
    assert (row.n_good, row.n_corrupt) == (25, 2), row


def test_sink_sorted_files_have_disjoint_ranges(spark):
    """The range-clustered writer's scale claim, footer-verified:
    each parquet file's (min, max) o_orderkey interval must be
    disjoint from every other file's — that is what makes footer
    stats usable as zone maps for file-level pruning."""
    import pyarrow.parquet as pq

    df = QUERIES["sink_sorted"](spark, SF_SMOKE)
    files = sorted({r[0] for r in df.select(F.input_file_name()).distinct().collect()})
    assert len(files) >= 2, "expected multiple range-partitioned files"
    ranges = []
    for f in files:
        md = pq.ParquetFile(f.removeprefix("file://")).metadata
        mins, maxs = [], []
        # look the column up by NAME — index 0 silently reads whatever
        # is physically first if the projection ever changes
        idx = next(
            i
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderkey"
        )
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"


def test_observe_audit_metrics_ride_along(spark):
    """observe() metrics must report the audit counters from the SAME
    single pass that produced the aggregate: rows_seen equals the
    table count and the per-group counts sum to it."""
    df = QUERIES["observe_audit"](spark, SF_SMOKE)
    rows = df.collect()  # action materializes the observation
    obs = df._bdap_observation
    n_table = sum(r.n for r in rows)
    assert obs.get["rows_seen"] == n_table, (obs.get, n_table)
    assert obs.get["null_qty_seen"] == 0


def test_containment_catches_subset_pair_jaccard_misses(spark):
    """The asymmetric case dedup_containment exists for: a short doc
    fully quoted inside a long one has containment 1.0 but Jaccard
    well under the 0.5 threshold — a Jaccard-only pipeline keeps the
    duplicate, the containment key flags it."""
    from big_data_analysis_project_spark.registry.dedup_q import (
        JACCARD_THRESHOLD,
        _shingles,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} w{i + 1} w{i + 2}" for i in range(0, 120, 3))
    long_doc = short + " " + filler
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id bigint, text string"
    )

    sh = _shingles(docs)
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    a, b = sh.alias("a"), sh.alias("b")
    n_common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .count()
    )
    containment = n_common / min(sizes[1], sizes[2])
    jaccard = n_common / (sizes[1] + sizes[2] - n_common)
    assert containment >= 0.7, containment           # flagged by the containment key
    assert jaccard < JACCARD_THRESHOLD, jaccard      # invisible to the Jaccard key


def test_shingle_kernel_matches_duckdb_on_adversarial_whitespace(spark):
    """The Arrow shingle kernel must tokenize EXACTLY like the DuckDB
    oracle expression (string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+'))
    on text the fixed corpus never contains: trailing newlines/tabs,
    leading whitespace, whitespace-only and empty strings. A previous
    kernel revision popped trailing empty tokens "Java-style" while
    both DuckDB and F.split keep them — invisible on the clean corpus,
    a guaranteed driver hash-fail the round the corpus gains a
    trailing newline."""
    import duckdb
    import pandas as pd

    from big_data_analysis_project_spark.registry.dedup_q import _shingles

    texts = [
        "alpha beta gamma delta\n",
        "alpha beta gamma delta",
        "\talpha beta gamma",
        "one two three four\t\n",
        "  spaced   out   tokens  ",
        "\n",
        "",
        "ab cd",
        # \x0B splits under the shared explicit class on BOTH engines
        # (RE2's \s would not have); \xa0 must split on NEITHER
        # (Python's unicode \s would have) — ADVICE r3
        "alpha\x0bbeta gamma delta epsilon",
        "alpha\xa0beta gamma delta epsilon",
        "tail case before vtab\x0b",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["s"]) for r in _shingles(df).collect()
    }

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    conn = duckdb.connect()
    conn.register("docs_adv", pdf)
    want = set(
        conn.execute(
            r"""
            WITH words AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text, ' ')), '[ \t\n\x0B\f\r]+') AS w
              FROM docs_adv
            )
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            FROM words, LATERAL unnest(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
            """
        ).fetchall()
    )
    assert got == want, (got - want, want - got)


def test_arrow_norm_exact_before_trailing_empty_list(spark, tmp_path):
    """ADVICE r3 (medium): clamping reduceat starts with
    min(bounds, len-1) SPLIT the segment preceding a trailing empty
    list — lens=[3,0] over sq=[1,4,9] yielded sqrt(5) for row 0
    instead of sqrt(14). The kernel must now sum only over non-empty
    segment starts, making every non-empty row exact regardless of
    where empty lists fall (trailing, interior, leading, consecutive).
    Empty lists themselves norm to 0 by kernel contract."""
    import math

    rows = [
        (1, [1.0, 2.0, 3.0]),  # immediately before a trailing empty
        (2, []),
        (3, []),               # consecutive empties
        (4, [2.0]),
        (5, []),               # interior empty
        (6, [3.0, 4.0]),       # after an empty
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    got = {
        r["vec_id"]: r["norm_e4"]
        for r in QUERIES["udf_arrow_norm"](spark, str(tmp_path)).collect()
    }
    want = {
        vid: math.floor(math.sqrt(sum(x * x for x in vec)) * 10000)
        for vid, vec in rows
    }
    assert got == want, (got, want)


def test_dedup_embedding_refuses_above_pair_budget(spark, tmp_path, monkeypatch):
    """VERDICT r6 #5, re-based r9 (VERDICT r8 #2): the declared-
    quadratic oracle twin prices the TOTAL within-block pair count
    (Σ n(n-1)/2 — embedding_block_audit's aggregate), not the largest
    block's size, and REFUSES above the budget. Two same-sized blocks
    here: each passes any size cap individually, but their summed pair
    count trips a pairs budget — exactly the sf1clustered shape the
    old size cap waved through."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry.dedup_q import dedup_embedding

    n = 40  # two blocks of 20 -> pairs_bound = 2 * (20*19/2) = 380
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.pmod(F.col("id") * (p + 1), F.lit(7)) + 1).cast("float")
                  for p in range(4)]).alias("embedding"),
        F.pmod(F.col("id"), F.lit(2)).alias("label"),
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    # per-block pairs = 190 <= 200, but the summed bound 380 > 200:
    # a size-style per-block cap would pass; the pairs budget refuses
    with pytest.raises(ValueError, match="pair budget"):
        dedup_embedding(spark, str(tmp_path), pairs_cap=200).count()
    # env override mirrors the arg for registry-driven runs
    monkeypatch.setenv("SPARK_GRAFT_EMB_PAIRS_CAP", "200")
    with pytest.raises(ValueError, match="pair budget"):
        dedup_embedding(spark, str(tmp_path)).count()
    monkeypatch.setenv("SPARK_GRAFT_EMB_PAIRS_CAP", "0")
    assert dedup_embedding(spark, str(tmp_path)).count() >= 0
    monkeypatch.delenv("SPARK_GRAFT_EMB_PAIRS_CAP")
    # deliberate oracle run: cap disabled, the join executes
    assert dedup_embedding(spark, str(tmp_path), pairs_cap=0).count() >= 0
    # default budget passes any driver/bench-scale corpus untouched
    assert dedup_embedding(spark, str(tmp_path)).count() >= 0


def test_shingle_evidence_refuses_above_pair_budget(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4: the uncapped exact evidence build now REFUSES
    (not warn-and-proceed) when the df audit's exact pair bound
    exceeds the budget, naming the bounded tiers; the
    SPARK_GRAFT_EVIDENCE_PAIRS_CAP env override (0 = unlimited) is the
    deliberate-oracle escape hatch."""
    import pytest
    from pyspark.sql import functions as F

    import big_data_analysis_project_spark.registry.dedup_q as D

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    rows.append((9, "zeta eta theta iota kappa", "en", "t"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)
    with pytest.raises(ValueError, match="dedup_ngram_dfcap"):
        D.shingle_evidence_cached(spark, str(tmp_path)).count()
    # deliberate oracle run: env override disables the budget
    monkeypatch.setenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", "0")
    assert D.shingle_evidence_cached(spark, str(tmp_path)).count() > 0


def test_mllib_minhash_refuses_above_pair_budget(spark, tmp_path, monkeypatch):
    """VERDICT r8 #1: the MLlib approxSimilarityJoin twin — the one
    measured scale-killer that previously only WARNED (1,219 s at
    sf3skew, 26/32 task slots idle) — now runs the same
    shingle_df_profile pairs_bound pre-flight as the evidence build
    and REFUSES above the budget, with SPARK_GRAFT_MLLIB_PAIRS_CAP
    (0 = unlimited) as the deliberate library-reference escape
    hatch."""
    import pytest
    from pyspark.sql import functions as F

    import big_data_analysis_project_spark.registry.dedup_q as D

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    rows.append((9, "zeta eta theta iota kappa", "en", "t"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    # the shared triple shingle gives df=3 -> pairs_bound=3*3=9 > 1
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", raising=False)
    with pytest.raises(ValueError, match="dedup_minhash_lsh"):
        D.dedup_mllib_minhash(spark, str(tmp_path)).count()
    # deliberate library-reference run: env override disables the budget
    monkeypatch.setenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", "0")
    assert D.dedup_mllib_minhash(spark, str(tmp_path)).count() >= 0
    # a sane budget passes the tiny corpus untouched
    monkeypatch.setenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", "1000000")
    assert D.dedup_mllib_minhash(spark, str(tmp_path)).count() >= 0


def test_audit_exceeds_budget_overflow_safe():
    """ADVICE r8: the guard comparison must refuse even when the
    bigint SUM wrapped negative past 2^63 or when a single dominant
    key alone exceeds the budget — the regimes where the naive
    `bound > budget` check silently disables the guard."""
    from big_data_analysis_project_spark.registry.dedup_q import (
        audit_exceeds_budget,
    )

    # honest small bound under budget: passes
    assert not audit_exceeds_budget(100, 100.0, 10, 1000)
    # honest bound over budget: refuses
    assert audit_exceeds_budget(2000, 2000.0, 10, 1000)
    # bigint sum wrapped negative (> 2^63 pairs): refuses
    assert audit_exceeds_budget(-5, 1.1e19, 10, 1000)
    # wrapped sum AND a stale/zero shadow: the max-term pre-check
    # still refuses from the dominant key alone (Python int, exact)
    assert audit_exceeds_budget(-5, 0.0, 10_000_000, 1000)
    # float shadow catches a wrap the max-term can't see (many
    # medium-df keys, none individually over budget)
    assert audit_exceeds_budget(-5, 9.3e18, 100, 10**18)


# --- capped triangle counting ------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "doc_a bigint, doc_b bigint"
    )


def _exact_triangles(pairs):
    from itertools import combinations

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return sum(
        1
        for x, y, z in combinations(sorted(adj), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )


def test_triangles_capped_star_plus_clique(spark):
    """Orientation + cap contract on a composite graph: a hub star
    (zipf hot vertex, zero triangles — the case degree orientation
    exists for) glued to a clique and a few chained triangles. With
    cap above every degree the count is EXACT."""
    from big_data_analysis_project_spark.registry.extended_q import (
        count_triangles_capped,
    )

    star = [(0, h) for h in range(100, 160)]  # hub 0, 60 leaves
    clique = [(a, b) for a in range(10, 18) for b in range(a + 1, 18)]
    chain = [(200, 201), (201, 202), (200, 202), (202, 203), (203, 204), (202, 204)]
    pairs = star + clique + chain
    got = count_triangles_capped(_edges_df(spark, pairs), cap=64).collect()[0][0]
    assert got == _exact_triangles(pairs)  # C(8,3) + 2 = 58


def test_triangles_capped_truncation_bound(spark):
    """Cap below the clique degree: the count is a deterministic LOWER
    bound, monotone in cap, and recovers exactness once cap >= max
    out-degree — the documented BUCKET_CAP-style contract."""
    from big_data_analysis_project_spark.registry.extended_q import (
        count_triangles_capped,
    )

    c = 12
    pairs = [(a, b) for a in range(c) for b in range(a + 1, c)]
    exact = _exact_triangles(pairs)
    e = _edges_df(spark, pairs)
    counts = [
        count_triangles_capped(e, cap).collect()[0][0] for cap in (3, 6, c - 1)
    ]
    assert counts[-1] == exact  # cap >= max oriented out-degree -> exact
    assert counts == sorted(counts)  # monotone in cap
    assert all(0 < n <= exact for n in counts)


def test_wedge_stats_empty_edges(spark):
    """The shared guard/audit aggregate must return (0, 0) — not a
    null row — on an edge-free graph, so the refusal comparison and
    the oracle hash both stay well-defined."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry.extended_q import wedge_stats

    e = spark.range(0).select(
        F.col("id").alias("doc_a"), F.col("id").alias("doc_b")
    )
    row = wedge_stats(e).collect()[0]
    assert (row["n_edges"], row["wedges"]) == (0, 0)


def test_graph_triangles_refuses_above_wedge_budget(spark):
    """VERDICT r7 #1: the declared-cubic exact twin computes the exact
    wedge-join row count from the id-oriented out-degree distribution
    (one agg over the checkpointed edge artifact) and REFUSES above
    the budget, naming the capped tier; wedge_cap=0 is the deliberate
    oracle override and the default budget passes every driver scale
    untouched (SF_SMOKE has 5 wedges vs a 2e8 budget)."""
    import pytest

    from big_data_analysis_project_spark.registry.extended_q import graph_triangles

    with pytest.raises(ValueError, match="graph_triangles_capped"):
        graph_triangles(spark, SF_SMOKE, wedge_cap=1).count()
    # deliberate oracle run: guard disabled, the join executes
    assert graph_triangles(spark, SF_SMOKE, wedge_cap=0).count() == 1
    # default budget: driver scales pass untouched
    assert graph_triangles(spark, SF_SMOKE).count() == 1


def test_triangles_capped_matches_exact_twin(spark):
    """At driver scales every degree is far below TRIANGLE_ADJ_CAP, so
    the capped tier must be bit-equal to the exact wedge-join twin."""
    ex = QUERIES["graph_triangles"](spark, SF_SMOKE).collect()[0][0]
    cp = QUERIES["graph_triangles_capped"](spark, SF_SMOKE).collect()[0][0]
    assert ex == cp


def test_stage_table_files_relative_dir(tmp_path):
    """Staging must survive a RELATIVE sf_dir: symlink targets are
    resolved to absolute paths, otherwise every link re-resolves
    against the /tmp staging dir and silently dangles (round-7 probe:
    all stream keys read 0 rows under a repo-relative data dir)."""
    import os

    from big_data_analysis_project_spark.registry.streaming_q import (
        _stage_table_files,
    )

    table = tmp_path / "data" / "events.parquet"
    table.mkdir(parents=True)
    for i in range(3):
        (table / f"part-{i}.parquet").write_bytes(b"PAR1")
    stage = tmp_path / "stage"
    stage.mkdir()
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        _stage_table_files(stage, "data", "events")
    finally:
        os.chdir(cwd)
    links = sorted(stage.iterdir())
    assert len(links) == 3
    for ln in links:
        assert ln.is_symlink() and ln.resolve().is_file(), ln
        assert ln.read_bytes() == b"PAR1"


def test_triangles_lsh_matches_exact_at_driver_scale(spark):
    """graph_triangles_lsh (banded-minhash edges + capped count — the
    fully-bounded scale path added after sf3skew showed the exact
    evidence lineage refusing under the capped triangle tier) must
    equal the exact triangle count at driver scale, where banding
    recall is 1 and every degree is under the adjacency cap."""
    import sys as _s

    _s.path.insert(0, ".")
    import __spark_entry__ as E

    Q = E.queries()
    sf = "/root/testdata/sf0.001"
    lsh = Q["graph_triangles_lsh"](spark, sf).collect()[0][0]
    exact = Q["graph_triangles"](spark, sf).collect()[0][0]
    capped = Q["graph_triangles_capped"](spark, sf).collect()[0][0]
    assert lsh == exact == capped, (lsh, exact, capped)
    assert lsh >= 0


def test_scale_refusal_structured_payload(spark, tmp_path, monkeypatch):
    """VERDICT r9 #8: a guard's ScaleRefusal carries machine-readable
    fields (key / measured / budget / alternative / override_env) so a
    pipeline can route to the bounded tier programmatically instead of
    parsing prose; the human message is unchanged (still names the
    budget and the alternative). bench.py records payload() in its
    refusals bucket."""
    import pytest
    from pyspark.sql import functions as F

    import big_data_analysis_project_spark.registry.dedup_q as D
    from big_data_analysis_project_spark.errors import ScaleRefusal

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)
    with pytest.raises(ScaleRefusal) as ei:
        D.shingle_evidence_cached(spark, str(tmp_path)).count()
    exc = ei.value
    payload = exc.payload()
    assert payload["key"] == "shingle_evidence"
    assert payload["budget"] == 1
    assert payload["measured"] > 1  # the df audit's exact pairs bound
    assert payload["alternative"] == "dedup_minhash_lsh"
    assert payload["override_env"] == "SPARK_GRAFT_EVIDENCE_PAIRS_CAP"
    # prose contract intact: message still names budget + alternative
    assert "dedup_ngram_dfcap" in str(exc)
    # payload drops None fields (graph_triangles has no override env)
    assert None not in payload.values()


def test_wedge_audit_lsh_prices_the_capped_kernel_exactly(spark):
    """VERDICT r9 #2: graph_wedge_audit_lsh's wedges_capped must equal
    the ACTUAL row count of graph_triangles_lsh's a1-a2 wedge join over
    the same banded-minhash edges (same orientation, same cap), and the
    uncapped `wedges` column must bound it from above — the audit is a
    pre-flight price, never an underestimate of the work."""
    import sys as _s

    _s.path.insert(0, ".")
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry.dedup_q import (
        minhash_pairs_cached,
    )
    from big_data_analysis_project_spark.registry.extended_q import (
        TRIANGLE_ADJ_CAP,
        capped_adjacency,
        degree_oriented_edges,
    )

    sf = "/root/testdata/sf0.001"
    Q = E.queries()
    audit = Q["graph_wedge_audit_lsh"](spark, sf).collect()[0]
    assert audit.wedges >= audit.wedges_capped >= 0
    assert audit.n_edges > 0  # non-vacuous: the corpus has LSH edges

    # the actual wedge-join row count of the capped kernel
    e = minhash_pairs_cached(spark, sf).select("doc_a", "doc_b")
    adj = capped_adjacency(degree_oriented_edges(e), TRIANGLE_ADJ_CAP)
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    actual = a1.join(
        a2,
        (F.col("a2.src") == F.col("a1.src"))
        & (
            (F.col("a2.dd") > F.col("a1.dd"))
            | (
                (F.col("a2.dd") == F.col("a1.dd"))
                & (F.col("a2.dst") > F.col("a1.dst"))
            )
        ),
    ).count()
    assert audit.wedges_capped == actual, (audit.wedges_capped, actual)
    # driver scale: every oriented out-degree is under the cap, so the
    # capped price equals the uncapped bill
    assert audit.wedges == audit.wedges_capped


def test_incremental_refuses_above_probe_budget(spark, tmp_path, monkeypatch):
    """Round 10: the fourth skew decade caught dedup_incremental as the
    registry's last unguarded quadratic path (the delta x base hot-
    shingle cross measured allocating 4 GiB task pages at sf10skew).
    The probe now prices its exact join (incremental_probe_profile)
    and refuses over budget, naming the df-capped tier;
    SPARK_GRAFT_INCREMENTAL_PAIRS_CAP=0 is the deliberate-oracle
    escape hatch."""
    import pytest
    from pyspark.sql import functions as F

    import big_data_analysis_project_spark.registry.dedup_q as D
    from big_data_analysis_project_spark.errors import ScaleRefusal

    # two odd + two even docs sharing one triple shingle: every shared
    # shingle has n_delta=2, n_base=2 -> probe_rows = 4 per shingle
    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(4)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_INCREMENTAL_PAIRS_CAP", raising=False)
    with pytest.raises(ScaleRefusal, match="dedup_incremental_dfcap") as ei:
        D.dedup_incremental(spark, str(tmp_path)).count()
    p = ei.value.payload()
    assert p["alternative"] == "dedup_incremental_dfcap"
    assert p["measured"] > p["budget"] == 1
    assert p["override_env"] == "SPARK_GRAFT_INCREMENTAL_PAIRS_CAP"
    # the audit surface prices the same bill the guard consumed
    audit = D.incremental_probe_audit(spark, str(tmp_path)).collect()[0]
    assert audit["probe_rows"] == p["measured"]
    # deliberate oracle run: env override disables the budget
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_PAIRS_CAP", "0")
    assert D.dedup_incremental(spark, str(tmp_path)).count() > 0
    # a sane budget passes the tiny corpus untouched
    monkeypatch.setenv("SPARK_GRAFT_INCREMENTAL_PAIRS_CAP", "1000000")
    assert D.dedup_incremental(spark, str(tmp_path)).count() > 0


def test_incremental_dfcap_is_precision_one_lower_bound(spark):
    """Every (new_doc, dup_of) the capped tier emits is a true exact-
    probe pair with jaccard_lb <= the exact jaccard (n_common only
    loses capped shingles; denominators keep true sizes)."""
    import big_data_analysis_project_spark.registry.dedup_q as D

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["new_doc"], r["dup_of"]): r["jaccard"]
        for r in D.dedup_incremental(spark, sf).collect()
    }
    capped = D.dedup_incremental_dfcap(spark, sf).collect()
    assert capped, "vacuous: no capped pairs at sf0.01"
    for r in capped:
        key = (r["new_doc"], r["dup_of"])
        assert key in exact, key
        assert r["jaccard_lb"] <= exact[key] + 1e-9


def test_dedup_embedding_kernel_edge_semantics(spark, tmp_path):
    """r13 optimization: the per-pair JVM zip_with fold became a
    grouped Arrow kernel. The emitted set must stay exactly the old
    join's under every edge the join handled implicitly: NULL
    label/vec_id rows never pair, duplicate vec_ids never self-pair
    (strict <), cross-dim pairs drop (zip_with null-padded them to a
    NULL cosine), and surviving cosines match DuckDB's in-order
    list_cosine_similarity bit-for-bit through the 4-digit round."""
    import duckdb

    from big_data_analysis_project_spark.registry import ORACLE
    from big_data_analysis_project_spark.registry.dedup_q import dedup_embedding

    rows = [
        # label 1: three 4-dim vectors, one duplicate vec_id pair
        (1, [1.0, 2.0, 3.0, 4.0], 1),
        (2, [1.0, 2.0, 3.0, 4.5], 1),
        (2, [9.0, 1.0, 1.0, 1.0], 1),   # duplicate id: strict < must cut
        (3, [0.5, 2.0, 3.0, 4.0], 1),
        # null label / null vector: never pair
        (6, [1.0, 2.0, 3.0, 4.0], None),
        (7, None, 1),
        # label 2: anti-correlated pair lands under the 0.3 cut
        (8, [1.0, 0.0, 0.0, 0.0], 2),
        (9, [0.0, 1.0, 0.0, 0.0], 2),
    ]
    pdf_path = tmp_path / "embeddings.parquet"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(pdf_path))

    got = sorted(
        tuple(r) for r in dedup_embedding(spark, str(tmp_path)).collect()
    )
    conn = duckdb.connect()
    conn.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{pdf_path}/*.parquet')"
    )
    want = sorted(tuple(r) for r in conn.execute(ORACLE["dedup_embedding"]).fetchall())
    assert got == want
    assert (2, 2) not in {(a, b) for a, b, _ in got}  # strict < on dup ids
    assert got, "fixture must exercise surviving pairs"

    # Ragged dims are OUTSIDE the oracle contract (DuckDB's
    # list_cosine_similarity raises on unequal lengths), so the kernel
    # pins the OLD Spark semantics directly: zip_with null-padded a
    # cross-dim pair into a NULL cosine the filter dropped — cross-dim
    # pairs never emit, same-dim pairs still do.
    ragged = rows + [(4, [1.0, 2.0], 1), (5, [1.0, 2.1], 1)]
    spark.createDataFrame(
        ragged, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(pdf_path))
    got2 = {(a, b) for a, b, _ in dedup_embedding(spark, str(tmp_path)).collect()}
    assert (4, 5) in got2  # the same-dim dim-2 pair emits
    cross = {p for p in got2 if (p[0] in (4, 5)) != (p[1] in (4, 5))}
    assert not cross, f"cross-dim pairs must not emit: {cross}"
    # the uniform-dim pairs are unaffected by the ragged rows
    assert {(a, b) for a, b, _ in got} <= got2


def test_udaf_momentum_kernel_edge_semantics(spark, tmp_path):
    """r13 optimization: the grouped-map UDAF moved from applyInPandas
    to applyInArrow (the pandas boxing alone cost 3.4 s at sf0.1). The
    per-group kernel must keep the exact ordering and comparison
    semantics of the old pandas path AND of the oracle's LAG
    restatement: ties on ts break by event_id, a value equal to its
    predecessor does not count as up, and the emitted rows match the
    DuckDB oracle on a fixture crafted to hit every edge."""
    import datetime as dt

    import duckdb

    from big_data_analysis_project_spark.registry import ORACLE
    from big_data_analysis_project_spark.registry.udf_q import udaf_momentum

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda k: t0 + dt.timedelta(seconds=k)  # noqa: E731
    rows = [
        # user 1: ts ties — event_id must break them (2.0 -> 3.0 -> 1.0
        # in id order = 1 up; ts order alone could read 2 ups)
        (10, 1, s(0), 2.0, "click"),
        (11, 1, s(0), 3.0, "click"),
        (12, 1, s(0), 1.0, "click"),
        # user 2: equal consecutive values are NOT up; then one real up
        (20, 2, s(0), 5.0, "view"),
        (21, 2, s(1), 5.0, "view"),
        (22, 2, s(2), 6.0, "view"),
        # user 3: single event — zero diffs
        (30, 3, s(0), 1.5, "click"),
        # user 4: strictly decreasing — zero ups
        (40, 4, s(0), 9.0, "view"),
        (41, 4, s(1), 8.0, "view"),
        (42, 4, s(2), 7.0, "view"),
    ]
    pdf_path = tmp_path / "events.parquet"
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, event_type string"
    ).write.mode("overwrite").parquet(str(pdf_path))

    got = sorted(tuple(r) for r in udaf_momentum(spark, str(tmp_path)).collect())
    conn = duckdb.connect()
    conn.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{pdf_path}/*.parquet')"
    )
    want = sorted(tuple(r) for r in conn.execute(ORACLE["udaf_momentum"]).fetchall())
    assert got == want
    assert got == [(1, 3, 1), (2, 3, 1), (3, 1, 0), (4, 3, 0)]


@pytest.mark.parametrize("probe", ["query_unit_cached", "ann_mllib_lsh"])
def test_missing_query_vector_is_a_clear_error(spark, tmp_path, probe):
    """An embeddings table without the query row (vec_id ==
    QUERY_VEC_ID) raises a ValueError naming the id and the corpus,
    not a bare IndexError from ``.collect()[0]`` — both through the
    memoized query probe the single-query ANN keys share and through
    the MLlib LSH key's own probe."""
    from big_data_analysis_project_spark.registry import similarity_q as S

    spark.createDataFrame(
        [(S.QUERY_VEC_ID + i, [1.0, float(i), 0.5, 2.0], 0) for i in (1, 2, 3)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    call = S.query_unit_cached if probe == "query_unit_cached" else QUERIES[probe]
    with pytest.raises(ValueError, match=rf"QUERY_VEC_ID \({S.QUERY_VEC_ID}\)") as exc:
        call(spark, sf)
    assert sf in str(exc.value)
