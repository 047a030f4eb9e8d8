"""The ``@artifact`` memo contract: one store keyed on the Spark
application, the snapshot fingerprint of ``sf_dir`` (ADVICE r5 #4:
rewriting the parquet files under a memoized sf_dir within one
application must invalidate the artifact instead of serving the stale
one) and ``extra``; single-flight builds; ``release_snapshot``."""

from __future__ import annotations

import inspect
import threading
import time

import pytest

from big_data_analysis_project_spark.registry._base import ScaleRefusal
from big_data_analysis_project_spark.registry._memo import (
    ARTIFACTS,
    _STORE,
    artifact,
    release_snapshot,
    snapshot_fingerprint,
)


def _write_parquet(spark, path, n):
    spark.range(n).write.mode("overwrite").parquet(str(path / "t.parquet"))


@pytest.fixture
def declare():
    """``artifact`` for test-local declarations, withdrawn (record and
    memoized values) when the test ends so the registry's own set of
    artifacts is unchanged."""
    names = []

    def _declare(name, **kw):
        names.append(f"test_memo.{name}")
        return artifact(names[-1], **kw)

    yield _declare
    for name in names:
        ARTIFACTS.pop(name).clear()


def _entries(name):
    return [k for k in _STORE if k[0] == f"test_memo.{name}"]


def test_snapshot_memo_invalidates_on_rewrite(spark, tmp_path, declare):
    _write_parquet(spark, tmp_path, 5)
    builds = []

    @declare("rewrite")
    def build(spark, sf_dir):
        builds.append(1)
        return len(builds)

    assert build(spark, str(tmp_path)) == 1
    assert build(spark, str(tmp_path)) == 1  # memo hit
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    _write_parquet(spark, tmp_path, 7)
    assert build(spark, str(tmp_path)) == 2  # rebuilt
    # stale-fingerprint entry evicted, not accumulated
    assert len(_entries("rewrite")) == 1


def test_snapshot_memo_extra_key_separates_models(spark, tmp_path, declare):
    """``extra`` is read per call, so a moved dial keys a second model;
    the accessor's arguments after sf_dir key it too."""
    _write_parquet(spark, tmp_path, 3)
    dial = [1]

    @declare("extra", extra=lambda: (dial[0],))
    def model(spark, sf_dir, variant):
        return (dial[0], variant)

    assert model(spark, str(tmp_path), "a") == (1, "a")
    dial[0] = 2
    assert model(spark, str(tmp_path), "a") == (2, "a")
    assert model(spark, str(tmp_path), "b") == (2, "b")
    assert len(_entries("extra")) == 3


def test_release_snapshot_drops_only_that_corpus(spark, tmp_path, declare):
    """The multi-corpus probe fix (round 13): release_snapshot must
    drop the entries of exactly the released sf_dir, leave other
    corpora and application-scoped artifacts alone, and report the
    drop count."""
    dir_a, dir_b = tmp_path / "a", tmp_path / "b"
    dir_a.mkdir(), dir_b.mkdir()
    _write_parquet(spark, dir_a, 3)
    _write_parquet(spark, dir_b, 4)
    rebuilt = []

    @declare("per_corpus")
    def per_corpus(spark, sf_dir):
        rebuilt.append(sf_dir)
        return sf_dir

    @declare("per_app", snapshot=False)
    def per_app(spark):
        return "session-scoped"

    per_corpus(spark, str(dir_a))
    per_corpus(spark, str(dir_b))
    per_app(spark)
    assert release_snapshot(str(dir_a)) == 1
    # dir_b and the application-scoped entry survive; a re-ask for
    # dir_a rebuilds instead of serving the dropped artifact
    assert len(_entries("per_corpus")) == 1 and len(_entries("per_app")) == 1
    per_corpus(spark, str(dir_a))
    assert rebuilt == [str(dir_a), str(dir_b), str(dir_a)]
    # releasing a corpus nothing was built from is a no-op
    assert release_snapshot(str(tmp_path / "nowhere")) == 0


def test_registry_caches_are_registered(spark, tmp_path, monkeypatch):
    """release_snapshot sweeps every snapshot-scoped registry artifact
    — the 17 former module-level caches, with the shared centroid
    cache split into ivf_model and batch_model. Each build is stubbed,
    so this needs no corpus."""
    import big_data_analysis_project_spark.registry  # noqa: F401 (declares)

    scoped = [a for a in ARTIFACTS.values() if a.snapshot]
    assert len(scoped) == 18, [a.name for a in scoped]
    sf = str(tmp_path)
    for art in scoped:
        key_args = [None] * (len(inspect.signature(art.build).parameters) - 2)
        monkeypatch.setattr(art, "build", lambda *a, name=art.name: name)
        assert art.accessor(spark, sf, *key_args) == art.name
    assert release_snapshot(sf) == len(scoped)
    assert not [k for k in _STORE if k[2] == sf]


def test_snapshot_fingerprint_missing_dir():
    assert snapshot_fingerprint("/nonexistent/path/xyz") == ("<missing>",)


def test_session_memo_still_keyed_per_application(spark, declare):
    """Application-scoped artifacts (the TB marts) key on the
    application id alone."""

    @declare("app_scoped", snapshot=False)
    def marts(spark):
        return 42

    assert marts(spark) == 42
    app = spark.sparkContext.applicationId
    assert [k[1:3] for k in _entries("app_scoped")] == [(app, None)]


# --- single-flight builds ----------------------------------------------


def _in_threads(fn, n):
    """Run ``fn(i)`` on ``n`` threads released together; return the
    results (or raised exceptions) in thread order."""
    gate = threading.Barrier(n)
    out = [None] * n

    def run(i):
        gate.wait(timeout=30)
        try:
            out[i] = fn(i)
        except Exception as exc:  # noqa: BLE001 — recorded per thread
            out[i] = exc

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    return out


def test_concurrent_callers_build_once(spark, tmp_path, declare):
    """More callers than cores, switching threads as often as the
    interpreter allows: every key is built exactly once, and every
    caller of a key gets the same object."""
    import sys

    builds = []

    @declare("single_flight")
    def slow(spark, sf_dir, i):
        builds.append(i)
        time.sleep(0.05)
        return object()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = _in_threads(lambda i: slow(spark, str(tmp_path), i % 4), 32)
    finally:
        sys.setswitchinterval(switch)
    assert sorted(builds) == [0, 1, 2, 3]
    for i, g in enumerate(got):
        assert g is got[i % 4]


def test_failed_build_reaches_every_waiter_and_is_not_memoized(
    spark, tmp_path, declare
):
    calls = []

    @declare("refusing")
    def refusing(spark, sf_dir):
        calls.append(1)
        time.sleep(0.2)
        if len(calls) == 1:
            raise ScaleRefusal("over budget", key="refusing", measured=2, budget=1)
        return "built"

    got = _in_threads(lambda i: refusing(spark, str(tmp_path)), 6)
    assert len(calls) == 1
    assert all(isinstance(g, ScaleRefusal) for g in got), got
    assert not _entries("refusing")
    # not memoized: the next call builds again (and now succeeds)
    assert refusing(spark, str(tmp_path)) == "built"
    assert len(calls) == 2


def test_child_waits_on_parent_in_flight(spark, tmp_path, declare):
    """A child whose parent is being built on another thread waits for
    that build instead of starting a second one."""
    sf = str(tmp_path)
    parent_builds = []
    started = threading.Event()

    @declare("parent")
    def parent(spark, sf_dir):
        parent_builds.append(1)
        started.set()
        time.sleep(0.3)
        return "p"

    @declare("child", parents={"test_memo.parent"})
    def child(spark, sf_dir):
        return parent(spark, sf_dir) + "c"

    t = threading.Thread(target=parent, args=(spark, sf))
    t.start()
    started.wait()
    assert child(spark, sf) == "pc"
    t.join()
    assert parent_builds == [1]


def test_independent_chains_overlap(spark, tmp_path, declare):
    """Two independent parent->child chains built from four threads:
    each artifact builds once, and the wall stays well under the
    serial sum."""
    sf = str(tmp_path)
    spans = {}

    def timed(name, dt, dep=None):
        @declare(name, parents={f"test_memo.{dep}"} if dep else ())
        def build(spark, sf_dir):
            if dep:
                accessors[dep](spark, sf_dir)
            t0 = time.perf_counter()
            time.sleep(dt)
            assert name not in spans, f"{name} built twice"
            spans[name] = (t0, time.perf_counter())
            return name

        return build

    chains = (("a", None), ("a_child", "a"), ("b", None), ("b_child", "b"))
    accessors = {name: timed(name, 0.25, dep) for name, dep in chains}
    t0 = time.perf_counter()
    got = _in_threads(lambda i: accessors[chains[i][0]](spark, sf), 4)
    wall = time.perf_counter() - t0
    assert got == [name for name, _ in chains]
    assert set(spans) == set(accessors)
    assert spans["a_child"][0] >= spans["a"][1]
    assert spans["b_child"][0] >= spans["b"][1]
    serial = sum(e - s for s, e in spans.values())
    assert wall < 0.8 * serial, (wall, serial)


def test_build_requiring_itself_raises(spark, tmp_path, declare):
    @declare("loop")
    def loop(spark, sf_dir):
        return loop(spark, sf_dir)

    with pytest.raises(RuntimeError, match="requires itself"):
        loop(spark, str(tmp_path))
    assert not _entries("loop")


# --- bench.py bucket accounting (VERDICT r10 #2) -----------------------


def _bucketize():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench

    return bench.bucketize


def test_bench_refusal_plus_genuine_failure_stays_visible():
    """The refusal-masks-failure edge (driver ADVICE r10 / bench.py):
    a key that REFUSED in run 1 but raised a GENUINE exception in
    run 2 is not cleanly refusing — it must surface in `flaky` AND the
    refusal entry must carry the real error in `also_failed`, never
    vanish between the buckets."""
    bucketize = _bucketize()
    timings, failures, refusals, flaky = bucketize(
        per_run={},
        fail_runs={"k": {1: "ValueError: boom"}},
        refusal_runs={"k": {"message": "over budget", "measured": 9}},
    )
    assert timings == {} and failures == {}
    assert "k" in refusals
    assert refusals["k"]["also_failed"] == "run1: ValueError: boom"
    assert flaky == {"k": "run1: ValueError: boom"}


def test_bench_bucket_rules_cover_the_matrix():
    """All four outcome combinations land in exactly one visible place:
    success-only -> timings; fail-only -> failures; refuse-only ->
    refusals; success+fail -> timings + flaky (no failure entry)."""
    bucketize = _bucketize()
    timings, failures, refusals, flaky = bucketize(
        per_run={"ok": [2.0, 1.0], "mixed": [3.0]},
        fail_runs={"dead": {0: "E: a", 1: "E: b"}, "mixed": {1: "E: c"}},
        refusal_runs={"guarded": {"message": "refused", "budget": 1}},
    )
    assert timings == {"ok": 1.0, "mixed": 3.0}  # min of runs
    assert failures == {"dead": "run0: E: a; run1: E: b"}
    assert refusals == {"guarded": {"message": "refused", "budget": 1}}
    assert flaky == {"mixed": "run1: E: c"}
    # a key that refused in one run and SUCCEEDED in another keeps its
    # timing and drops out of the refusal bucket (it did produce rows)
    t2, f2, r2, fl2 = bucketize(
        per_run={"k": [1.5]}, fail_runs={}, refusal_runs={"k": {"message": "m"}}
    )
    assert t2 == {"k": 1.5} and r2 == {} and f2 == {} and fl2 == {}


def test_warm_shared_artifacts_marks_refused_builds(spark, tmp_path, monkeypatch):
    """ADVICE r10: a refused artifact build must be distinguishable
    from a warmed one in the returned map — recorded under
    '<name>!refused' (float value: the real probe time) — while
    independent artifacts still warm."""
    import big_data_analysis_project_spark.registry.dedup_q as D
    from big_data_analysis_project_spark.registry import warm_shared_artifacts
    from pyspark.sql import functions as F

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        # dim 16: the PQ codebook builder splits the vector into
        # 8 subspaces, so the fixture dim must be a multiple of 8
        [(i, [float(i % 7 + d) for d in range(16)], 0) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)
    out = warm_shared_artifacts(spark, str(tmp_path))
    assert "shingle_evidence!refused" in out
    assert "shingle_evidence" not in out
    assert "ngram_pairs!refused" in out  # downstream of the refused build
    assert isinstance(out["shingle_evidence!refused"], float)
    # independent artifacts still warmed under their plain names
    for name in ("shingles", "minhash_pairs", "unit_vectors", "tb_marts"):
        assert name in out, out.keys()
    assert all(isinstance(v, float) for v in out.values())  # sum() safe


def test_bench_facade_passthrough_bucket():
    """VERDICT r11 #6 + round-12 review: EVERY timed facade's seconds
    duplicate an already-counted row — the head at passthrough scales,
    the bounded tier at guarded scales (both are registered keys the
    loop times separately) — so both belong in the bucket. Only
    facades absent from timings (the route itself dead-ended, e.g. a
    double refusal) stay out: nothing ran, nothing duplicated."""
    import bench

    timings = {"routed_a": 2.0, "routed_b": 3.0, "head_a": 2.1}
    last_route = {
        "routed_a": {"rerouted": False, "ran": "head_a"},
        "routed_b": {"rerouted": True, "ran": "head_b_lsh"},
        "routed_c": {"rerouted": False, "ran": "head_c"},  # dead-ended
    }
    assert bench.facade_passthroughs(timings, last_route) == {
        "routed_a": 2.0,
        "routed_b": 3.0,
    }


def test_bench_equivalent_rerun_config_mismatch(tmp_path, monkeypatch):
    """VERDICT r12 #4 follow-through: two artifacts with different run
    configs (heap, partitions) are non-comparable by definition — the
    rerun-dedup must NOT keep an old-config artifact just because the
    totals land within 20% noise."""
    import json as _json

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    base = {
        "value": 100.0, "rows": {"k": 1}, "sf": 0.1, "runs": 2,
        "queries": {"k": 100.0},
        "failures": {}, "refusals": {}, "flaky": {},
        "config": {"jvm_max_heap_gb": 16.0, "shuffle_partitions": "32"},
    }
    p = tmp_path / "bench_full.json"
    p.write_text(_json.dumps(base))

    same = dict(base, value=105.0)  # within 20%: equivalent rerun
    assert bench._equivalent_rerun(p, same)

    heap_moved = dict(
        same, config={"jvm_max_heap_gb": 64.0, "shuffle_partitions": "32"}
    )
    assert not bench._equivalent_rerun(p, heap_moved)

    # provenance buckets compare by CONTENT (round-13 review): a
    # shipped-tier flip or an n_probe dial change keeps the key set
    # but describes a different run
    base_q = dict(
        base,
        quality_refusals={"ann_knn_join": {"tier": "ann_knn_join"}},
        knn_probe={"n_probe": 8},
    )
    p.write_text(_json.dumps(base_q))
    assert bench._equivalent_rerun(p, dict(base_q, value=104.0))
    tier_flip = dict(
        base_q, quality_refusals={"ann_knn_join": {"tier": "ann_knn_exact"}}
    )
    assert not bench._equivalent_rerun(p, tier_flip)
    dial_moved = dict(base_q, knn_probe={"n_probe": 19})
    assert not bench._equivalent_rerun(p, dial_moved)

    # an old artifact with NO config block is likewise not equivalent
    # to a new run that records one (the block's absence is the
    # round-12 blind spot this field exists to close)
    no_cfg = {k: v for k, v in base.items() if k != "config"}
    p.write_text(_json.dumps(no_cfg))
    assert not bench._equivalent_rerun(p, same)


def test_bench_quality_bucket_rules():
    """VERDICT r11 #7: quality degradation reads uniformly with cost
    refusals — strict refusals (kind=quality payloads), routed double
    refusals (a quality hop inside a NoBoundedTier), and the
    non-strict sub-target SHIP all land in quality_refusals with an
    explicit `shipped` flag; pure cost refusals stay out."""
    import bench

    refusals = {
        "ann_knn_join": {"kind": "quality", "measured": 0.44, "budget": 0.95},
        "routed_knn": {
            "hops": [
                {"key": "ann_knn_join", "outcome": "refused",
                 "refusal": {"kind": "quality"}},
                {"key": "ann_knn_exact", "outcome": "refused",
                 "refusal": {"kind": "cost"}},
            ]
        },
        "dedup_embedding": {"measured": 2_000_000_000, "budget": 250_000_000},
    }
    qb = bench.quality_bucket(refusals, None, 0.95)
    assert set(qb) == {"ann_knn_join", "routed_knn"}
    assert all(v["shipped"] is False for v in qb.values())

    # non-strict sub-target ship: provenance-only entry, shipped=True;
    # without a tier field the shipped tier defaults to the head
    qb2 = bench.quality_bucket(
        {}, {"mode": "preflight", "strict": False, "predicted_recall": 0.61}, 0.95
    )
    assert qb2["ann_knn_join"]["shipped"] is True
    assert qb2["ann_knn_join"]["predicted_recall"] == 0.61
    assert qb2["ann_knn_join"]["tier"] == "ann_knn_join"

    # mid-scale upgrade (VERDICT r12 #3): sub-target recall but the
    # exact tier was affordable — shipped=True with tier naming the
    # exact join, note saying recall 1.0 shipped
    qb_up = bench.quality_bucket(
        {},
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61,
         "tier": "ann_knn_exact", "upgraded": True},
        0.95,
    )
    assert qb_up["ann_knn_join"]["shipped"] is True
    assert qb_up["ann_knn_join"]["tier"] == "ann_knn_exact"
    assert "exact tier" in qb_up["ann_knn_join"]["note"]

    # budget-0 override: the exact tier was NOT over budget — the note
    # must name the declined-by-override rule, not claim over-budget
    # (round-13 review)
    qb_ovr = bench.quality_bucket(
        {},
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61,
         "tier": "ann_knn_join", "exact_pairs_bound": 100, "exact_budget": 0},
        0.95,
    )
    assert qb_ovr["ann_knn_join"]["tier"] == "ann_knn_join"
    assert "override" in qb_ovr["ann_knn_join"]["note"]
    assert "over budget" not in qb_ovr["ann_knn_join"]["note"]

    # at/above target, or strict (the refusal already bucketed), or
    # fixed-k: nothing to report
    assert bench.quality_bucket({}, {"mode": "preflight", "strict": False,
                                     "predicted_recall": 0.97}, 0.95) == {}
    assert bench.quality_bucket({}, {"mode": "preflight", "strict": True,
                                     "predicted_recall": 0.61}, 0.95) == {}
    assert bench.quality_bucket({}, {"mode": "fixed_k_default"}, 0.95) == {}

    # import-failure path (VERDICT r12 #6): target=None means
    # KNN_TARGET_RECALL itself was unimportable — the sub-target-ship
    # classification is SKIPPED (no stale hard-coded bar), while
    # payload-kind quality refusals still bucket
    qb_none = bench.quality_bucket(
        refusals,
        {"mode": "preflight", "strict": False, "predicted_recall": 0.61},
        None,
    )
    assert set(qb_none) == {"ann_knn_join", "routed_knn"}
    assert all(v["shipped"] is False for v in qb_none.values())


def test_mllib_model_memoized_per_snapshot(spark):
    """r14: the MLlib interop features+model build is memoized per
    corpus snapshot (the pca_model discipline) — a second call must
    return the SAME checkpointed frame and fitted model, not rebuild."""
    from big_data_analysis_project_spark.registry.dedup_q import (
        mllib_model_cached,
    )

    from .conftest import SF_SMOKE

    feats1, model1 = mllib_model_cached(spark, SF_SMOKE)
    feats2, model2 = mllib_model_cached(spark, SF_SMOKE)
    assert feats1 is feats2 and model1 is model2
    assert "features" in feats1.columns


def test_warm_mllib_model_refuses_where_the_key_would(spark, monkeypatch):
    """The warm builder prices the corpus with the key's own guard so a
    guarded corpus never pays even the linear TF build."""
    import pytest as _pytest

    from big_data_analysis_project_spark.registry._base import ScaleRefusal
    from big_data_analysis_project_spark.registry.dedup_q import (
        warm_mllib_model,
    )

    from .conftest import SF_SMOKE

    monkeypatch.setenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", "1")
    with _pytest.raises(ScaleRefusal):
        warm_mllib_model(spark, SF_SMOKE)
