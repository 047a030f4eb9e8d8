"""Registry-side artifact-dependency declarations (VERDICT r9 #6):
every @q registration declares the session-memoized shared artifacts
its query lazily consumes (`artifacts={...}`), and
``registry.key_artifact_deps`` closes the set over the build-order
parents. tools/scale_probe.py derives its --skip-warm drop list from
these declarations, so an UNDER-declaration would let a probe lazily
trigger a skipped (possibly quadratic-by-contract) build inside a
timed run — the failure class the old hand-maintained map only
warned about. This test makes under-declaration a suite failure: it
AST-derives, for each registered key, the cached-artifact accessors
actually reachable from the key's function (transitively through
module-level helpers), and asserts the declared closure covers the
derived closure, and that each ``@artifact``'s declared parents cover
the accessors its own build reaches. No Spark session needed — pure
source analysis (except the warm-phase test at the end)."""

from __future__ import annotations

import ast
from pathlib import Path

from big_data_analysis_project_spark.registry import ARTIFACTS

REG_DIR = (
    Path(__file__).resolve().parents[1]
    / "big_data_analysis_project_spark"
    / "registry"
)

# accessor function -> warmable artifact name (the names
# warm_shared_artifacts builds), from the @artifact records; the
# profile and pre-flight memos are followed as helpers instead
ACCESSORS = {a.accessor.__name__: a.name for a in ARTIFACTS.values() if a.warm}

# the hand-written ARTIFACT_PARENTS literal the @artifact declarations
# replaced, pinned as the reference graph
REFERENCE_PARENTS = {
    "shingle_evidence": frozenset({"shingles"}),
    "capped_evidence": frozenset({"shingles"}),
    "ngram_pairs": frozenset({"shingle_evidence", "shingles"}),
    "minhash_pairs": frozenset({"shingles"}),
    "mllib_model": frozenset({"shingles"}),
    "ivf_model": frozenset({"unit_vectors"}),
    "query_vec": frozenset({"unit_vectors"}),
    "batch_model": frozenset({"unit_vectors", "ivf_model"}),
    "pq_codebooks": frozenset({"unit_vectors", "ivf_model"}),
    "knn_probe": frozenset({"unit_vectors", "ivf_model", "batch_model"}),
}


def _closure(arts, parents):
    out: set[str] = set()
    frontier = list(arts)
    while frontier:
        a = frontier.pop()
        if a in out:
            continue
        out.add(a)
        frontier.extend(parents.get(a, ()))
    return out


def _call_graph():
    """(function name -> names it calls, key -> its function name)
    over every registry module."""
    fn_calls: dict[str, set[str]] = {}
    key_fn: dict[str, str] = {}
    for mod in REG_DIR.glob("*.py"):
        if mod.name.startswith("_"):
            continue
        tree = ast.parse(mod.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            calls = set()
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    name = getattr(sub.func, "id", None) or getattr(
                        sub.func, "attr", None
                    )
                    if name:
                        calls.add(name)
            fn_calls.setdefault(node.name, set()).update(calls)
            for dec in node.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "q"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    key_fn[dec.args[0].value] = node.name
    return fn_calls, key_fn


def _reachable(fn_calls, fname: str, seen: set[str]) -> set[str]:
    """Accessor-artifacts reachable from ``fname``'s body, following
    helper calls by name across registry modules (names are
    module-unique; an accessor call terminates recursion — its own
    deps are the parent closure's job)."""
    if fname in seen:
        return set()
    seen.add(fname)
    out: set[str] = set()
    for c in fn_calls.get(fname, ()):
        if c in ACCESSORS:
            out.add(ACCESSORS[c])
        elif c in fn_calls and c != fname:
            out |= _reachable(fn_calls, c, seen)
    return out


def _derive_key_artifacts():
    """key -> set of accessor-artifacts reachable from its function."""
    fn_calls, key_fn = _call_graph()
    return {k: _reachable(fn_calls, f, set()) for k, f in key_fn.items()}


def test_declared_artifacts_cover_actual_consumption():
    from big_data_analysis_project_spark.registry import (
        ARTIFACT_PARENTS,
        KEY_ARTIFACTS,
        QUERIES,
        key_artifact_deps,
    )

    derived = _derive_key_artifacts()
    # every registry key is mapped (the @q decorator records even the
    # empty default) — the unmapped-key warning class is closed
    assert set(QUERIES) <= set(KEY_ARTIFACTS)

    missing = {}
    for key in QUERIES:
        want = _closure(derived.get(key, set()), ARTIFACT_PARENTS)
        have = set(key_artifact_deps(key))
        if not want <= have:
            missing[key] = sorted(want - have)
    assert not missing, (
        f"under-declared @q artifacts (code reaches an accessor the "
        f"registration omits): {missing}"
    )


def test_declared_artifacts_are_known_names():
    """Over-declaration guard: a typo'd artifact name would silently
    never match a --skip-warm set. Every declared name must be one
    warm_shared_artifacts can build (= an ACCESSORS value)."""
    from big_data_analysis_project_spark.registry import (
        ARTIFACT_PARENTS,
        KEY_ARTIFACTS,
    )

    known = set(ACCESSORS.values())
    for key, arts in KEY_ARTIFACTS.items():
        unknown = set(arts) - known
        assert not unknown, f"{key} declares unknown artifact(s) {unknown}"
    for art, parents in ARTIFACT_PARENTS.items():
        assert art in known, art
        assert set(parents) <= known, (art, parents)


def test_artifact_parents_equal_reference_graph():
    """The declared parents reproduce the hand-kept graph they replaced."""
    from big_data_analysis_project_spark.registry import ARTIFACT_PARENTS

    assert ARTIFACT_PARENTS == REFERENCE_PARENTS


def test_artifact_parents_cover_build_consumption():
    """Each artifact's declared parents (closed transitively) must
    cover the warmable accessors its build and its warm action reach —
    an undeclared parent would let a --skip-warm probe trigger the
    skipped build, and would put the artifact ahead of its parent in
    the sequential warm order."""
    fn_calls, _ = _call_graph()
    parents = {a.name: a.parents for a in ARTIFACTS.values()}
    missing = {}
    for art in ARTIFACTS.values():
        fns = [art.accessor.__name__]
        if callable(art.warm):
            fns.append(art.warm.__name__)
        reached = set().union(*(_reachable(fn_calls, f, set()) for f in fns))
        reached.discard(art.name)
        have = _closure(art.parents, parents)
        if not reached <= have:
            missing[art.name] = sorted(reached - have)
    assert not missing, f"under-declared @artifact parents: {missing}"


def test_closure_is_transitive():
    from big_data_analysis_project_spark.registry import key_artifact_deps

    deps = key_artifact_deps("dedup_ngram_jaccard")
    # ngram_pairs is built from shingle_evidence, built from shingles
    assert {"ngram_pairs", "shingle_evidence", "shingles"} <= set(deps)
    # a key with no declarations closes to the empty set
    assert key_artifact_deps("dedup_exact") == frozenset()


def test_warm_scheduler_respects_parents_and_overlaps(
    spark, tmp_path, monkeypatch
):
    """warm_shared_artifacts runs every registered warm action on its
    own thread with no scheduler: a child's build reaches its parent's
    accessor and waits on the parent's running build. Each artifact's
    build is stubbed (calls its parents' accessors, sleeps, records its
    span); the parallel run must build every artifact once, start each
    child after its parents end, overlap the independent chains, and
    report per-artifact seconds without the time spent blocked on
    another thread's build. ``sequential`` runs declaration order."""
    import time

    import big_data_analysis_project_spark.registry as R

    spans: dict[str, tuple[float, float]] = {}

    def fake(art):
        def build(spark, *args):
            for parent in art.parents:
                ARTIFACTS[parent].accessor(spark, args[0])
            t0 = time.perf_counter()
            time.sleep(0.3)
            assert art.name not in spans, f"{art.name} built twice"
            spans[art.name] = (t0, time.perf_counter())
            return art.name

        return build

    warmable = [a for a in ARTIFACTS.values() if a.warm]
    for art in warmable:
        monkeypatch.setattr(art, "build", fake(art))
        monkeypatch.setattr(art, "warm", True)
    # the TB marts are application-scoped: stubbing them would leave the
    # stub in the session's memo, so this run leaves them cold
    skip = frozenset({"tb_marts"})
    names = [a.name for a in warmable if a.name not in skip]
    assert len(names) == 14

    t0 = time.perf_counter()
    out = R.warm_shared_artifacts(spark, str(tmp_path / "par"), skip=skip)
    wall = time.perf_counter() - t0

    assert set(spans) == set(out) == set(names)
    for child in names:
        for parent in ARTIFACTS[child].parents:
            assert spans[child][0] >= spans[parent][1], (
                f"{child} started before parent {parent} finished"
            )
    serial = sum(e - s for s, e in spans.values())
    assert wall < 0.8 * serial, (wall, serial)
    # blocked time is not charged: each build is counted once, by the
    # thread that ran it, where charging the waits would count every
    # thread up to the end of its own artifact's build
    charged_waits = sum(spans[n][1] - t0 for n in names)
    assert sum(out.values()) < (serial + charged_waits) / 2, (out, serial)

    spans.clear()
    R.warm_shared_artifacts(spark, str(tmp_path / "seq"), skip=skip, sequential=True)
    assert sorted(spans, key=lambda n: spans[n][0]) == names
