"""Measure how the headline scale keys actually scale: run each at the
base sf dir (default /root/testdata/sf0.1) and at the generated
10x-equivalent (scale_data/sf1, from tools/gen_scale.py), report
steady-state times (min of N reps) and the empirical scaling exponent

    alpha = log(t_big / t_base) / log(replicas)

(alpha = 1 is perfectly linear; < 1 means fixed overhead still
dominates at the bigger scale; > 1 names a super-linear cause to
explain). Shared memoized artifacts are built in their own timed phase
PER sf dir — artifact build time is itself part of the scaling story
(the shingle/LSH/normalize index builds are the dominant corpus-linear
work), so it is reported as its own row family rather than smeared
into whichever key runs first.

Also times `connected_components` with ``driver_edge_limit=0`` on the
big dir's exact edge set — the distributed min-label path — next to
the default union-find, measuring the crossover the 2M-edge gate
encodes instead of asserting it.

Writes bench_scale_raw.json (gitignored); BENCH_SCALE.md is authored
from it. Never run concurrently with bench.py (two local[32] JVMs
starve each other).

Usage: python tools/scale_probe.py [--reps 2] [--keys k1,k2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# headline scale keys: the dedup/ANN/packing/window/TPC-H shapes whose
# 100 TB claims VERDICT r5 #1 asked to convert into measurements
DEFAULT_KEYS = [
    "dedup_exact",
    "dedup_containment",
    "dedup_ngram_dfcap",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_clusters_lsh",
    "dedup_semantic",
    "ann_cosine_topk",
    "ann_ivf",
    "ann_knn_join",
    "pack_chunks",
    "corpus_assemble",
    "window_rank",
    "join_salted",
    "text_tokens",
    "text_contamination",
    "embed_gram",
    "sql_tpch_q1",
    "sql_tpch_q5",
    "sql_tpch_q18",
    # streaming family (VERDICT r6 #8): availableNow micro-batch runs
    # over the staged table files — counted like any batch key
    "stream_sessionize",
    "stream_hourly",
    "stream_dedup",
]


# Lazy cached-artifact dependencies per registry key: DERIVED from the
# registry itself (VERDICT r9 #6) — each key declares its direct
# artifact set at its @q registration (`artifacts={...}`), and
# registry.key_artifact_deps() closes it over the between-artifact
# build-order map (ngram_pairs -> shingle_evidence -> shingles, ...).
# This file previously hand-maintained a parallel copy of the map;
# the registry-side declaration eliminates the drift class — every
# registered key is mapped (default: consumes nothing), so the old
# unmapped-key warning is unreachable for registry keys and only
# fires for ad-hoc callables a probe might inject.


def filter_keys_for_skip(keys: list, skip: set) -> list:
    """Drop keys whose lazy cached-artifact deps (declared at the @q
    registration, transitively closed by registry.key_artifact_deps)
    intersect the skip-warm set, warning loudly per drop — running
    them would trigger the skipped build inside the timed run anyway.

    Keys ABSENT from the registry map are kept but warned about: a
    key that consumes shingle_evidence without declaring it would
    silently trigger the uncapped quadratic build inside a timed
    --skip-warm run — the exact failure the declarations exist to
    prevent. tests/test_artifact_deps.py cross-checks every declared
    set against the accessor calls actually reachable from the key's
    code, so an undeclared consumption fails the suite before it can
    mis-time a probe."""
    from big_data_analysis_project_spark.registry import (
        KEY_ARTIFACTS,
        key_artifact_deps,
    )

    kept = []
    for k in keys:
        if skip and k not in KEY_ARTIFACTS:
            print(
                f"[probe] WARNING: {k} has no @q artifacts declaration "
                "— assuming it consumes NO skippable artifacts; if it "
                "lazily builds one, this --skip-warm run will pay the "
                "cold build inside its timing. Declare "
                "artifacts={...} at the key's @q registration.",
                file=sys.stderr,
            )
        hit = set(key_artifact_deps(k)) & skip
        if hit:
            print(
                f"[probe] DROPPING {k}: consumes skipped artifact(s) "
                f"{sorted(hit)} — it would lazily trigger the build "
                "skip-warm left cold (drop --skip-warm to run it)",
                file=sys.stderr,
            )
        else:
            kept.append(k)
    return kept


def time_min(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default=str(REPO / "scale_data/sf1"))
    ap.add_argument("--replicas", type=float, default=10.0)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--keys", default=",".join(DEFAULT_KEYS))
    ap.add_argument("--out", default=str(REPO / "bench_scale_raw.json"))
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override spark.sql.shuffle.partitions for BOTH sides "
        "(recorded in the artifact's config block). Partition count "
        "should scale with the corpus — the fixed-32 default that "
        "matches the registry artifacts exhausts per-task execution "
        "memory on 10+ GB corpora (the sf100skew shared minhash build "
        "OOM'd at 32; 128 gives each task a 4x smaller working set, "
        "exactly what a real cluster does by running thousands of "
        "partitions at 100 TB)",
    )
    ap.add_argument(
        "--skip-warm",
        default="",
        help="comma-separated shared-artifact names to leave cold "
        "(e.g. shingle_evidence,ngram_pairs when probing only capped "
        "tiers on a hot-family corpus where the uncapped exact "
        "evidence build is quadratic by contract)",
    )
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]
    skip_set = {s for s in args.skip_warm.split(",") if s}
    if skip_set:
        keys = filter_keys_for_skip(keys, skip_set)

    import __spark_entry__ as E
    from big_data_analysis_project_spark.errors import ScaleRefusal
    from big_data_analysis_project_spark.operators.graphs import connected_components
    from big_data_analysis_project_spark.registry import warm_shared_artifacts
    from big_data_analysis_project_spark.session import get_spark, run_config
    from big_data_analysis_project_spark.registry.dedup_q import ngram_pairs_cached

    # default to the REGISTRY heap, not Spark's (VERDICT r12 #4): the
    # whole-registry scale benches run at SPARK_GRAFT_DRIVER_MEM=64g,
    # and the round-12 sf30skew probe on the bare 16g default
    # GC-starved the dfcap/simhash family into an overstated α (1.48
    # vs the heap-matched 0.76). A bare probe invocation must be
    # comparable with the registry artifacts by default; export
    # SPARK_GRAFT_DRIVER_MEM explicitly for a deliberate smaller heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")

    spark = get_spark(
        app_name="scale-probe",
        master="local[32]",
        shuffle_partitions=args.shuffle_partitions,
    )
    Q = E.queries()
    print(f"[probe] loadavg={os.getloadavg()}", file=sys.stderr)

    result: dict = {"base": args.base, "big": args.big, "replicas": args.replicas,
                    "reps": args.reps, "shared": {}, "keys": {}, "rows": {},
                    "extra": {}}
    try:
        result["config"] = run_config(spark)
        print(f"[probe] config: {result['config']}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 — metadata, never fatal
        print(f"[probe] config capture failed: {exc}", file=sys.stderr)

    from big_data_analysis_project_spark.registry._memo import release_snapshot

    for tag, sf_dir in (("base", args.base), ("big", args.big)):
        if tag == "big":
            # unpin the base corpus's memoized localCheckpoint frames
            # before the big side's shared builds start: checkpoint
            # blocks are NOT evictable, and at sf30skew-base +
            # sf100skew-big the cross-side dead weight exhausted a
            # 64 g pool mid-build. Each side's keys only ever consume
            # their own side's artifacts, so this cannot distort α.
            n_dropped = release_snapshot(args.base)
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001 — nudge the ContextCleaner
            print(f"[probe] released {n_dropped} base-side memoized artifacts",
                  file=sys.stderr)
        spark.read.parquet(str(Path(sf_dir) / "lineitem.parquet")).count()  # warm
        t0 = time.perf_counter()
        # sequential: a probe's per-artifact seconds feed the α tables
        # in BENCH_SCALE.md as MARGINAL build costs given predecessors;
        # the bench's concurrent warm (guide §2.6) would turn them into
        # contended overlapped times and break that attribution
        shared = warm_shared_artifacts(
            spark, sf_dir, skip=frozenset(skip_set), sequential=True
        )
        shared["_total_first_build"] = round(time.perf_counter() - t0, 3)
        result["shared"][tag] = shared
        print(f"[probe] {tag} shared: {shared}", file=sys.stderr)
        for key in keys:
            try:
                n_holder = {}

                def run():
                    n_holder["n"] = Q[key](spark, sf_dir).count()

                t = time_min(run, args.reps)
                result["keys"].setdefault(key, {})[tag] = t
                result["rows"].setdefault(key, {})[tag] = n_holder["n"]
                print(f"[probe] {tag} {key}: {t}s rows={n_holder['n']}",
                      file=sys.stderr)
            except Exception as exc:  # noqa: BLE001
                result["keys"].setdefault(key, {})[tag] = f"ERR {exc}"[:200]
                print(f"[probe] {tag} {key}: FAILED {exc}", file=sys.stderr)

        # the kNN-join linearity lever, measured: same corpus, same
        # probe count, but a CONSTANT-CELL-POPULATION model (cells
        # grown with the corpus) — per-query candidates stay ~c*probes,
        # so the batch join should track linear where the fixed-k
        # registry key tracks quadratic
        from big_data_analysis_project_spark.registry.similarity_q import (
            N_CENTROIDS,
            knn_join_blocked,
            train_ivf_centroids,
            unit_vectors_cached,
        )

        unit = unit_vectors_cached(spark, sf_dir)
        n_vec = unit.count()
        k_const = max(N_CENTROIDS, round(N_CENTROIDS * n_vec / 2000))  # c = 125
        cents = train_ivf_centroids(unit, k=k_const)
        t_lever = time_min(
            lambda: knn_join_blocked(unit, cents).count(), args.reps
        )
        result["extra"].setdefault(tag, {})["knn_const_cell"] = {
            "n_vec": n_vec,
            "cells": k_const,
            "sec": t_lever,
        }
        print(f"[probe] {tag} knn const-cell k={k_const}: {t_lever}s",
              file=sys.stderr)

        # distributed CC vs the gated default on the SAME edge set —
        # skipped when the evidence family is deliberately left cold
        # (the edge list IS the uncapped quadratic artifact) or when
        # its guard refuses on this corpus (round 10: the warm phase
        # survives refusals now, so a probe of the bounded tiers on a
        # refusing corpus must not die on the one extra that consumes
        # the exact lineage)
        if {"shingles", "shingle_evidence", "ngram_pairs"} & skip_set:
            continue
        try:
            edges = ngram_pairs_cached(spark, sf_dir)
        except ScaleRefusal as exc:
            print(f"[probe] {tag} cc extra skipped: {exc}", file=sys.stderr)
            result["extra"].setdefault(tag, {})["cc_skipped_refusal"] = str(exc)[:200]
            continue
        n_edges = edges.count()
        t_dist = time_min(
            lambda: connected_components(
                edges, src="doc_a", dst="doc_b", driver_edge_limit=0
            ).count(),
            args.reps,
        )
        t_uf = time_min(
            lambda: connected_components(edges, src="doc_a", dst="doc_b").count(),
            args.reps,
        )
        result["extra"].setdefault(tag, {}).update(
            {
                "n_exact_edges": n_edges,
                "cc_distributed": t_dist,
                "cc_union_find": t_uf,
            }
        )
        print(f"[probe] {tag} edges={n_edges} cc_dist={t_dist}s cc_uf={t_uf}s",
              file=sys.stderr)

    import math

    for key, t in result["keys"].items():
        if isinstance(t.get("base"), float) and isinstance(t.get("big"), float):
            if t["base"] > 0:
                t["ratio"] = round(t["big"] / t["base"], 2)
                t["alpha"] = round(
                    math.log(max(t["big"], 1e-3) / max(t["base"], 1e-3))
                    / math.log(args.replicas),
                    2,
                )

    out = Path(args.out)
    out.write_text(json.dumps(result, indent=1, sort_keys=True) + "\n")
    print(json.dumps({k: v for k, v in result["keys"].items()}, sort_keys=True))
    print(f"[probe] raw -> {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
