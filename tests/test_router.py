"""Scale-adaptive routing (round 10): run_routed follows the
registry-declared fallback ladder past ScaleRefusals, dead-ends
loudly where no honest bounded tier exists, and the new LSH bounded
tiers (graph_degree_lsh / graph_pagerank_lsh / dedup_keep_best_lsh)
equal their exact twins at driver scale where banding recall is 1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analysis_project_spark.errors import NoBoundedTier, ScaleRefusal
from big_data_analysis_project_spark.registry import ARTIFACTS, QUERIES
from big_data_analysis_project_spark.registry._base import KEY_FALLBACKS
from big_data_analysis_project_spark.router import RouteResult, route_plan, run_routed

SF = "/root/testdata/sf0.001"


def _tiny_corpus(spark, tmp_path):
    """Four docs sharing one triple shingle (df=3 -> pairs_bound=9):
    the same fixture the guard boundary tests use, small enough that
    every tier is instant but the df audit has something to refuse."""
    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    rows.append((9, "zeta eta theta iota kappa", "en", "t"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_route_plan_is_the_declared_ladder():
    assert route_plan("graph_triangles") == [
        "graph_triangles",
        "graph_triangles_capped",
        "graph_triangles_lsh",
    ]
    assert route_plan("dedup_ngram_jaccard") == [
        "dedup_ngram_jaccard",
        "dedup_ngram_dfcap",
    ]
    assert route_plan("dedup_incremental") == [
        "dedup_incremental",
        "dedup_incremental_dfcap",
    ]
    assert route_plan("dedup_containment") == [
        "dedup_containment",
        "dedup_containment_dfcap",
    ]


def test_fallback_declarations_resolve_and_terminate():
    """Every declared fallback is a registered key and every chain is
    acyclic (also asserted at registry import; re-checked here so a
    refactor that drops the import-time assert still fails)."""
    for k, v in KEY_FALLBACKS.items():
        assert v in QUERIES, (k, v)
        assert k != v
        chain = route_plan(k)
        assert chain[-1] not in KEY_FALLBACKS or KEY_FALLBACKS[chain[-1]] in chain


def test_no_refusal_is_a_passthrough(spark):
    r = run_routed(spark, SF, "dedup_exact")
    assert isinstance(r, RouteResult)
    assert r.key == r.requested == "dedup_exact"
    assert not r.rerouted
    assert [h.outcome for h in r.hops] == ["ran"]
    assert r.df.count() == QUERIES["dedup_exact"](spark, SF).count()


def test_reroute_lands_on_declared_tier_not_payload_alternative(
    spark, tmp_path, monkeypatch
):
    """Under a 1-pair budget the evidence build refuses with the
    ARTIFACT's alternative (dedup_minhash_lsh); the route must follow
    the KEY's declared fallback (dedup_ngram_dfcap) instead — the
    artifact answers a different question than the key that consumed
    it."""
    import big_data_analysis_project_spark.registry.dedup_q as D

    sf = _tiny_corpus(spark, tmp_path)
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)

    r = run_routed(spark, sf, "dedup_ngram_jaccard")
    assert r.rerouted and r.key == "dedup_ngram_dfcap"
    assert [h.as_dict()["outcome"] for h in r.hops] == ["refused", "ran"]
    # the artifact's own alternative rides along as information only
    assert r.hops[0].refusal["alternative"] == "dedup_minhash_lsh"
    assert r.df.columns == ["doc_a", "doc_b", "jaccard_lb"]
    direct = QUERIES["dedup_ngram_dfcap"](spark, sf)
    assert sorted(map(tuple, r.df.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_two_hop_chain_reaches_the_lsh_tier(spark, tmp_path, monkeypatch):
    """graph_triangles under a 1-pair evidence budget: the exact twin
    AND the capped tier both refuse (same refused artifact), the
    banded-minhash tier serves — the sf3skew regime in miniature."""
    import big_data_analysis_project_spark.registry.dedup_q as D

    sf = _tiny_corpus(spark, tmp_path)
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)

    r = run_routed(spark, sf, "graph_triangles")
    assert [h.key for h in r.hops] == [
        "graph_triangles",
        "graph_triangles_capped",
        "graph_triangles_lsh",
    ]
    assert [h.outcome for h in r.hops] == ["refused", "refused", "ran"]
    # the three identical docs form one triangle; LSH banding finds it
    assert r.df.collect()[0]["n_triangles"] == 1


def test_dead_end_raises_no_bounded_tier(spark, tmp_path, monkeypatch):
    """A key with NO declared bounded tier must dead-end with
    NoBoundedTier — a ScaleRefusal subclass so harness refusal buckets
    record it as designed — carrying the hop chain, never silently
    substitute the artifact's pair-list alternative. (As of round 10
    every registry refuser declares a tier, so the no-fallback case is
    exercised with an explicit empty map.)"""
    import big_data_analysis_project_spark.registry.dedup_q as D

    sf = _tiny_corpus(spark, tmp_path)
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)

    with pytest.raises(NoBoundedTier) as exc_info:
        run_routed(spark, sf, "dedup_containment", fallbacks={})
    exc = exc_info.value
    assert isinstance(exc, ScaleRefusal)
    payload = exc.payload()
    assert payload["key"] == "dedup_containment"
    assert payload["hops"][0]["refusal"]["key"] == "shingle_evidence"
    assert payload["override_env"] == "SPARK_GRAFT_EVIDENCE_PAIRS_CAP"


def test_unknown_key_raises_keyerror(spark):
    with pytest.raises(KeyError):
        run_routed(spark, SF, "no_such_key")


def test_cycle_in_custom_fallback_map_aborts(spark, tmp_path, monkeypatch):
    """A monkeypatched cyclic fallback map (the registry's own map is
    asserted acyclic at import) must abort with NoBoundedTier, not
    loop."""
    import big_data_analysis_project_spark.registry.dedup_q as D

    sf = _tiny_corpus(spark, tmp_path)
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)

    cyc = {
        "dedup_ngram_jaccard": "dedup_containment",
        "dedup_containment": "dedup_ngram_jaccard",
    }
    with pytest.raises(NoBoundedTier, match="cycle|hop limit"):
        run_routed(spark, sf, "dedup_ngram_jaccard", fallbacks=cyc)


def test_routed_registry_keys_match_exact_twins_at_driver_scale(spark):
    """The routed_* registry surfaces pass through to the exact tier
    where no guard fires, so their DuckDB oracles (the exact twins')
    hash-match at driver/oracle scale."""
    pairs = sorted(map(tuple, QUERIES["routed_neardup"](spark, SF).collect()))
    exact = sorted(
        map(tuple, QUERIES["dedup_ngram_jaccard"](spark, SF).collect())
    )
    assert pairs == exact
    tri = QUERIES["routed_triangles"](spark, SF).collect()[0]["n_triangles"]
    tri_exact = QUERIES["graph_triangles"](spark, SF).collect()[0]["n_triangles"]
    assert tri == tri_exact


def test_lsh_bounded_tiers_equal_exact_twins_at_driver_scale(spark):
    """graph_degree_lsh / graph_pagerank_lsh / dedup_keep_best_lsh —
    the round-10 bounded tiers the graph/keep-best keys route to —
    must equal their exact twins wherever banding recall is 1 (every
    driver scale; the same regime the triangles equality test pins)."""
    for lsh, exact in [
        ("graph_degree_lsh", "graph_degree"),
        ("graph_pagerank_lsh", "graph_pagerank"),
        ("dedup_keep_best_lsh", "dedup_keep_best"),
    ]:
        a = sorted(map(tuple, QUERIES[lsh](spark, SF).collect()))
        b = sorted(map(tuple, QUERIES[exact](spark, SF).collect()))
        assert a == b, lsh


def test_every_ladder_head_has_a_facade():
    """VERDICT r10 #6: the facade layer is DERIVED from KEY_FALLBACKS —
    every chain head must have a registered routed_* key (the module
    asserts this at import; re-checked here so the assert's removal
    fails the suite), and every facade must resolve in the registry."""
    from big_data_analysis_project_spark.registry.routed_q import _FACADES

    heads = set(KEY_FALLBACKS) - set(KEY_FALLBACKS.values())
    assert heads <= set(_FACADES), sorted(heads - set(_FACADES))
    for head, name in _FACADES.items():
        assert head in QUERIES, head
        assert name in QUERIES, name


def test_facade_records_route_provenance(spark, tmp_path, monkeypatch):
    """VERDICT r10 #8: a facade call must leave its RouteResult in
    LAST_ROUTE — requested key, the tier that ran, and the hop list
    with each refusal's payload — so bench artifacts can persist which
    tier produced each number."""
    import big_data_analysis_project_spark.registry.dedup_q as D
    from big_data_analysis_project_spark.registry.routed_q import LAST_ROUTE

    sf = _tiny_corpus(spark, tmp_path)
    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_EVIDENCE_PAIRS_CAP", raising=False)

    QUERIES["routed_neardup"](spark, sf).count()
    rec = LAST_ROUTE["routed_neardup"]
    assert rec["requested"] == "dedup_ngram_jaccard"
    assert rec["ran"] == "dedup_ngram_dfcap"
    assert rec["rerouted"] is True
    assert [h["outcome"] for h in rec["hops"]] == ["refused", "ran"]
    assert rec["hops"][0]["refusal"]["key"] == "shingle_evidence"

    # passthrough call overwrites with the not-rerouted record
    QUERIES["routed_triangles"](spark, SF).count()
    rec2 = LAST_ROUTE["routed_triangles"]
    assert rec2["ran"] == rec2["requested"] == "graph_triangles"
    assert rec2["rerouted"] is False


def test_factory_facades_pass_through_to_exact_twins_at_driver_scale(spark):
    """The round-11 derived facades are passthroughs where no guard
    fires (same pin as the hand-written two had): row-for-row equal to
    the head they route for."""
    for name, head in [
        ("routed_keep_best", "dedup_keep_best"),
        ("routed_degree", "graph_degree"),
        ("routed_pagerank", "graph_pagerank"),
        ("routed_wedge_audit", "graph_wedge_audit"),
    ]:
        a = sorted(map(tuple, QUERIES[name](spark, SF).collect()))
        b = sorted(map(tuple, QUERIES[head](spark, SF).collect()))
        assert a == b, name


def test_every_guarded_key_refuses_eagerly_at_invocation(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: run_routed catches ScaleRefusal around the query
    CALLABLE only, relying on the invariant that every guard fires
    eagerly (each audit is an eager aggregate inside the callable,
    never deferred to collect/count time). Enforce it registry-wide:
    under 1-unit budgets, every key that declares a fallback must
    raise DURING invocation — a guard that first surfaces at action
    time would escape the router and skip its declared tier."""
    import big_data_analysis_project_spark.registry.dedup_q as D
    import big_data_analysis_project_spark.registry.extended_q as X

    import big_data_analysis_project_spark.registry.similarity_q as SIM
    import big_data_analysis_project_spark.registry.streaming_q as S

    sf = _tiny_corpus(spark, tmp_path)
    # embeddings too: dedup_embedding's block audit needs the table;
    # one shared label -> 12*11/2 = 66 pairs, over any 1-unit budget.
    # Vectors DIVERSE (round 12): the quality-ladder head ann_knn_join
    # is now in KEY_FALLBACKS, and its 1-unit analog below (strict
    # mode + a 1-probe ceiling over a one-vector-per-cell model) needs
    # true neighbors to live OUTSIDE the probed home cell — identical
    # vectors would all share one cell and give recall 1.0 at p=1.
    spark.createDataFrame(
        [
            (i, [1.0 + 0.31 * i, 0.5 - 0.17 * i, 0.25 + 0.07 * (i % 5), 0.125 * (i + 1)], 0)
            for i in range(12)
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    # and events: the stream-join replay guards need the table; one
    # user with 2 clicks x 1 purchase -> pairs_bound 2, over budget 1
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:10:00", 7, "click", 1.0, "{}"),
            (3, "2024-01-01 10:20:00", 7, "purchase", 9.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    monkeypatch.setattr(D, "EVIDENCE_PAIRS_BUDGET", 1)
    monkeypatch.setattr(D, "EMB_PAIRS_BUDGET", 1)
    monkeypatch.setattr(X, "TRIANGLE_WEDGE_BUDGET", 1)
    monkeypatch.setattr(S, "STREAM_PAIRS_BUDGET", 1)
    # the quality ladder's 1-unit analog: strict mode + a 1-probe
    # ceiling over a one-vector-per-cell quantizer — the recall bar
    # is unreachable by construction, so the pre-flight must refuse
    # at invocation exactly like a pairs-budget guard
    monkeypatch.setenv(SIM.KNN_STRICT_ENV, "1")
    monkeypatch.setattr(SIM, "N_CENTROIDS", 2)
    monkeypatch.setattr(SIM, "BATCH_CELL_TARGET", 1)
    monkeypatch.setattr(SIM, "KNN_PROBE", 1)
    monkeypatch.setattr(SIM, "KNN_PROBE_MAX", 1)
    ARTIFACTS["knn_probe"].clear()
    for env in (
        "SPARK_GRAFT_EVIDENCE_PAIRS_CAP",
        "SPARK_GRAFT_EMB_PAIRS_CAP",
        "SPARK_GRAFT_MLLIB_PAIRS_CAP",
        "SPARK_GRAFT_INCREMENTAL_PAIRS_CAP",
        "SPARK_GRAFT_STREAM_PAIRS_CAP",
        "SPARK_GRAFT_KNN_PROBE",
    ):
        monkeypatch.delenv(env, raising=False)

    for key in sorted(KEY_FALLBACKS):
        with pytest.raises(ScaleRefusal):
            # the invocation itself must raise; if this returns a
            # DataFrame the guard went lazy and the router would miss it
            QUERIES[key](spark, sf)


def test_stream_join_guard_routes_to_batch_twin(spark, tmp_path, monkeypatch):
    """The round-11 stream-join replay guard end-to-end: under a tiny
    budget the stream demo refuses with the structured payload and the
    route lands on the BATCH twin; for the inner join the tier is
    row-identical by contract, so the routed rows must equal the batch
    key's exactly."""
    import big_data_analysis_project_spark.registry.streaming_q as S

    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:10:00", 7, "click", 1.0, "{}"),
            (3, "2024-01-01 10:20:00", 7, "purchase", 9.0, "{}"),
            (4, "2024-01-02 08:00:00", 8, "click", 1.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    monkeypatch.setattr(S, "STREAM_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PAIRS_CAP", raising=False)
    ARTIFACTS["stream_pair_profile"].clear()

    r = run_routed(spark, sf, "stream_pair_join")
    assert r.rerouted and r.key == "events_attribution"
    pay = r.hops[0].refusal
    assert pay["key"] == "stream_pair_join"
    assert pay["measured"] == 2  # 2 clicks x 1 purchase for user 7
    assert pay["budget"] == 1
    assert pay["alternative"] == "events_attribution"
    assert pay["override_env"] == "SPARK_GRAFT_STREAM_PAIRS_CAP"
    batch = QUERIES["events_attribution"](spark, sf)
    assert sorted(map(tuple, r.df.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # both in-window pairs for user 7, none for the purchase-less user
    assert r.df.count() == 2

    r2 = run_routed(spark, sf, "stream_outer_join")
    assert r2.rerouted and r2.key == "events_attribution_outer"
    outer = sorted(map(tuple, r2.df.collect()))
    # matched rows = the inner join; plus user 8's null-extended click
    assert len(outer) == 3
    assert sum(1 for row in outer if row[1] is None) == 1

    # under the real budget the profile is tiny and the stream runs
    monkeypatch.setattr(S, "STREAM_PAIRS_BUDGET", 250_000_000)
    r3 = run_routed(spark, sf, "stream_pair_join")
    assert not r3.rerouted
    assert sorted(map(tuple, r3.df.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_backfill_tail_routes_to_batch_twin(spark, tmp_path, monkeypatch):
    """VERDICT r12 #2 done-condition: stream_backfill_tail's
    tail-over-budget refusal WALKS — under a 1-unit
    SPARK_GRAFT_STREAM_PAIRS_CAP the composed key refuses (even the
    6h tail's state cross is over budget) and run_routed lands on the
    declared batch twin, whose rows are IDENTICAL by the key's own
    equivalence contract; the routed_backfill_tail facade records the
    same route, and because the fallback registers the SAME oracle
    SQL as the head, resolve_oracle's reroute swap is a no-op — the
    one facade that stays hash-comparable on every corpus."""
    from big_data_analysis_project_spark.registry import ORACLE
    from big_data_analysis_project_spark.registry.routed_q import LAST_ROUTE
    from tests.oracle_harness import resolve_oracle

    # the attribution cluster sits INSIDE the final 6 hours (split =
    # max_ts - 6h = 04:20): the tail guard prices the user-7 state
    # cross (2 clicks x 1 purchase = 2 pairs) and must refuse at cap 1
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:10:00", 7, "click", 1.0, "{}"),
            (3, "2024-01-01 10:20:00", 7, "purchase", 9.0, "{}"),
            (4, "2024-01-01 09:00:00", 8, "click", 1.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PAIRS_CAP", "1")

    try:
        assert route_plan("stream_backfill_tail") == [
            "stream_backfill_tail", "events_attribution",
        ]
        r = run_routed(spark, sf, "stream_backfill_tail")
        assert r.rerouted and r.key == "events_attribution"
        pay = r.hops[0].refusal
        assert pay["key"] == "stream_backfill_tail"
        assert pay["budget"] == 1
        assert pay["alternative"] == "events_attribution"
        assert pay["override_env"] == "SPARK_GRAFT_STREAM_PAIRS_CAP"
        batch = QUERIES["events_attribution"](spark, sf)
        assert sorted(map(tuple, r.df.collect())) == sorted(
            map(tuple, batch.collect())
        )

        # the facade takes the same walk and records provenance
        fdf = QUERIES["routed_backfill_tail"](spark, sf)
        rec = LAST_ROUTE["routed_backfill_tail"]
        assert rec["rerouted"] and rec["ran"] == "events_attribution"
        assert sorted(map(tuple, fdf.collect())) == sorted(
            map(tuple, batch.collect())
        )
        # oracle-equal fallback: the reroute swap resolves to the SAME
        # SQL, so the facade comparison stays valid at guarded scale
        sql, note = resolve_oracle(
            "routed_backfill_tail", ORACLE["routed_backfill_tail"]
        )
        assert sql == ORACLE["routed_backfill_tail"]
        assert note and "events_attribution" in note

        # under the real budget the composition itself runs
        monkeypatch.delenv("SPARK_GRAFT_STREAM_PAIRS_CAP")
        r2 = run_routed(spark, sf, "stream_backfill_tail")
        assert not r2.rerouted
        assert sorted(map(tuple, r2.df.collect())) == sorted(
            map(tuple, batch.collect())
        )
    finally:
        LAST_ROUTE.pop("routed_backfill_tail", None)


def _quality_refusal():
    """The refusal select_knn_probes raises in strict mode when the
    probe ceiling cannot reach the recall bar — constructed here so
    the ladder tests exercise the ROUTE (head refuses -> exact tier)
    without re-measuring the recall curve the strict-mode test in
    test_recall.py already pins."""
    return ScaleRefusal(
        "knn_probe: sample recall at the probe cost ceiling is below "
        "the required bar (fixture)",
        key="knn_probe",
        measured=0.44,
        budget=0.95,
        alternative="ann_knn_exact",
        override_env="SPARK_GRAFT_KNN_PROBE",
        extra={"kind": "quality", "target_recall": 0.95},
    )


def test_knn_quality_ladder_routes_to_exact(spark, monkeypatch):
    """VERDICT r11 #1 — the quality ladder walks like the cost
    ladders: a strict-mode probe pre-flight refusal inside
    ann_knn_join routes to ann_knn_exact (affordable at driver scale),
    and the routed rows ARE the exact join's rows (recall 1.0 by
    construction, fixed-point-identical)."""
    import big_data_analysis_project_spark.registry.similarity_q as SIM

    def raising_probe(spark_, sf_dir_):
        raise _quality_refusal()

    monkeypatch.setattr(SIM, "knn_probe_provenance", raising_probe)
    monkeypatch.delenv("SPARK_GRAFT_KNN_EXACT_CAP", raising=False)

    assert route_plan("ann_knn_join") == ["ann_knn_join", "ann_knn_exact"]
    r = run_routed(spark, SF, "ann_knn_join")
    assert r.rerouted and r.key == "ann_knn_exact"
    pay = r.hops[0].refusal
    assert pay["kind"] == "quality"
    assert pay["alternative"] == "ann_knn_exact"
    assert pay["measured"] == 0.44 and pay["budget"] == 0.95
    exact = QUERIES["ann_knn_exact"](spark, SF)
    assert sorted(map(tuple, r.df.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_knn_double_refusal_carries_both_payloads(spark, monkeypatch):
    """The honest double refusal: quality bar unreachable AND the
    exact tier over its cost budget -> NoBoundedTier whose hop list
    carries BOTH structured payloads (the quality refusal first, the
    n*(n-1) cost refusal second), so an artifact reader sees every
    tier that was tried and why each said no."""
    import big_data_analysis_project_spark.registry.similarity_q as SIM

    def raising_probe(spark_, sf_dir_):
        raise _quality_refusal()

    monkeypatch.setattr(SIM, "knn_probe_provenance", raising_probe)
    monkeypatch.setattr(SIM, "KNN_EXACT_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_KNN_EXACT_CAP", raising=False)

    with pytest.raises(NoBoundedTier) as exc_info:
        run_routed(spark, SF, "ann_knn_join")
    pay = exc_info.value.payload()
    hops = pay["hops"]
    assert [h["key"] for h in hops] == ["ann_knn_join", "ann_knn_exact"]
    assert hops[0]["refusal"]["kind"] == "quality"
    assert hops[0]["refusal"]["budget"] == 0.95
    assert hops[1]["refusal"]["kind"] == "cost"
    assert hops[1]["refusal"]["measured"] == 500 * 499  # sf0.001 corpus
    assert hops[1]["refusal"]["budget"] == 1
    assert hops[1]["refusal"]["alternative"] == "ann_knn_join"


def test_knn_exact_guard_env_and_payload(spark, monkeypatch):
    """ann_knn_exact's own probe-and-refuse: over budget it refuses
    with the full structured payload; SPARK_GRAFT_KNN_EXACT_CAP=0 is
    the deliberate unlimited override."""
    import big_data_analysis_project_spark.registry.similarity_q as SIM

    monkeypatch.setattr(SIM, "KNN_EXACT_PAIRS_BUDGET", 1)
    monkeypatch.delenv("SPARK_GRAFT_KNN_EXACT_CAP", raising=False)
    with pytest.raises(ScaleRefusal) as exc_info:
        QUERIES["ann_knn_exact"](spark, SF)
    pay = exc_info.value.payload()
    assert pay["key"] == "ann_knn_exact"
    assert pay["kind"] == "cost"
    assert pay["measured"] == 500 * 499 and pay["budget"] == 1
    assert pay["alternative"] == "ann_knn_join"
    assert pay["override_env"] == "SPARK_GRAFT_KNN_EXACT_CAP"
    assert pay["n_vectors"] == 500

    monkeypatch.setenv("SPARK_GRAFT_KNN_EXACT_CAP", "0")
    df = QUERIES["ann_knn_exact"](spark, SF)
    # structural contract shared with ann_knn_join: one row per
    # (query, rank), dense ranks 1..k, no self pairs
    rows = df.collect()
    assert len(rows) == 500 * 5
    assert all(r.query_id != r.neighbor_id for r in rows)
