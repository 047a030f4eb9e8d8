"""Recall / equivalence tests for the registry keys with no DuckDB
oracle (VERDICT r1 #2): the approximate families are checked against
their exact in-repo twins, and the streaming key against its batch
twin.

These are the tests the r1 docstrings promised:
* dedup_minhash_lsh  vs dedup_ngram_jaccard  (pair recall + precision)
* dedup_simhash      vs brute-force hamming  (exact candidate set)
* ann_lsh_bucketed   vs ann_cosine_topk      (recall@10 + quality ratio)
* stream_hourly      vs window_tumbling      (row-for-row equality)
"""

from __future__ import annotations

import pytest

from big_data_analysis_project_spark.registry import ARTIFACTS, QUERIES

from .conftest import SF_CORRECT, SF_SMOKE


def test_minhash_lsh_recall_and_precision(spark):
    """LSH banding (16x4 over 64 perms) must recover ~all exact
    Jaccard>=0.5 pairs; every emitted pair is exact-verified so its
    jaccard must equal the exact computation's."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    assert exact, "exact oracle produced no pairs — test data changed?"
    # precision: candidates are exact-Jaccard-verified, so every
    # emitted pair must appear in the exact set with the same score
    for pair, jac in approx.items():
        assert pair in exact, f"minhash emitted non-duplicate pair {pair}"
        assert abs(jac - exact[pair]) < 1e-9, f"jaccard mismatch for {pair}"
    # recall: banding with 16 bands x 4 rows has its s-curve knee near
    # 0.5; at the 0.5 threshold measured recall is 1.0 on the testdata
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"


def test_lsh_clusters_refine_exact_clusters(spark):
    """dedup_clusters_lsh's components must be a refinement of
    dedup_clusters' (LSH edges are a verified subset of exact edges:
    splits allowed, wrong merges impossible), with near-total
    agreement given the measured ~1.0 banding recall."""
    exact = {
        r.doc_id: r.keep_id for r in QUERIES["dedup_clusters"](spark, SF_SMOKE).collect()
    }
    lsh = {
        r.doc_id: r.keep_id
        for r in QUERIES["dedup_clusters_lsh"](spark, SF_SMOKE).collect()
    }
    assert exact, "exact clustering empty — test data changed?"
    for doc, keep in lsh.items():
        # refinement: every LSH-clustered doc is exact-clustered, and
        # its LSH representative lives in the same exact component
        assert doc in exact, f"LSH clustered a non-duplicate doc {doc}"
        assert exact[keep] == exact[doc], f"wrong merge: {doc} -> {keep}"
    agree = sum(1 for d in exact if lsh.get(d) == exact[d]) / len(exact)
    assert agree >= 0.9, f"cluster agreement {agree:.2f} < 0.9"


def test_simhash_clusters_vs_bruteforce(spark):
    """dedup_simhash emits (doc_id, keep_id) clusters from capped
    banding + exact hamming verify + connected components. Against a
    brute-force union-find over all hamming<=3 pairs:

    * refinement — every Spark cluster must sit inside ONE brute
      component (capped candidates are a subset of all pairs, and each
      edge is hamming-verified, so no false merges are possible);
    * coverage — near-all brute-clustered docs must still be clustered
      (the star fallback keeps mega-bucket members reachable).
    """
    from big_data_analysis_project_spark.registry.dedup_q import simhash_fingerprints
    from big_data_analysis_project_spark.sources.readers import load_table

    fp = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(load_table(spark, SF_SMOKE, "documents")).collect()
    }
    ids = sorted(fp)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_brute_pairs = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(fp[a] ^ fp[b]).count("1") <= 3:
                n_brute_pairs += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    brute_component = {i: find(i) for i in ids if find(i) != i or any(
        find(j) == i for j in ids if j != i
    )}
    assert n_brute_pairs, "brute-force found no near-dup pairs — test data changed?"

    got = {r.doc_id: r.keep_id for r in QUERIES["dedup_simhash"](spark, SF_SMOKE).collect()}
    assert got, "dedup_simhash returned no clusters"
    # refinement: doc pairs sharing a Spark keep_id must share a brute root
    by_keep: dict[int, list[int]] = {}
    for doc, keep in got.items():
        by_keep.setdefault(keep, []).append(doc)
    for keep, members in by_keep.items():
        roots = {brute_component.get(m, m) for m in members}
        assert len(roots) == 1, f"cluster {keep} spans brute components {roots}"
    # coverage: brute-clustered docs that Spark also clusters
    coverage = len(set(got) & set(brute_component)) / len(brute_component)
    assert coverage >= 0.8, f"cluster coverage {coverage:.2f} < 0.8"
    # boundedness: output rows <= number of docs, never O(n^2) pairs
    assert len(got) <= len(ids)


def test_ann_lsh_recall_and_quality(spark):
    """Multi-table hyperplane LSH vs the exact cosine top-10.

    The synthetic embeddings are near-random (best cosine ~0.3-0.47,
    i.e. ~72 deg angles), which is the WORST case for hyperplane LSH —
    collision probability per bit is only ~0.6. Set-recall is
    therefore inherently modest; the stable metric is the standard ANN
    quality ratio mean(lsh top-k cosine) / mean(exact top-k cosine),
    measured ~0.81-0.84 on sf0.001/sf0.01."""
    exact = [(r.vec_id, r.cosine) for r in QUERIES["ann_cosine_topk"](spark, SF_SMOKE).collect()]
    approx = [(r.vec_id, r.cosine) for r in QUERIES["ann_lsh_bucketed"](spark, SF_SMOKE).collect()]
    assert len(exact) == 10 and len(approx) == 10
    overlap = len({v for v, _ in exact} & {v for v, _ in approx})
    assert overlap >= 2, f"ANN recall@10 {overlap}/10 < 2"
    ratio = (sum(c for _, c in approx) / 10) / (sum(c for _, c in exact) / 10)
    assert ratio >= 0.7, f"ANN quality ratio {ratio:.3f} < 0.7"
    # every LSH cosine must be a genuine cosine of a real corpus
    # vector, so none can exceed the exact best
    assert max(c for _, c in approx) <= max(c for _, c in exact) + 1e-9


def test_ann_ivf_recall(spark):
    """IVF (spherical k-means, nprobe=4/16 cells) vs the exact cosine
    top-10. Unlike hyperplane LSH, the coarse quantizer adapts to the
    data's cluster structure, so even on the near-random synthetic
    embeddings recall@10 is high (measured 0.9 at sf0.001, 1.0 at
    sf0.1). Asserted at 0.7 to leave headroom for Lloyd-average float
    jitter across partitionings."""
    exact = [(r.vec_id, r.cosine) for r in QUERIES["ann_cosine_topk"](spark, SF_SMOKE).collect()]
    approx = [(r.vec_id, r.cosine) for r in QUERIES["ann_ivf"](spark, SF_SMOKE).collect()]
    assert len(exact) == 10 and len(approx) == 10
    overlap = len({v for v, _ in exact} & {v for v, _ in approx})
    assert overlap >= 7, f"IVF recall@10 {overlap}/10 < 7"
    # probed-cell cosines are genuine cosines of real corpus vectors
    assert max(c for _, c in approx) <= max(c for _, c in exact) + 1e-9


def test_ann_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The IVF docstring's scale claim, proven: persist the cell
    assignments partitioned BY cell, probe with a cell filter, and the
    scan must hit PartitionFilters (reads nprobe/k of the corpus from
    disk) while returning exactly the inline key's top-k."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry.similarity_q import (
        N_PROBE,
        QUERY_VEC_ID,
        TOP_K,
        _dot,
        _norm,
        assign_cells,
        train_ivf_centroids,
    )
    from big_data_analysis_project_spark.sources.readers import load_table

    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("raw")
    )
    unit = (
        e.withColumn("n", _norm(F.col("raw")))
        .select("vec_id", F.transform("raw", lambda x: x / F.col("n")).alias("v"))
        .localCheckpoint(eager=True)
    )
    centroids = train_ivf_centroids(unit)
    index_path = str(tmp_path / "ivf_index")
    assign_cells(unit, centroids).write.partitionBy("cell").parquet(index_path)

    qv = unit.filter(F.col("vec_id") == QUERY_VEC_ID).select("v").collect()[0].v
    qdots = [sum(a * b for a, b in zip(qv, c)) for c in centroids]
    probe_cells = sorted(range(len(qdots)), key=lambda i: -qdots[i])[:N_PROBE]

    index = spark.read.parquet(index_path)
    probed = index.filter(F.col("cell").isin(probe_cells)).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split("PartitionFilters")[1][:100]

    qlit = F.array(*[F.lit(float(x)) for x in qv])
    got = (
        probed.withColumn("cos", _dot(F.col("v"), qlit))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("cos", 4).alias("cosine"))
        .collect()
    )
    inline = QUERIES["ann_ivf"](spark, SF_SMOKE).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in inline
    ]


def test_stream_sessionize_equals_batch(spark):
    """The applyInPandasWithState sessionizer must produce exactly the
    batch window-based sessionization: availableNow delivers all
    events in one micro-batch, update mode emits every session
    (closed + open), so the multisets must match row-for-row."""
    batch = sorted(tuple(r) for r in QUERIES["sessionize"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_sessionize"](spark, SF_SMOKE).collect())
    assert batch, "batch sessionize returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_stream_hourly_equals_batch(spark):
    """The Structured Streaming hourly aggregate must equal the batch
    tumbling-window twin row-for-row (availableNow drains the full
    file source, watermark drops nothing in complete mode)."""
    batch = sorted(tuple(r) for r in QUERIES["window_tumbling"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_hourly"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_stream_sliding_equals_batch(spark):
    """The Structured Streaming sliding-window count must equal the
    oracle-checked batch window_sliding twin row-for-row."""
    batch = sorted(tuple(r) for r in QUERIES["window_sliding"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_sliding"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_connected_components_paths_agree(spark):
    """The distributed pointer-jumping path (driver_edge_limit=0) and
    the driver union-find fast path must produce identical
    (vertex, component) labelings on the same edge set — including a
    chain (tests label transitivity across rounds) and singleton-free
    behavior (vertices only appear if they have an edge)."""
    from big_data_analysis_project_spark.operators.graphs import connected_components

    edges = spark.createDataFrame(
        # two chains and one isolated pair; ids deliberately unsorted
        [(5, 3), (3, 9), (9, 7), (20, 21), (40, 2), (2, 41)],
        "doc_a long, doc_b long",
    )
    fast = {
        (r.vertex, r.component)
        for r in connected_components(edges).collect()
    }
    dist = {
        (r.vertex, r.component)
        for r in connected_components(edges, driver_edge_limit=0).collect()
    }
    expected = {
        (3, 3), (5, 3), (7, 3), (9, 3),
        (20, 20), (21, 20),
        (2, 2), (40, 2), (41, 2),
    }
    assert fast == expected
    assert dist == expected


def test_stream_dedup_matches_batch(spark):
    """stream_dedup (streaming dropDuplicates on content hash) must
    keep exactly the distinct-hash set the batch dedup keeps."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.sources.readers import load_table

    got = {r.h for r in QUERIES["stream_dedup"](spark, SF_SMOKE).collect()}
    want = {
        r.h
        for r in load_table(spark, SF_SMOKE, "documents")
        .select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"))
        .distinct()
        .collect()
    }
    assert got == want


def test_stream_enrich_equals_batch(spark):
    """The stream-static enrichment join must equal the oracle-checked
    batch events_enrich twin row-for-row (stateless append-mode join;
    availableNow drains the full file source)."""
    batch = sorted(tuple(r) for r in QUERIES["events_enrich"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_enrich"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_stream_pair_join_equals_batch(spark):
    """The stream-stream watermarked interval join must equal the
    oracle-checked batch events_attribution twin row-for-row
    (availableNow drains both sources; the watermark outlives the
    join window, so no pair is dropped)."""
    batch = sorted(tuple(r) for r in QUERIES["events_attribution"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_pair_join"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_backfill_tail_composition_equals_batch(spark):
    """VERDICT r11 #3 — the architecture the replay guard prescribes,
    proven: batch attribution over history-owned clicks UNION the
    watermarked stream-stream join over only the staged tail snapshot
    must equal the full batch answer row-for-row (each pair is owned
    by its click, so the halves partition exactly; boundary-straddling
    pairs land in the batch half because its purchases are
    unrestricted). Checked at sf0.01 where BOTH halves own pairs
    (measured: 32 history-owned + 1 tail-owned) — at sf0.001 the 6h
    tail owns zero pairs and the non-trivial check would be vacuous;
    that empty-tail edge is pinned separately below."""
    batch = sorted(
        tuple(r) for r in QUERIES["events_attribution"](spark, SF_CORRECT).collect()
    )
    composed = sorted(
        tuple(r)
        for r in QUERIES["stream_backfill_tail"](spark, SF_CORRECT).collect()
    )
    assert batch, "batch twin returned no rows"
    assert composed == batch  # sorted multisets: duplicates fail too
    # the streaming half actually contributed (tail window non-empty):
    # the memory sink of the tail replay holds the tail-owned pairs
    tail_rows = spark.table("bdap_backfill_tail").count()
    assert 0 < tail_rows < len(batch), (
        f"tail half contributed {tail_rows}/{len(batch)} rows — "
        "composition not exercised on both halves"
    )

    # empty-tail edge (sf0.001: no pair is tail-owned): the
    # composition still equals the batch answer, with the stream half
    # contributing zero rows — the split must not drop or duplicate
    smoke_batch = sorted(
        tuple(r)
        for r in QUERIES["events_attribution"](spark, SF_SMOKE).collect()
    )
    smoke_composed = sorted(
        tuple(r)
        for r in QUERIES["stream_backfill_tail"](spark, SF_SMOKE).collect()
    )
    assert smoke_batch and smoke_composed == smoke_batch


def test_pagerank_matches_reference(spark):
    """graph_pagerank must match (a) a driver-side INTEGER replica of
    the same fixed-point power iteration BIT-EXACTLY — int64 floor
    arithmetic is order-independent, so the distributed join/shuffle
    update and the in-memory loop produce identical bits — and (b) a
    float reference iteration within 1e-6 (the truncation cost of the
    1e-9 fixed point over 5 rounds)."""
    from collections import defaultdict

    from big_data_analysis_project_spark.registry.dedup_q import dedup_ngram_jaccard
    from big_data_analysis_project_spark.registry.extended_q import (
        _PR_BASE,
        _PR_DAMP,
        _PR_DEN,
        _PR_ITER,
        _PR_NUM,
        _PR_SCALE,
    )

    edges = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, SF_SMOKE).select("doc_a", "doc_b").collect()
    ]
    assert edges, "near-dup graph is empty at smoke scale"
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)

    rank_i = {v: _PR_SCALE for v in adj}
    rank_f = {v: 1.0 for v in adj}
    for _ in range(_PR_ITER):
        mass_i: dict = defaultdict(int)
        mass_f: dict = defaultdict(float)
        for v, nbrs in adj.items():
            share_i = rank_i[v] // len(nbrs)
            share_f = rank_f[v] / len(nbrs)
            for n in nbrs:
                mass_i[n] += share_i
                mass_f[n] += share_f
        rank_i = {v: _PR_BASE + _PR_NUM * mass_i[v] // _PR_DEN for v in adj}
        rank_f = {v: (1.0 - _PR_DAMP) + _PR_DAMP * mass_f[v] for v in adj}

    got = {
        r.doc_id: r.rank_e9
        for r in QUERIES["graph_pagerank"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(rank_i)
    for v in rank_i:
        assert got[v] == rank_i[v], (v, got[v], rank_i[v])
        assert abs(got[v] / _PR_SCALE - rank_f[v]) < 1e-6, (v, got[v], rank_f[v])


def test_stream_session_builtin_equals_batch(spark):
    """Native session_window under readStream must equal the
    oracle-checked sessionize_builtin batch key row-for-row (the same
    expression body; availableNow single batch completes every
    session)."""
    batch = sorted(tuple(r) for r in QUERIES["sessionize_builtin"](spark, SF_SMOKE).collect())
    stream = sorted(tuple(r) for r in QUERIES["stream_session_builtin"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert stream == batch  # sorted multisets: duplicates now fail


def test_stream_foreach_batch_equals_batch(spark):
    """The foreachBatch versioned-snapshot mart must equal the
    oracle-checked window_tumbling batch aggregate row-for-row after
    the stream drains (single-batch upsert into an empty mart, read
    back through the _LATEST pointer)."""
    batch = sorted(tuple(r) for r in QUERIES["window_tumbling"](spark, SF_SMOKE).collect())
    mart = sorted(tuple(r) for r in QUERIES["stream_foreach_batch"](spark, SF_SMOKE).collect())
    assert batch, "batch twin returned no rows"
    assert mart == batch


def test_ann_mllib_lsh_recall(spark):
    """MLlib BucketedRandomProjectionLSH on unit vectors vs the exact
    cosine top-10 (euclidean NN == cosine NN on the sphere; measured
    recall 10/10 at sf0.001-0.01, 9/10 at sf0.1)."""
    exact = [(r.vec_id, r.cosine) for r in QUERIES["ann_cosine_topk"](spark, SF_SMOKE).collect()]
    approx = [(r.vec_id, r.cosine) for r in QUERIES["ann_mllib_lsh"](spark, SF_SMOKE).collect()]
    assert len(exact) == 10 and len(approx) == 10
    overlap = len({v for v, _ in exact} & {v for v, _ in approx})
    assert overlap >= 7, f"MLlib LSH recall@10 {overlap}/10 < 7"
    # 1 - d^2/2 on unit vectors is a genuine cosine: never above exact best
    assert max(c for _, c in approx) <= max(c for _, c in exact) + 1e-9


def test_dedup_mllib_minhash_matches_exact(spark):
    """MLlib MinHashLSH approxSimilarityJoin vs the exact Jaccard
    pairs: full recall at the 0.5 threshold on this corpus, no false
    pairs, and the library's hashed-space Jaccard within 0.05 of the
    exact shingle Jaccard (2^18 TF buckets make collisions rare)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_mllib_minhash"](spark, SF_SMOKE).collect()
    }
    assert exact, "exact oracle produced no pairs"
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.9, f"MLlib minhash recall {recall:.2f} < 0.9"
    for p in set(got) & set(exact):
        assert abs(got[p] - exact[p]) <= 0.05, (p, got[p], exact[p])
    # precision: the hashed feature space may shift scores slightly,
    # but a pair the library reports must be a GENUINE near-dup — no
    # pair below (threshold - hash-collision slack) may appear
    from big_data_analysis_project_spark.registry.dedup_q import (
        JACCARD_THRESHOLD,
        ngram_pairs_cached,
    )

    all_scores = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_pairs_cached(spark, SF_SMOKE).collect()
    }
    for p in got:
        true_j = all_scores.get(p, 0.0)
        assert true_j >= JACCARD_THRESHOLD - 0.05, (
            f"false pair {p}: library jaccard {got[p]:.3f}, exact {true_j:.3f}"
        )


def test_incremental_second_run_reads_only_new(spark):
    """The §2.10 incremental-run contract: two availableNow runs over
    one checkpoint — run 2 must read ONLY the newly-landed batch-2
    files (file-source log remembers batch 1), and the final mart must
    equal the full one-shot recompute (window_tumbling twin, with the
    same exact-cents value sum)."""
    from big_data_analysis_project_spark.registry.streaming_q import (
        incremental_hourly_runs,
    )

    mart, stats = incremental_hourly_runs(spark, SF_SMOKE)
    b0, b1 = stats["batch_rows"]
    assert b0 > 0 and b1 > 0, stats
    assert stats["run_input_rows"] == [b0, b1], stats

    got = {tuple(r) for r in mart.collect()}
    # full recompute twin: same agg over the undivided feed
    from pyspark.sql import functions as F
    from big_data_analysis_project_spark.sources.readers import load_events

    ev = load_events(spark, SF_SMOKE)
    batch = {
        tuple(r)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("cents").cast("double") / 100).alias("total_value"),
        )
        .collect()
    }
    assert got == batch


def test_ann_pq_recall(spark):
    """PQ/ADC (8 subspaces x 16 cells, 50-candidate exact re-rank) vs
    the exact cosine top-10. The near-random synthetic embeddings are
    PQ's worst case (no subspace structure to quantize), so — as with
    hyperplane LSH above — set-recall is inherently modest and the
    stable metric is the ANN quality ratio: measured overlap 5/10 and
    ratio 0.914 at sf0.001, 8/10 and 0.967 at sf0.01."""
    exact = [(r.vec_id, r.cosine) for r in QUERIES["ann_cosine_topk"](spark, SF_SMOKE).collect()]
    approx = [(r.vec_id, r.cosine) for r in QUERIES["ann_pq"](spark, SF_SMOKE).collect()]
    assert len(exact) == 10 and len(approx) == 10
    overlap = len({v for v, _ in exact} & {v for v, _ in approx})
    assert overlap >= 3, f"PQ recall@10 {overlap}/10 < 3"
    ratio = (sum(c for _, c in approx) / 10) / (sum(c for _, c in exact) / 10)
    assert ratio >= 0.85, f"PQ quality ratio {ratio:.3f} < 0.85"
    # re-ranked cosines are genuine cosines of real corpus vectors
    assert max(c for _, c in approx) <= max(c for _, c in exact) + 1e-9


def test_stream_outer_join_matched_and_null_contract(spark):
    """stream_outer_join's two-part contract vs the batch twins:
    matched rows equal the batch INNER interval join exactly (matches
    emit when found, never withheld), and null-extended rows are a
    non-empty correct subset of the batch never-converted clicks
    (outer emission is watermark-gated, so tail-of-stream nulls may
    be withheld — but a click with a match must never emit null)."""
    from pyspark.sql import functions as F

    batch_inner = sorted(tuple(r) for r in QUERIES["events_attribution"](spark, SF_SMOKE).collect())
    stream = QUERIES["stream_outer_join"](spark, SF_SMOKE).collect()
    matched = sorted(tuple(r) for r in stream if r.purchase_id is not None)
    nulls = [r for r in stream if r.purchase_id is None]
    assert matched == batch_inner  # sorted multisets: duplicates now fail
    assert nulls, "no null-extended rows emitted — watermark never closed state"
    matched_click_ids = {r[0] for r in batch_inner}
    for r in nulls:
        assert r.click_id not in matched_click_ids, r
        assert r.gap_us is None
    # no click emits both a match and a null, and no duplicates
    ids = [r.click_id for r in nulls]
    assert len(ids) == len(set(ids))


def test_ann_ivf_pq_recall(spark):
    """The IVF+PQ composition vs the exact cosine top-10. Its recall
    is bounded by the IVF routing (only probed cells are scored) and
    then by the PQ shortlist, so it sits at or below each half's own
    recall; on the synthetic embeddings the IVF half is near-perfect,
    leaving PQ's quality ratio as the stable metric (same reasoning as
    test_ann_pq_recall)."""
    exact = [(r.vec_id, r.cosine) for r in QUERIES["ann_cosine_topk"](spark, SF_SMOKE).collect()]
    approx = [(r.vec_id, r.cosine) for r in QUERIES["ann_ivf_pq"](spark, SF_SMOKE).collect()]
    assert len(exact) == 10 and len(approx) == 10
    overlap = len({v for v, _ in exact} & {v for v, _ in approx})
    assert overlap >= 2, f"IVFPQ recall@10 {overlap}/10 < 2"
    ratio = (sum(c for _, c in approx) / 10) / (sum(c for _, c in exact) / 10)
    assert ratio >= 0.8, f"IVFPQ quality ratio {ratio:.3f} < 0.8"
    assert max(c for _, c in approx) <= max(c for _, c in exact) + 1e-9


def test_dedup_semantic_greedy_contract(spark):
    """The full SemDeDup greedy contract, re-derived from the output
    plus raw embeddings (no re-clustering needed): every dropped
    vector maps to an EARLIER surviving keeper in its own cell with
    cosine >= tau, and no survivor could itself have been absorbed by
    an earlier survivor in its cell (greedy maximality)."""
    import numpy as np

    from big_data_analysis_project_spark.registry.dedup_q import SEMANTIC_TAU

    out = QUERIES["dedup_semantic"](spark, SF_SMOKE).collect()
    raw = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    unit = {k: v / np.sqrt(v @ v) for k, v in raw.items()}

    assert len(out) == len(raw)  # every vector accounted for, once
    assert len({r["vec_id"] for r in out}) == len(raw)
    keep_of = {r["vec_id"]: r["keep_id"] for r in out}
    cell_of = {r["vec_id"]: r["cell"] for r in out}
    dropped = sum(1 for r in out if r["keep_id"] != r["vec_id"])
    assert dropped > 0, "tau never fired — the check is vacuous"

    for r in sorted(out, key=lambda r: r["vec_id"]):
        vid, kid, cell = r["vec_id"], r["keep_id"], r["cell"]
        if kid != vid:
            # keeper: earlier, same cell, itself a survivor, above tau
            assert kid < vid
            assert cell_of[kid] == cell
            assert keep_of[kid] == kid
            assert unit[vid] @ unit[kid] >= SEMANTIC_TAU - 1e-12
        else:
            # maximality: no earlier survivor in the cell absorbs it
            for o in out:
                if (
                    o["cell"] == cell
                    and o["keep_id"] == o["vec_id"]
                    and o["vec_id"] < vid
                ):
                    assert unit[vid] @ unit[o["vec_id"]] < SEMANTIC_TAU + 1e-12


def test_stream_dedup_watermarked_exact_once(spark):
    """Within-watermark streaming dedup must emit every event exactly
    once: the staged re-delivery sits inside the watermark delay, so
    suppression is guaranteed and the output equals the batch distinct
    set — while state stays bounded by the 4h window instead of
    growing with the stream."""
    out = QUERIES["stream_dedup_watermarked"](spark, SF_SMOKE).collect()
    ids = [r["event_id"] for r in out]
    expected = {
        r["event_id"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    }
    assert len(ids) == len(set(ids)), "duplicate event emitted"
    assert set(ids) == expected, "dropped or invented events"


def test_ann_knn_join_recall_and_contract(spark):
    """Batch kNN join: (a) structural contract — every vector appears
    as a query with dense ranks 1..k, no self pairs, each (query, rank)
    unique; (b) mean recall@k vs the exact brute-force kNN graph >= 0.8
    (deterministic on this data: modulus sample, smallest-id seeds,
    stable argsorts — measured 0.82 at 8/16 probes on these
    NEAR-RANDOM synthetic embeddings, the worst case for any blocking
    scheme; clustered production embeddings sit far higher at the same
    probe count)."""
    import numpy as np

    from big_data_analysis_project_spark.registry.similarity_q import KNN_K

    pdf = QUERIES["ann_knn_join"](spark, SF_SMOKE).toPandas()
    raw = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    rows = sorted(raw, key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)

    # structural contract
    assert set(pdf.query_id) == set(ids)
    assert int((pdf.query_id == pdf.neighbor_id).sum()) == 0
    per_q = pdf.groupby("query_id")["rank"].agg(["count", "min", "max"])
    assert (per_q["count"] == KNN_K).all()
    assert (per_q["min"] == 1).all() and (per_q["max"] == KNN_K).all()
    assert not pdf.duplicated(["query_id", "rank"]).any()
    assert not pdf.duplicated(["query_id", "neighbor_id"]).any()

    # recall vs exact kNN graph
    s = x @ x.T
    np.fill_diagonal(s, -np.inf)
    true = {
        ids[i]: {ids[j] for j in np.argsort(-s[i], kind="stable")[:KNN_K]}
        for i in range(len(ids))
    }
    got: dict[int, set] = {}
    for r in pdf.itertuples():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = float(
        np.mean([len(got[q] & true[q]) / KNN_K for q in true])
    )
    assert recall >= 0.8, f"kNN-join mean recall@{KNN_K} {recall:.3f} < 0.8"


def test_dfcap_pairs_are_lower_bound_subset(spark):
    """dedup_ngram_dfcap contract (VERDICT r6 #3): dropping df>DF_CAP
    shingles from EVIDENCE while keeping true set sizes makes the
    emitted jaccard_lb a lower bound of true Jaccard, so the capped
    pair set is a precision-1 subset of the exact >=threshold pairs."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard_lb
        for r in QUERIES["dedup_ngram_dfcap"](spark, SF_SMOKE).collect()
    }
    assert exact, "exact oracle produced no pairs — test data changed?"
    assert capped, "capped tier emitted nothing at the smoke scale"
    for pair, lb in capped.items():
        assert pair in exact, f"dfcap emitted non-duplicate pair {pair}"
        assert lb <= exact[pair] + 1e-9, f"lb above true jaccard for {pair}"


def test_shingle_df_profile_bounds_evidence_join(spark):
    """The build-time df audit: pairs_bound must equal the evidence
    self-join's actual pre-aggregation row count upper bound — i.e.
    at least the number of realized evidence pairs — and max_df must
    bound every shingle's realized df."""
    from big_data_analysis_project_spark.registry.dedup_q import (
        shingle_df_profile,
        shingle_evidence_cached,
        shingles_cached,
    )

    sh = shingles_cached(spark, SF_SMOKE)
    prof = shingle_df_profile(sh)
    assert prof["n_shingles"] > 0 and prof["max_df"] >= 1
    assert prof["p99_df"] <= prof["max_df"]
    # sum df*(df-1)/2 bounds the realized evidence pair count
    n_pairs = shingle_evidence_cached(spark, SF_SMOKE).count()
    assert prof["pairs_bound"] >= n_pairs


def _write_clustered_embeddings(spark, path, n, n_clusters=24, dim=16):
    """Clustered synthetic corpus: vector i = center(i % n_clusters) +
    small deterministic noise — the regime IVF assumes (true neighbors
    concentrate in the nearest cells). All expressions, no RNG."""
    from pyspark.sql import functions as F

    cid = F.pmod(F.col("id"), F.lit(n_clusters))
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda p: (
                (F.pmod((cid + 1) * (p + 7), F.lit(13)) + 1) / 13.0
                + F.pmod(F.col("id") * (p + 3), F.lit(11)) / 550.0
            ).cast("float"),
        ).alias("embedding"),
        cid.cast("int").alias("label"),
    ).write.mode("overwrite").parquet(str(path / "embeddings.parquet"))


def _knn_recall(spark, sf_dir, n_probe):
    """Mean recall@KNN_K of the grown-k blocked join vs the exact
    fixed-point kNN graph over the full corpus."""
    import numpy as np

    from big_data_analysis_project_spark.registry.similarity_q import (
        KNN_K,
        batch_centroids_cached,
        knn_join_blocked,
        unit_vectors_cached,
    )

    unit = unit_vectors_cached(spark, sf_dir)
    model = batch_centroids_cached(spark, sf_dir)
    rows = sorted(unit.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    xe6 = np.floor(x * 1_000_000).astype(np.int64)
    s = xe6 @ xe6.T // 1_000_000
    # min+1, NOT min: argsort(-s) negates and -int64_min overflows
    # back to int64_min, sorting self FIRST into every true set and
    # capping measured recall at (k-1)/k = 0.8 — the round-7 bug that
    # deflated every recall floor (the old 0.78 clustered "floor" was
    # ~0.98 real recall squashed against the 0.8 cap)
    np.fill_diagonal(s, np.iinfo(np.int64).min + 1)
    true = {
        ids[i]: {ids[j] for j in np.argsort(-s[i], kind="stable")[:KNN_K]}
        for i in range(len(ids))
    }
    pdf = knn_join_blocked(unit, model, n_probe=n_probe).toPandas()
    got: dict[int, set] = {}
    for r in pdf.itertuples():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    return len(model), float(
        sum(len(got.get(q, set()) & true[q]) / KNN_K for q in true) / len(true)
    )


def test_knn_join_grown_k_recall_clustered(spark, tmp_path):
    """The GROWN-K regime (VERDICT r6 #1) on clustered data — the
    distribution IVF assumes: with cells ~ n/BATCH_CELL_TARGET (k=24
    here, past the fixed-k delegation bound) and the default 8 probes,
    true neighbors live in the query's own cluster, so recall stays
    high even though only ~1/3 of cells are probed. This is the pinned
    floor for the adaptive quantizer's operating regime; the isotropic
    floor below documents the worst case.

    Floor raised 0.78 -> 0.95 in round 8: the old exact baseline
    negated an int64_min self-sentinel (overflow — self sorted FIRST
    into every true set), capping measured recall at 4/5; the real
    clustered recall was ~1.0 squashed to ~0.80 against that cap."""
    _write_clustered_embeddings(spark, tmp_path, 3000)
    cells, recall = _knn_recall(spark, str(tmp_path), n_probe=8)
    assert cells == 24  # grown-k engaged, not the fixed-k delegation
    assert recall >= 0.95, f"clustered grown-k recall {recall:.3f} < 0.95"


def test_knn_join_grown_k_recall_isotropic_floor(spark, tmp_path):
    """The grown-k worst case: genuinely isotropic vectors — zero-
    centered per-coordinate HASH values, no lattice structure. (The
    round-7 version used ``(id*p mod 97)/98``, which repeats every 97
    ids: ~31 distinct vectors each duplicated ~31x, so the corpus was
    secretly duplicate-heavy, and its low measured "floor" of 0.35 was
    entirely the int64_min self-sentinel overflow described above —
    with the baseline fixed, that degenerate corpus scores a
    meaningless 1.0.) At k=24 cells / 8 probes (1/3 of cells probed,
    dim 16, n 3000) the honest measured recall is ~0.93: locality
    exists even without clusters at this dim/density, but the margin
    over the probed fraction shrinks with scale (BENCH_SCALE.md's
    sf1/sf3 rows are the large-scale version of this number)."""
    import pyspark.sql.functions as F

    spark.range(3000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda p: (
                (F.pmod(F.xxhash64(F.col("id"), p), F.lit(2001)) - 1000)
                / 1000.0
            ).cast("float"),
        ).alias("embedding"),
        F.lit(0).alias("label"),
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    cells, recall = _knn_recall(spark, str(tmp_path), n_probe=8)
    assert cells == 24
    assert recall >= 0.85, f"isotropic grown-k recall {recall:.3f} < 0.85"


def test_knn_join_home_cluster_coverage_law(spark, tmp_path):
    """The round-9 three-decade recall law, pinned as a curve shape
    (BENCH_SCALE.md sf10clustered + natural-handoff sections): on
    clustered data, blocked-kNN recall tracks how much of the QUERY'S
    HOME CLUSTER's cell set the probes cover — probes >= cells/clusters
    recovers ~every true neighbor (the quantizer's cells subdivide
    clusters, and true neighbors live in the home cluster), while a
    probe count far below that coverage loses recall no matter how it
    looks as a fraction of TOTAL cells. Measured here at 6,000 vectors
    / 120 forced cells / 6 planted clusters = 20 cells per cluster:
    probes 3 -> 0.456, 8 -> 0.764, 24 (>= 20, full home-cluster
    coverage) -> 0.999. The same shape measured at scale: 40 >= 33
    cells/cluster -> 1.000 at 200 k vectors; 8 << 212 -> 0.34-0.41 at
    1.7 M. If a kernel change (chunking, quantization, probe ranking)
    breaks any of these floors/ceilings, the law regressed."""
    import sys as _sys
    from pathlib import Path as _Path

    import numpy as np

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from gen_big_embeddings import gen_embeddings

    from big_data_analysis_project_spark.registry.similarity_q import (
        KNN_K,
        knn_join_blocked,
        train_ivf_centroids,
        unit_vectors_cached,
    )

    gen_embeddings(spark, n=6000, n_clusters=6, out_dir=str(tmp_path))
    unit = unit_vectors_cached(spark, str(tmp_path))
    rows = sorted(unit.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    xe6 = np.floor(x * 1_000_000).astype(np.int64)
    s = xe6 @ xe6.T // 1_000_000
    np.fill_diagonal(s, np.iinfo(np.int64).min + 1)  # min+1: r8 overflow rule
    true = {
        int(ids[i]): {int(ids[j]) for j in np.argsort(-s[i], kind="stable")[:KNN_K]}
        for i in range(len(ids))
    }
    model = train_ivf_centroids(unit, k=120, sample_target=0)
    assert len(model) == 120

    def recall_at(p):
        pdf = knn_join_blocked(unit, model, n_probe=p).toPandas()
        got: dict[int, set] = {}
        for r in pdf.itertuples():
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        return float(
            np.mean([len(got.get(q, set()) & t) / KNN_K for q, t in true.items()])
        )

    r3, r8, r24 = recall_at(3), recall_at(8), recall_at(24)
    # full home-cluster coverage (24 >= 120/6) recovers ~everything
    assert r24 >= 0.97, f"coverage recall {r24:.3f} < 0.97"
    # partial coverage sits strictly between the poles (curve shape)
    assert 0.60 <= r8 <= 0.92, f"partial-coverage recall {r8:.3f} off-curve"
    # deep under-coverage loses recall even though 3/120 = 2.5% of
    # TOTAL cells — the fraction that scored 1.00 at 1,600 cells/48
    # clusters; coverage of the home cluster is the real variable
    assert r3 <= 0.60, f"under-coverage recall {r3:.3f} unexpectedly high"
    assert r3 < r8 < r24  # monotone in probes

    # THE SELECTOR PIN (VERDICT r9 #1): the pre-flight must turn this
    # measured law into the dial setting — on exactly the corpus/model
    # where the bench-default 8 probes sits at ~0.76, select_knn_probes
    # must raise the count past 8 to one whose MEASURED recall meets
    # the 0.95 target, within the cost ceiling, and its sample-based
    # prediction must itself clear the target (the selection evidence)
    from big_data_analysis_project_spark.registry.similarity_q import (
        KNN_PROBE,
        KNN_PROBE_MAX,
        select_knn_probes,
    )

    p_sel, pred = select_knn_probes(unit, model)
    assert p_sel > KNN_PROBE, f"selector did not raise: {p_sel}"
    assert p_sel <= KNN_PROBE_MAX
    assert pred >= 0.95, f"selector accepted predicted recall {pred:.3f}"
    r_sel = recall_at(p_sel)
    assert r_sel >= 0.95, (
        f"selected n_probe={p_sel} measured {r_sel:.3f} < 0.95 "
        f"(predicted {pred:.3f})"
    )


def test_knn_probe_fixed_k_default_and_env_override(spark, tmp_path, monkeypatch):
    """knn_probe_cached's two non-pre-flight paths: at fixed-k scales
    (batch quantizer delegates to the shared 16-cell model — every
    driver-checked corpus) the bench default KNN_PROBE comes back
    untouched, keeping driver rows byte-identical; and the
    SPARK_GRAFT_KNN_PROBE env var forces any count, bypassing the
    pre-flight, for deliberate dial-override runs."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry.similarity_q import (
        KNN_PROBE,
        knn_probe_cached,
    )

    spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda p: ((F.pmod(F.col("id") * p, F.lit(97)) + 1) / 98.0).cast(
                "float"
            ),
        ).alias("embedding"),
        F.lit(0).alias("label"),
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    monkeypatch.delenv("SPARK_GRAFT_KNN_PROBE", raising=False)
    assert knn_probe_cached(spark, str(tmp_path)) == KNN_PROBE
    monkeypatch.setenv("SPARK_GRAFT_KNN_PROBE", "12")
    assert knn_probe_cached(spark, str(tmp_path)) == 12


def test_knn_probe_strict_mode_raises_structured_quality_refusal(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 #1 — quality refusal on the cost-refusal surface:
    when the pre-flight exhausts the probe ceiling below the recall
    bar, strict mode must raise a payload-carrying ScaleRefusal a
    pipeline can catch/route exactly like a pairs-budget refusal,
    instead of shipping the capped join behind a stderr warning.
    Pinned on the home-cluster corpus (6 planted clusters, 120 forced
    cells) with the ceiling clamped to 4 probes — deep home-cluster
    under-coverage, measured recall ~0.5 (the coverage-law test pins
    the same curve point)."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from gen_big_embeddings import gen_embeddings

    from big_data_analysis_project_spark.errors import ScaleRefusal
    from big_data_analysis_project_spark.registry.similarity_q import (
        select_knn_probes,
        train_ivf_centroids,
        unit_vectors_cached,
    )

    gen_embeddings(spark, n=6000, n_clusters=6, out_dir=str(tmp_path))
    unit = unit_vectors_cached(spark, str(tmp_path))
    model = train_ivf_centroids(unit, k=120, sample_target=0)

    # default (non-strict): the exhausted budget SHIPS the cap with a
    # warning — the measured recall comes back honest and sub-target
    p_def, pred_def = select_knn_probes(unit, model, p_max=4)
    assert p_def == 4
    assert pred_def < 0.95, f"fixture recall {pred_def:.3f} not sub-target"

    # strict: the SAME exhaustion refuses with the structured payload
    with pytest.raises(ScaleRefusal) as exc_info:
        select_knn_probes(unit, model, p_max=4, min_recall=0.95)
    payload = exc_info.value.payload()
    assert payload["key"] == "knn_probe"
    assert payload["kind"] == "quality"
    assert payload["measured"] == pytest.approx(pred_def, abs=1e-4)
    assert payload["budget"] == 0.95
    assert payload["target_recall"] == 0.95
    assert payload["probes_tried"] == 4
    assert payload["n_cells"] == 120
    assert payload["sampled_true_pairs"] > 0
    assert payload["override_env"] == "SPARK_GRAFT_KNN_PROBE"
    # round 12 (VERDICT r11 #1): the quality refusal names its declared
    # ladder tier — the exact join — so the router can walk it
    assert payload["alternative"] == "ann_knn_exact"

    # and a reachable target under strict mode still SELECTS (the
    # refusal is the exhausted-budget branch only, not a mode switch)
    p_ok, pred_ok = select_knn_probes(unit, model, min_recall=0.95)
    assert p_ok > 4 and pred_ok >= 0.95

    # ADVICE r11 + round-12 review: min_recall must STEER selection,
    # not just gate it. Two poles:
    # (a) bar unreachable within the cap -> refuse (target=pred_def is
    #     reachable at 4 probes, min_recall=0.95 is not at any p<=4);
    with pytest.raises(ScaleRefusal) as exc2:
        select_knn_probes(
            unit, model, p_max=4, target=pred_def, min_recall=0.95
        )
    pay2 = exc2.value.payload()
    assert pay2["kind"] == "quality" and pay2["measured"] < 0.95
    # (b) bar reachable at a LARGER affordable p -> select that p, do
    #     NOT refuse just because the low target selected early (the
    #     round-12 review's false-refusal scenario)
    p_hi, pred_hi = select_knn_probes(
        unit, model, target=0.5, min_recall=0.95
    )
    assert pred_hi >= 0.95 and p_hi == p_ok


def test_knn_mid_scale_upgrade_ships_exact_when_affordable(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 #3 done-condition — the mid-scale quality policy:
    in NON-strict mode, when the probe pre-flight lands below
    KNN_TARGET_RECALL but the exact tier's n*(n-1) bill fits the
    budget, ann_knn_join upgrades to ann_knn_exact BY DEFAULT instead
    of shipping the sub-target join behind a warning. Pinned end-to-
    end on the home-cluster corpus (6000 vectors: exact bill ~3.6e7,
    well under the 2.5e8 budget) with the probe ceiling clamped so
    the pre-flight is sub-target by construction; the unaffordable
    branch (budget clamped to 1) keeps today's ship-with-warning
    behavior — the measured decade corpora stay unchanged."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from gen_big_embeddings import gen_embeddings

    from big_data_analysis_project_spark.registry import similarity_q as S

    gen_embeddings(spark, n=6000, n_clusters=6, out_dir=str(tmp_path))
    sf = str(tmp_path)
    # clamp the probe ceiling into deep home-cluster under-coverage so
    # the non-strict pre-flight exhausts sub-target (same curve point
    # the strict-mode test pins); non-strict = env unset
    monkeypatch.setattr(S, "KNN_PROBE", 1)
    monkeypatch.setattr(S, "KNN_PROBE_MAX", 2)
    monkeypatch.delenv(S.KNN_STRICT_ENV, raising=False)
    monkeypatch.delenv("SPARK_GRAFT_KNN_PROBE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_KNN_EXACT_CAP", raising=False)
    ARTIFACTS["knn_probe"].clear()

    decision = S.knn_ship_decision(spark, sf)
    assert decision["mode"] == "preflight" and decision["strict"] is False
    assert decision["predicted_recall"] < S.KNN_TARGET_RECALL
    assert decision["exact_pairs_bound"] == 6000 * 5999
    assert decision["exact_pairs_bound"] <= decision["exact_budget"]
    assert decision["tier"] == "ann_knn_exact"
    assert decision["upgraded"] is True

    # the registry key ships the EXACT rows (recall 1.0), not the
    # sub-target blocked join
    shipped = QUERIES["ann_knn_join"](spark, sf)
    exact = QUERIES["ann_knn_exact"](spark, sf)
    assert sorted(map(tuple, shipped.collect())) == sorted(
        map(tuple, exact.collect())
    )

    # and bench's quality bucket names the shipped tier from the
    # decision dict alone
    import bench

    qb = bench.quality_bucket({}, decision, S.KNN_TARGET_RECALL)
    assert qb["ann_knn_join"]["shipped"] is True
    assert qb["ann_knn_join"]["tier"] == "ann_knn_exact"

    # unaffordable exact tier: the policy does NOT upgrade — the
    # sub-target blocked join ships behind the warning, as at the
    # measured decades
    monkeypatch.setattr(S, "KNN_EXACT_PAIRS_BUDGET", 1)
    decision2 = S.knn_ship_decision(spark, sf)
    assert decision2["tier"] == "ann_knn_join"
    assert "upgraded" not in decision2
    assert decision2["exact_budget"] == 1
    qb2 = bench.quality_bucket({}, decision2, S.KNN_TARGET_RECALL)
    assert qb2["ann_knn_join"]["shipped"] is True
    assert qb2["ann_knn_join"]["tier"] == "ann_knn_join"

    # budget 0 = deliberate unlimited override of the EXACT guard, not
    # a standing auto-upgrade instruction: no silent upgrade either
    monkeypatch.setenv("SPARK_GRAFT_KNN_EXACT_CAP", "0")
    decision3 = S.knn_ship_decision(spark, sf)
    assert decision3["tier"] == "ann_knn_join"


def test_knn_strict_env_wires_min_recall_and_provenance(
    spark, monkeypatch
):
    """SPARK_GRAFT_KNN_STRICT=1 must reach select_knn_probes as
    min_recall=KNN_TARGET_RECALL in the grown-k regime, and
    knn_probe_provenance must record the selection evidence
    (mode/predicted_recall/strict) — the artifact-side half of
    VERDICT r10 #1. Model and selector are stubbed so this pins the
    WIRING (env -> arg -> provenance record), not the measurement the
    test above already pins; the memo key must separate strict from
    lax so toggling the env cannot serve a stale selection."""
    from big_data_analysis_project_spark.registry import similarity_q as S

    seen: list = []

    def fake_select(unit, centroids, min_recall=None, **dials):
        seen.append(min_recall)
        return 19, 0.97

    monkeypatch.setattr(S, "select_knn_probes", fake_select)
    monkeypatch.setattr(
        S, "batch_centroids_cached", lambda *_: [[0.0]] * (S.N_CENTROIDS + 1)
    )
    monkeypatch.setattr(S, "unit_vectors_cached", lambda *_: None)
    monkeypatch.delenv("SPARK_GRAFT_KNN_PROBE", raising=False)
    ARTIFACTS["knn_probe"].clear()

    monkeypatch.setenv(S.KNN_STRICT_ENV, "1")
    rec = S.knn_probe_provenance(spark, "/root/testdata/sf0.001")
    assert seen == [S.KNN_TARGET_RECALL]
    assert rec == {
        "n_probe": 19,
        "predicted_recall": 0.97,
        "mode": "preflight",
        "strict": True,
    }
    assert S.knn_probe_cached(spark, "/root/testdata/sf0.001") == 19
    assert seen == [S.KNN_TARGET_RECALL]  # memoized, not re-selected

    monkeypatch.setenv(S.KNN_STRICT_ENV, "0")
    rec_lax = S.knn_probe_provenance(spark, "/root/testdata/sf0.001")
    assert seen == [S.KNN_TARGET_RECALL, None]  # new memo key, lax arg
    assert rec_lax["strict"] is False
    ARTIFACTS["knn_probe"].clear()
