"""The three benchmark workloads: which registry keys a pass runs,
what each workload prepares during set-up, the seeded serve requests,
and which end-to-end metric each per-layer metric should move.

Each workload runs a fixed subset of its registry families, chosen to
cover every layer the family exercises while keeping one pass to a
few seconds: the whole schedule (every run of every workload, each in
a fresh process that launches its own JVM) has to fit under a minute
per run.

- ``analytics_sql``: TPC-H SQL, an analytic window operator and the
  flagship plan; read-only and action-dominated, with no shared
  artifacts and no streaming. The run ends with seeded dashboard
  requests, the only work that returns rows to the driver, over
  serving views of the TB marts the engine's ETL (``cmd_collect`` +
  ``cmd_process``) builds: once per engine source in untraced runs,
  in every traced run. It is the control that should not move when the memo or
  streaming layers change.
- ``llm_corpus``: dedup, similarity, text, training keys and a routed
  graph facade that read the session-memoized corpus artifacts.
  Set-up is ``warm_shared_artifacts``; together the keys consume all
  14 artifacts it builds.
- ``stream_etl``: structured-streaming drains and parquet and sorted
  sinks: construction-dominated, with writes beside the reads.
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    "analytics_sql": (
        "sql_tpch_q9",
        "retention_cohort",
        "flagship",
    ),
    "llm_corpus": (
        "dedup_clusters",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_containment_dfcap",
        "ann_ivf_pq",
        "embed_pca",
        "text_quality",
        "routed_degree",
    ),
    "stream_etl": (
        "stream_dedup",
        "stream_hourly",
        "sink_parquet",
        "sink_sorted",
    ),
}

# per-key family = the registry module that owns the key, except the
# flagship key, which is registered in relational but runs plans/
FAMILY_OVERRIDES = {"flagship": "plans"}
FAMILIES = (
    "tpch_q", "analytic_q", "plans", "dedup_q", "similarity_q", "text_q",
    "training_q", "extended_q", "streaming_q", "relational", "routed_q",
)

# the 10 TB-pipeline countries and years the serving marts cover
ISO3 = ("IDN", "KHM", "LAO", "MMR", "MYS", "PHL", "SGP", "THA", "TLS", "VNM")
YEARS = (2018, 2023)
# 40 requests leave MIN_BEYOND (10) samples beyond the 75th percentile
SERVE_REQUESTS = 40
MART_ROWS = {"tb_final": 60, "country_summary": 10, "yearly_trends": 6, "country_trends": 60}


def key_list_hash(workload: str) -> str:
    return hashlib.sha256(json.dumps(WORKLOADS[workload]).encode()).hexdigest()[:16]


def family_of(key: str, registry) -> str:
    if key in FAMILY_OVERRIDES:
        return FAMILY_OVERRIDES[key]
    for fam in FAMILIES:
        mod = getattr(registry, fam, None)
        if mod is not None and key in mod.QUERIES:
            return fam
    raise KeyError(key)


def pass_order(workload: str, rng: random.Random) -> list[str]:
    keys = list(WORKLOADS[workload])
    rng.shuffle(keys)
    return keys


def serve_request(rng: random.Random, endpoints: list[str]) -> tuple[str, dict]:
    """One dashboard request: (endpoint, the parameters cmd_serve
    formats into its SQL)."""
    name = rng.choice(endpoints)
    start = rng.randint(*YEARS)
    params = {"iso3": rng.choice(ISO3), "start_year": start, "end_year": rng.randint(start, YEARS[1])}
    return name, params


def serve_pin_id(endpoint: str, params: dict) -> str:
    """Endpoints other than ``trends`` ignore the parameters."""
    if endpoint != "trends":
        return endpoint
    return f"trends|{params['iso3']}|{params['start_year']}|{params['end_year']}"


def payload_hash(rows: list[dict]) -> str:
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()[:16]


ALL = ("analytics_sql", "llm_corpus", "stream_etl")

# (per-layer metric pattern, end-to-end metric it should move, on
# which workloads) — written down before measuring, so a change that
# moves a layer can be checked against the metric it was meant to move
LAYER_MAP = (
    ("session.get_spark_s", "setup_s", ALL),
    ("registry.import_s", "setup_s", ALL),
    ("memo.warm*", "setup_s", ("llm_corpus",)),
    ("*.build_s", "pass_cpu_s, query_cpu_p50_s", ("stream_etl", "analytics_sql")),
    ("*.jobs", "pass_cpu_s, query_cpu_p50_s", ("stream_etl", "analytics_sql")),
    ("*.stages", "pass_cpu_s", ("stream_etl", "analytics_sql")),
    ("*.tasks", "pass_cpu_s", ("stream_etl", "analytics_sql")),
    ("*.action_s", "pass_cpu_s", ("analytics_sql", "llm_corpus")),
    ("spark.gc_ms", "peak_rss_mb (ungated)", ("llm_corpus",)),
    ("spark.spill_bytes", "peak_rss_mb (ungated)", ("llm_corpus",)),
    ("spark.sched_delay_ms", "pass_s", ALL),
    ("spark.*", "pass_cpu_s", ("analytics_sql", "llm_corpus")),
    ("cli.register_views_s", "serve_p50_ms, serve_p75_ms", ("analytics_sql",)),
    ("cli.*", "etl_s (ungated)", ("analytics_sql",)),
    ("serve*", "serve_p50_ms, serve_p75_ms", ("analytics_sql",)),
    ("router.*", "pass_cpu_s (must stay 0: a refusal reroutes)", ("llm_corpus",)),
    ("sinks.*", "pass_cpu_s", ("stream_etl",)),
    ("etl_s", "etl_s (ungated; 0 in an untraced run that reuses the marts)", ("analytics_sql",)),
    ("pass_s", "pass_cpu_s (its wall-clock view, ungated)", ALL),
    ("query_*", "pass_cpu_s (per key, ungated)", ALL),
    ("peak_rss_mb", "peak_rss_mb (ungated)", ALL),
    ("fail_share", "every metric (must stay 0)", ALL),
)


def layer_moves(name: str) -> tuple[str, tuple[str, ...]]:
    """The first LAYER_MAP entry whose pattern matches ``name``."""
    for pattern, moves, on in LAYER_MAP:
        if fnmatch.fnmatchcase(name, pattern):
            return moves, on
    raise KeyError(name)
