"""The benchmark's declared metrics, run facts and corpus, without Spark."""

import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import compare
import corpus
import run
import workloads as W

BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


def test_benchmark_json_names_the_metrics_the_run_prints():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in BENCHMARK["end_to_end"]] == [run.unit_of(n) for n in run.END_TO_END]
    assert [m["name"] for m in BENCHMARK["per_layer"]] == run.per_layer_names()
    assert [m["unit"] for m in BENCHMARK["per_layer"]] == [
        run.unit_of(n) for n in run.per_layer_names()
    ]
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(W.WORKLOADS)


def test_every_per_layer_metric_has_a_predicted_effect():
    for name in run.per_layer_names():
        moves, on = W.layer_moves(name)
        assert moves and set(on) <= set(W.WORKLOADS)


FACTS = {"workload": "llm_corpus", "seed": 1, "nproc": 4, "corpus": "c", "keys_hash": "k",
         "commit": "a", "source_hash": "s", "trace": 0, "run_config": {"master": "local[4]"}}


def test_results_differing_only_in_seed_or_revision_are_comparable():
    other = dict(FACTS, seed=2, commit="b", source_hash="t", trace=1)
    assert run.comparable(FACTS, other)


@pytest.mark.parametrize("fact, value", [
    ("nproc", 8), ("corpus", "d"), ("keys_hash", "j"), ("workload", "stream_etl"),
    ("run_config", {"master": "local[8]"}),
])
def test_compare_refuses_mismatched_run_facts(tmp_path, fact, value, capsys):
    e2e = dict.fromkeys(run.END_TO_END, 1.0)
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"facts": FACTS, "end_to_end": e2e}))
    b.write_text(json.dumps({"facts": dict(FACTS, **{fact: value}), "end_to_end": e2e}))
    assert compare.main(["--base", str(a), "--new", str(b)]) == 3
    assert fact in capsys.readouterr().err
    assert compare.main(["--base", str(a), "--new", str(a)]) == 0


def test_corpus_is_deterministic(tmp_path):
    one = corpus.ensure_corpus(tmp_path / "one", 0.0001)
    two = corpus.ensure_corpus(tmp_path / "two", 0.0001)
    assert corpus.fingerprint(one) == corpus.fingerprint(two)
    events = pq.read_schema(one / "events.parquet")
    assert str(events.field("ts").type) == "timestamp[us]"
    for table, key in [("orders", "o_orderkey"), ("documents", "doc_id"),
                       ("embeddings", "vec_id"), ("events", "event_id")]:
        col = pq.read_table(one / f"{table}.parquet", columns=[key]).column(0).to_pylist()
        assert len(col) == len(set(col)) > 0
