"""Regenerate ``expected.json``: the corpus fingerprint, the row count
of every benchmark key and the payload hash of every serve request
the seeds can draw.

    python3 perfbench/pin.py

Run it only when the corpus generator or a workload's key list
changes on purpose, and review the diff: a pin records what the
engine returns today, so a wrong answer pinned here would pass.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads as W


def main() -> int:
    work = run.ROOT / ".perfbench"
    sf_dir = run.corpus.ensure_corpus(work / "corpus", run.SCALE)
    run_dir = work / "runs" / f"pin-{os.getpid()}"
    run.isolate(run_dir)
    marts_cache = work / f"marts-{run.source_facts()['source_hash']}"
    bench = run.Bench("analytics_sql", 0, 0, False, sf_dir, run_dir, {}, marts_cache)
    try:
        bench.setup()
        bench.cli.register_serving_views(bench.spark, bench.build_marts())
        spark, R = bench.spark, bench.R
        rows = {
            k: R.QUERIES[k](spark, bench.sf).count()
            for keys in W.WORKLOADS.values() for k in keys
        }
        serve = {}
        for name, sql in bench.cli.ENDPOINTS.items():
            grid = [{"iso3": "IDN", "start_year": 2019, "end_year": 2023}]
            if name == "trends":
                grid = [
                    {"iso3": c, "start_year": s, "end_year": e}
                    for c in W.ISO3
                    for s in range(W.YEARS[0], W.YEARS[1] + 1)
                    for e in range(s, W.YEARS[1] + 1)
                ]
            for params in grid:
                got = [r.asDict() for r in spark.sql(sql.format(**params)).collect()]
                serve[W.serve_pin_id(name, params)] = W.payload_hash(got)
    finally:
        if bench.spark is not None:
            run.stop_engine(bench.spark)
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    if bench.failures:
        print("\n".join(bench.failures), file=sys.stderr)
        return 1
    out = {"corpus": run.corpus.fingerprint(sf_dir), "rows": rows, "serve": serve}
    (run.BENCH_DIR / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
