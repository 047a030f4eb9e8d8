"""Benchmark of the engine on three workloads, one per run, each in a
fresh process with one closed-loop client.

    python3 perfbench/run.py --workload analytics_sql --seed 1 --seconds 1 --trace 0

A run generates (once per checkout) a fixed synthetic corpus under
``.perfbench/``, points every temp location at its own directory, and
sets up: ``session.get_spark``, the registry import and the workload's
prerequisites (``setup_s``). One unmeasured pass then checks every key:
oracle-backed keys against DuckDB, the rest against row counts pinned
in ``expected.json``. Unmeasured warm-up passes and the measured
passes follow, a fixed number and then until ``--seconds`` have
elapsed; the seed shuffles the key order of each pass and draws the
serve requests. Every figure is taken outside the engine, around
calls to its public functions, except ``memo.warm.<artifact>_s``:
those are the seconds ``warm_shared_artifacts`` returns per artifact.

With ``--trace 0`` the last stdout line carries the gated end-to-end
metrics. With ``--trace 1`` the Spark event log is on and it carries
the per-layer metrics; self time per span and the tracing overhead
against the untraced runs of the same source are printed above it.
Any wrong or failed output makes the run exit non-zero.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

import corpus  # noqa: E402
import stats  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402

ROOT = BENCH_DIR.parent
PACKAGE = "big_data_analysis_project_spark"
SCALE = 0.01
# The JVM's JIT keeps compiling through the first passes, so a pass's
# CPU falls by about half over its first ten. A fixed number of
# warm-up and measured passes puts the measured window at the same
# point of that curve in every run, and pass_cpu_s is the mean over
# the window: the median would pick one pass off a falling curve
WARMUP_PASSES = 1
MIN_PASSES = 3
WARM_SKIP = frozenset({"tb_marts"})
# JVM temp files go to the run's own directory; no hsperfdata in /tmp
JVM_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
ARTIFACTS = (
    "shingles", "shingle_evidence", "capped_evidence", "minhash_pairs",
    "simhash_pairs", "mllib_model", "ngram_pairs", "unit_vectors",
    "ivf_model", "query_vec", "pq_codebooks", "batch_model", "knn_probe",
    "pca_model",
)
ENDPOINT_NAMES = (
    "health", "countries", "stats", "map_data", "comparison", "trends",
    "yearly_trends", "rankings",
)
FAMILY_METRICS = ("build_s", "action_s", "jobs", "stages", "tasks")
SPARK_COUNTERS = (
    "run_ms", "cpu_ms", "gc_ms", "sched_delay_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
# gated end-to-end metrics. Pass cost is gated as CPU seconds, not
# wall seconds: a 2-core CPU hog beside the benchmark raised a pass's
# wall time 38% and its CPU seconds 3%
END_TO_END = ("setup_s", "pass_cpu_s")
# end-to-end figures reported beside the gated ones (and as per-layer
# metrics of the traced run): wall-clock views, peak memory (its
# run-to-run spread, 10-20%, sits too close to the largest bound the
# gate allows), and figures that apply to one workload only, which
# read 0 elsewhere
REPORTED = (
    "pass_s", "query_p50_s", "query_cpu_p50_s", "peak_rss_mb", "serve_p50_ms",
    "serve_p75_ms", "etl_s", "fail_share",
)


def per_layer_names() -> list[str]:
    """Every metric a traced run reports, in report order: the layer
    metrics, then the ungated end-to-end figures."""
    return (
        ["session.get_spark_s", "registry.import_s", "memo.warm_s", "memo.warm_jobs"]
        + [f"memo.warm.{a}_s" for a in ARTIFACTS]
        + [f"{f}.{m}" for f in W.FAMILIES for m in FAMILY_METRICS]
        + [f"spark.{c}" for c in SPARK_COUNTERS]
        + ["cli.collect_s", "cli.process_s", "cli.register_views_s"]
        + [f"serve.{e}_ms" for e in ENDPOINT_NAMES]
        + ["router.hops", "router.rerouted", "sinks.tmp_bytes", "sinks.tmp_files"]
        + list(REPORTED)
    )


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "fail_share":
        return "ratio"
    return "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> set[int]:
    parent = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        frontier.extend(kids)
    return out


def _cpu_ticks(stat: str) -> int:
    """utime + stime + cutime + cstime of a /proc stat line: the
    process's own CPU and that of the children it has reaped."""
    f = stat.rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it:
    the driver, its JVM with all of the JVM's threads (JIT compilers
    and garbage collector too), the pyspark daemon and the Python
    workers that run the engine's UDF and Arrow kernels.

    Unlike wall time this does not grow while other processes of the
    machine hold the CPUs, though it does when the cores themselves run
    slower under a busy host. A worker that has exited stays counted:
    its parent reaps it, which adds its CPU to the parent's
    cutime/cstime."""
    ticks = 0
    for pid in (root, *descendants(root)):
        try:
            ticks += _cpu_ticks(Path(f"/proc/{pid}/stat").read_text())
        except OSError:  # exited and reaped since the scan: in its parent's cutime now
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_usage(root: Path, exclude: tuple[Path, ...]) -> tuple[int, int]:
    """(bytes, files) under root, skipping the excluded subtrees."""
    size = files = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if Path(dirpath, d) not in exclude]
        for f in filenames:
            try:
                size += os.lstat(os.path.join(dirpath, f)).st_size
                files += 1
            except OSError:
                pass
    return size, files


def source_facts() -> dict:
    """The git commit of the checkout (None outside a repository of its
    own) and a hash of the engine's source, which holds either way."""
    try:
        top, commit = (subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        ).stdout.split() + [None, None])[:2]
    except (OSError, subprocess.SubprocessError):
        top = commit = None
    if top is None or Path(top).resolve() != ROOT:
        commit = None
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {"commit": commit, "source_hash": h.hexdigest()[:16]}


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM and every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(Path(f"/proc/{k}").exists() for k in kids):
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def spark_conf(run_dir: Path, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=run_dir / "tmp"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 sf_dir: Path, run_dir: Path, expected: dict, marts_cache: Path) -> None:
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.sf = str(sf_dir)
        self.run_dir = run_dir
        self.marts_cache = marts_cache
        self.expected = expected
        self.rng = random.Random(seed)
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = spans.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.R = None
        self.cli = None
        self.warm_built: dict[str, float] = {}
        self.route_hops = 0
        self.rerouted = 0
        self.tmp_growth: list[tuple[int, int]] = []
        self.run_config: dict = {}

    # -- bookkeeping --------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            log(f"FAIL {what}")
        return ok

    # -- set-up -------------------------------------------------------
    def setup(self) -> None:
        """get_spark (which launches the JVM) + registry import + the
        workload's prerequisites."""
        tr = self.tracer
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                from big_data_analysis_project_spark.session import get_spark

                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}",
                    master=f"local[{self.nproc}]",
                    extra_conf=spark_conf(self.run_dir, self.traced),
                )
            with tr.span("registry.import"):
                import big_data_analysis_project_spark.registry as R
                from big_data_analysis_project_spark import __main__ as cli
            self.R, self.cli = R, cli
            if self.workload == "llm_corpus":
                with tr.span("memo.warm"):
                    self.warm_built = R.warm_shared_artifacts(self.spark, self.sf, skip=WARM_SKIP)
                for name in self.warm_built:
                    self.check("!refused" not in name, f"warm {name}")

    # -- correctness pass (unmeasured) --------------------------------
    def check_pass(self) -> None:
        """Unmeasured warm-up pass that checks every key: oracle-backed
        keys against DuckDB through the test suite's oracle harness, the
        others against their pinned row counts."""
        from tests.oracle_harness import compare, duckdb_conn, resolve_oracle

        conn = duckdb_conn(self.sf)
        with self.tracer.span("check"):
            for key in W.WORKLOADS[self.workload]:
                with self.tracer.span("check_key", key=key):
                    try:
                        df = self.R.QUERIES[key](self.spark, self.sf)
                        if key in self.R.ORACLE:
                            sql, note = resolve_oracle(key, self.R.ORACLE[key])
                            if self.check(sql is not None, f"{key} oracle: {note}"):
                                compare(df, conn, sql)
                        else:
                            n = df.count()
                            self.check(n == self.expected["rows"][key], f"{key} rows {n} != pinned")
                    except Exception as exc:  # a failing key is a reported failure, not a crash
                        self.check(False, f"{key} {type(exc).__name__}: {str(exc)[:300]}")
        conn.close()

    # -- measured passes ----------------------------------------------
    def run_key(self, key: str, family: str) -> None:
        tr = self.tracer
        cpu = tree_cpu_s(os.getpid())
        n = None
        with tr.span("key", key=key, family=family) as span:
            try:
                with tr.span("build"):
                    df = self.R.QUERIES[key](self.spark, self.sf)
                with tr.span("action"):
                    n = df.count()
            except Exception as exc:  # a failing key is a reported failure, not a crash
                self.check(False, f"{key} {type(exc).__name__}: {str(exc)[:300]}")
        span.attrs["cpu_s"] = tree_cpu_s(os.getpid()) - cpu
        if n is None:
            return
        self.check(n == self.expected["rows"][key], f"{key} rows {n} != pinned")
        route = self.R.routed_q.LAST_ROUTE.pop(key, None)
        if route is not None:
            self.route_hops += len(route["hops"]) - 1
            self.rerouted += int(route["rerouted"])

    def measure(self) -> None:
        families = {k: W.family_of(k, self.R) for k in W.WORKLOADS[self.workload]}
        with self.tracer.span("warmup"):
            for _ in range(WARMUP_PASSES):
                for key in W.pass_order(self.workload, self.rng):
                    self.run_key(key, families[key])
        exclude = (self.run_dir / "eventlog", self.run_dir / "local")
        before = dir_usage(self.run_dir, exclude)
        deadline = time.time() + self.seconds
        with self.tracer.span("measure"):
            p = 0
            while p < MIN_PASSES or time.time() < deadline:
                cpu = tree_cpu_s(os.getpid())
                with self.tracer.span("pass", index=p) as span:
                    for key in W.pass_order(self.workload, self.rng):
                        self.run_key(key, families[key])
                span.attrs["cpu_s"] = tree_cpu_s(os.getpid()) - cpu
                after = dir_usage(self.run_dir, exclude)
                self.tmp_growth.append((after[0] - before[0], after[1] - before[1]))
                before = after
                p += 1
            if self.workload == "analytics_sql":
                marts = self.build_marts()
                with self.tracer.span("cli.register_views"):
                    self.cli.register_serving_views(self.spark, marts)
                self.serve()

    def build_marts(self) -> Path:
        """The TB marts the serve requests read, built by the engine's
        ETL (``cmd_collect`` + ``cmd_process``) after the measured
        passes. Untraced runs build them once per engine source and
        keep them under ``marts_cache``: on a busy 4-vCPU host the ETL
        took 30 s, more than the schedule allows every run. Traced runs
        always build them, into their own directory, so the per-layer
        ETL figures are measured in every traced run."""
        if self.marts_cache.is_dir() and not self.traced:
            return self.marts_cache
        marts = self.run_dir / "marts"
        with self.tracer.span("cli.collect"):
            self.cli.cmd_collect(self.spark, marts)
        with self.tracer.span("cli.process"):
            rows = self.cli.cmd_process(self.spark, marts)["rows"]
        self.check(rows == W.MART_ROWS, f"TB marts rows {rows} != {W.MART_ROWS}")
        if self.marts_cache.is_dir() or self.failures:
            return marts
        marts.rename(self.marts_cache)
        return self.marts_cache

    def serve(self) -> None:
        names = list(self.cli.ENDPOINTS)
        pins = self.expected["serve"]
        for _ in range(W.SERVE_REQUESTS):
            name, params = W.serve_request(self.rng, names)
            sql = self.cli.ENDPOINTS[name].format(**params)
            with self.tracer.span("serve", endpoint=name):
                rows = [r.asDict() for r in self.spark.sql(sql).collect()]
            pin = W.serve_pin_id(name, params)
            got = W.payload_hash(rows)
            self.check(got == pins.get(pin), f"serve {pin} payload {got} != pinned {pins.get(pin)}")

    # -- whole run ----------------------------------------------------
    def run(self) -> None:
        self.setup()
        from big_data_analysis_project_spark.session import run_config

        self.run_config = run_config(self.spark)
        self.check_pass()
        self.measure()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())

    # -- metrics ------------------------------------------------------
    def end_to_end(self, peak_rss: float) -> tuple[dict[str, float], dict[str, float]]:
        """(gated metrics, reported figures) of the measured passes."""
        tr = self.tracer
        passes = tr.named("pass")
        keys = [k for p in passes for k in tr.children(p) if k.name == "key"]
        serve = [s.duration * 1000 for s in tr.named("serve")]
        if serve and stats.samples_beyond(len(serve), 75) < stats.MIN_BEYOND:
            raise RuntimeError(f"{len(serve)} serve requests: too few for the 75th percentile")
        gated = {
            "setup_s": stats.median([s.duration for s in tr.named("setup")]),
            "pass_cpu_s": sum(p.attrs["cpu_s"] for p in passes) / len(passes),
        }
        reported = {
            "pass_s": stats.median([p.duration for p in passes]),
            "query_p50_s": stats.median([k.duration for k in keys]),
            "query_cpu_p50_s": stats.median([k.attrs["cpu_s"] for k in keys]),
            "peak_rss_mb": peak_rss,
            "serve_p50_ms": stats.median(serve) if serve else 0.0,
            "serve_p75_ms": stats.percentile(serve, 75) if serve else 0.0,
            "etl_s": sum(s.duration for s in tr.named("cli.collect") + tr.named("cli.process")),
            "fail_share": len(self.failures) / max(1, self.attempted),
        }
        return gated, reported

    def per_layer(self, folded_own: dict) -> dict[str, float]:
        tr = self.tracer
        totals = spans.subtree_totals(tr.spans, folded_own)

        def med(values):
            return stats.median(values) if values else 0.0

        def span_med(name):
            return med([s.duration for s in tr.named(name)])

        out = {
            "session.get_spark_s": span_med("session.get_spark"),
            "registry.import_s": span_med("registry.import"),
            "memo.warm_s": span_med("memo.warm"),
            "memo.warm_jobs": med([totals[s.id]["jobs"] for s in tr.named("memo.warm")]),
        }
        # the engine's own per-artifact seconds: up to six builders run at
        # once, so they overlap and do not add up to memo.warm_s
        for a in ARTIFACTS:
            out[f"memo.warm.{a}_s"] = self.warm_built.get(a, 0.0)
        passes = tr.named("pass")
        fam_rows = {f: [] for f in W.FAMILIES}
        for p in passes:
            acc = {f: dict.fromkeys(FAMILY_METRICS, 0.0) for f in W.FAMILIES}
            for k in tr.children(p):
                if k.name != "key":
                    continue
                a = acc[k.attrs["family"]]
                for c in tr.children(k):
                    a[f"{c.name}_s"] += c.duration
                for c in ("jobs", "stages", "tasks"):
                    a[c] += totals[k.id][c]
            for f in W.FAMILIES:
                fam_rows[f].append(acc[f])
        for f in W.FAMILIES:
            for m in FAMILY_METRICS:
                out[f"{f}.{m}"] = med([r[m] for r in fam_rows[f]])
        for c in SPARK_COUNTERS:
            out[f"spark.{c}"] = med([totals[p.id][c] for p in passes])
        out["cli.collect_s"] = span_med("cli.collect")
        out["cli.process_s"] = span_med("cli.process")
        out["cli.register_views_s"] = span_med("cli.register_views")
        for e in ENDPOINT_NAMES:
            out[f"serve.{e}_ms"] = med(
                [s.duration * 1000 for s in tr.named("serve") if s.attrs["endpoint"] == e]
            )
        out["router.hops"] = float(self.route_hops)
        out["router.rerouted"] = float(self.rerouted)
        out["sinks.tmp_bytes"] = med([g[0] for g in self.tmp_growth])
        out["sinks.tmp_files"] = med([g[1] for g in self.tmp_growth])
        return out


def load_expected() -> dict:
    return json.loads((BENCH_DIR / "expected.json").read_text())


def isolate(run_dir: Path) -> None:
    """Point every temp location at the run's own directory before the
    engine is imported: two registry modules create temp directories
    at import time. Python workers import the package from the
    checkout root through PYTHONPATH."""
    for sub in ("tmp", "local", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # spark-submit's short-lived launcher JVM (the driver JVM gets the
    # same options from spark_conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(tmp=run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None
    os.chdir(run_dir)
    sys.path.insert(0, str(ROOT))


def tracing_overhead(traced: dict, results_dir: Path, workload: str, facts: dict) -> list[str]:
    """This traced run's figures minus the median of the untraced runs
    of the same workload, source and run facts."""
    untraced = [
        r for r in (json.loads(p.read_text()) for p in results_dir.glob(f"{workload}-*-trace0.json"))
        if comparable(r["facts"], facts)
        and all(r["facts"].get(k) == facts.get(k) for k in ("commit", "source_hash"))
    ]
    if not untraced:
        return ["tracing overhead: no untraced run of the same source and run facts to compare"]
    lines = []
    for name, v in traced.items():
        base = stats.median([r["figures"][name] for r in untraced])
        if base:
            lines.append(
                f"tracing overhead {name}: {v - base:+.4f} {unit_of(name)} ({(v - base) / base * 100:+.1f}% "
                f"over the median of {len(untraced)} untraced runs)"
            )
    return lines


# facts that may differ between two comparable results
VARYING_FACTS = ("seed", "commit", "source_hash", "trace")


def comparable(a: dict, b: dict) -> bool:
    return all(a.get(k) == b.get(k) for k in set(a) | set(b) if k not in VARYING_FACTS)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found next to {BENCH_DIR.name}/",
              file=sys.stderr)
        return 2
    expected = load_expected()
    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(run_dir)
    try:
        sf_dir = corpus.ensure_corpus(work / "corpus", SCALE)
        fp = corpus.fingerprint(sf_dir)
        if fp != expected["corpus"]:
            print(f"perfbench: corpus {fp} differs from the pinned {expected['corpus']}",
                  file=sys.stderr)
            return 2
        return measure_and_report(args, work, run_dir, sf_dir, expected)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure_and_report(args, work: Path, run_dir: Path, sf_dir: Path, expected: dict) -> int:
    source = source_facts()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), sf_dir, run_dir,
                  expected, marts_cache=work / f"marts-{source['source_hash']}")
    try:
        bench.run()
        peak = bench.peak_rss_mb()
    finally:
        if bench.spark is not None:
            stop_engine(bench.spark)
    e2e, extra = bench.end_to_end(peak)
    facts = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": bench.nproc, "scale": SCALE,
        "corpus": expected["corpus"], "keys_hash": W.key_list_hash(args.workload),
        "run_config": bench.run_config, **source,
    }
    passes = len(bench.tracer.named("pass"))
    log(f"workload={args.workload} seed={args.seed} trace={args.trace} passes={passes} "
        f"keys/pass={len(W.WORKLOADS[args.workload])} serve={len(bench.tracer.named('serve'))}")
    log(f"facts {json.dumps(facts, sort_keys=True)}")
    figures = {**e2e, **extra}
    for name, v in figures.items():
        log(f"metric {name} = {v:.4f} {unit_of(name)}")
    for f in bench.failures[:20]:
        log(f"failure: {f}")

    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace:
        folded = spans.fold_events(bench.tracer.spans, spans.read_event_log(
            sorted(p for p in (run_dir / "eventlog").iterdir() if p.is_file())))
        metrics = {**bench.per_layer(folded), **extra}
        if list(metrics) != per_layer_names():
            raise RuntimeError("per-layer metrics differ from per_layer_names()")
        for name, v in metrics.items():
            moves, on = W.layer_moves(name)
            log(f"layer {name} = {v:.4f} {unit_of(name)}  (moves {moves} on {', '.join(on)})")
        selfs = spans.self_times(bench.tracer.spans)
        by_name: dict[str, list[float]] = {}
        for s in bench.tracer.spans:
            by_name.setdefault(s.name, []).append(selfs[s.id])
        for name, vals in sorted(by_name.items()):
            log(f"span {name}: n={len(vals)} self_s total={sum(vals):.3f} "
                f"median={stats.median(vals):.4f}")
        for line in tracing_overhead(figures, results, args.workload, facts):
            log(line)
    else:
        metrics = e2e
    out = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench.tracer.write(results / f"{stem}-spans.json")
    (results / f"{stem}.json").write_text(json.dumps(
        {"facts": facts, "end_to_end": e2e, "figures": figures, "failures": bench.failures}))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
