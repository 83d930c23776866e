"""Benchmark of the engine's three end-to-end paths, timed from outside.

usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (one driver process, one client in a closed loop, local[nproc]):
- prep-zipf: a seeded Zipf corpus through swivel.prep -> write_outputs ->
  tfrecord.write_swivel_shards, i.e. what ``prep --tfrecord`` does. Not in
  BENCHMARK.json while its check fails (see LISTED).
- curate-mix: a seeded corpus with planted duplicates, near duplicates,
  short and contaminated documents through curate.curate(sink="parquet").
- queries-declared: a fixed sequence of declared and oracled queries on a
  seeded star schema.

A run generates its inputs from the seed, sets up a session SETUPS
times, and runs the first pass in the last, fresh session (what a
one-shot CLI user pays).
It then runs warm passes until ``--seconds`` have passed since the first
pass started. Every pass's output is checked against an independent
reference outside the timed region. With ``--trace 1`` the first pass
is traced and the per-layer counters are reported instead of the
end-to-end metrics. The last line of stdout is the result; the line
before it is a report with the traffic dimensions, host record, all
end-to-end metrics that apply and the check verdicts. Everything is
read and written under ``.scratch/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "swivel_spark_prep_spark"
WORKLOADS = ("prep-zipf", "curate-mix", "queries-declared")
#: Workloads BENCHMARK.json lists. prep-zipf runs on request only: at its
#: vocabulary size the engine's vocabulary ids are wrong (ROADMAP item 1),
#: so its check fails and its result line says ``"correct": false``.
LISTED = ("curate-mix", "queries-declared")
#: Set-ups per run; ``setup_s`` is their median. Each costs a JVM start
#: (8-10 s on 4 CPUs): a third would put the driver's 48 runs near their
#: time limit.
SETUPS = 2

#: The queries ROADMAP names for A/B (the range-rank kernel on Q33, Q35
#: and X302), the anchors of its host gate (Q13, Q20, Q28), and one
#: query per other operator family that weighs on the declared sweep
#: (scan, multi-join, as-of join, jaccard, Arrow UDF). The full declared
#: sweep, X169 and X320 do not fit the benchmark's run-time budget: X320
#: alone takes 11 s of a 32 s first sweep on 4 CPUs. X268 is left out
#: because its check fails on some seeds: when a decile falls between two
#: equal values (event values have two decimals, as in the fixtures),
#: DuckDB's quantile_cont returns e.g. 12.130000000000003 for 12.13 and
#: 12.13, Spark returns 12.13, and the values equal to that edge land in
#: different bins (seeds 1038 and 2001). The order is fixed: in a first
#: sweep the queries that run early pay the JVM's warm-up, so a permuted
#: order moved the sweep's wall time by up to 50% (20-31 s).
QUERIES = (
    "Q01_scan_project", "Q05_join_inner_multi", "Q12_join_asof",
    "Q13_agg_tpch_q1", "Q20_win_frame_running", "Q28_math_funcs",
    "Q33_vocab_ids", "Q35_shard_marginals", "Q41_jaccard_pairs",
    "Q44_udf_normalize", "X302_holm_adjust",
)

#: End-to-end metrics every workload reports; the result line carries
#: those BENCHMARK.json gates. The JVM's peak RSS is reported only: it
#: follows the garbage collector's heap sizing and spread 14-48% between
#: runs of the same input.
E2E_UNITS = {"setup_s": "s", "cold_wall_s": "s", "jvm_peak_rss_mb": "MB",
             "driver_rss_mb": "MB"}
GATED = ("setup_s", "cold_wall_s", "driver_rss_mb")
#: Spans that get the full counter set.
FULL_SPANS = ("swivel.prep", "swivel.write_outputs", "tfrecord.write_swivel_shards",
              "curate.curate", "queries.to_arrow")
#: Spans only prep-zipf calls; the listed workloads leave their counters
#: off the result line.
PREP_SPANS = tuple(f"{name}." for name in FULL_SPANS[:3])


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict:
    """Keep every temporary file of Python, Spark and the JVM in ``work``,
    make Python workers import the program from this checkout, and return
    the session confs that do the same inside Spark."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin and not proc.stdin.closed:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class NoTrace:
    """Stands in for the tracer in untraced passes: spans cost nothing."""

    @contextmanager
    def span(self, name, out_dir=None):
        yield {}

    def persisted_mb(self):
        return None


def release(tr, release_persisted) -> int:
    with tr.span("cache.release_persisted") as rec:
        rec["persisted_mb"] = tr.persisted_mb()  # read before the release
        rec["handles"] = release_persisted()
    return rec["handles"]


# ---- workloads --------------------------------------------------------------


class PrepZipf:
    def __init__(self, spark, run_dir, dims, ref_dir):
        from swivel_spark_prep_spark.cache import release_persisted
        from swivel_spark_prep_spark.operators.swivel import prep, write_outputs
        from swivel_spark_prep_spark.sinks.tfrecord import write_swivel_shards

        self.spark, self.run_dir, self.dims = spark, run_dir, dims
        self.corpus = os.path.join(run_dir, "corpus")
        self._calls = prep, write_outputs, write_swivel_shards, release_persisted
        keys = ("documents", "tokens_per_doc", "zipf_exponent", "types",
                "min_count", "window", "shard_size", "files", "row_groups_per_file")
        tag = "-".join(str(dims[k]) for k in keys)
        self.ref_path = os.path.join(ref_dir, f"prep-{dims['seed']}-{tag}.json")
        self.input_bytes = dims["layout"]["bytes"]

    def run(self, k, tr):
        prep, write_outputs, write_swivel_shards, release_persisted = self._calls
        out = os.path.join(self.run_dir, f"out-{k}")
        with tr.span("swivel.prep"):
            docs = self.spark.read.parquet(self.corpus).select("doc_id", "text")
            result = prep(docs, window=self.dims["window"],
                          min_count=self.dims["min_count"],
                          shard_size=self.dims["shard_size"])
        with tr.span("swivel.write_outputs", out):
            write_outputs(result, out)
        tf_dir = os.path.join(out, "shards_tfrecord")
        with tr.span("tfrecord.write_swivel_shards", tf_dir):
            write_swivel_shards(result, tf_dir)
        release(tr, release_persisted)
        return {"out": out, "V": result.vocab_size, "N": result.num_shards}

    def check(self, outcome):
        from checks import check_prep, prep_reference

        return check_prep(outcome["out"], prep_reference(self.corpus, self.dims, self.ref_path))


class CurateMix:
    def __init__(self, spark, run_dir, dims, truth):
        from swivel_spark_prep_spark.cache import release_persisted
        from swivel_spark_prep_spark.curate import curate

        self.spark, self.run_dir, self.dims, self.truth = spark, run_dir, dims, truth
        self._calls = curate, release_persisted
        self.input_bytes = dims["layout"]["bytes"] + dims["benchmark_layout"]["bytes"]

    def run(self, k, tr):
        curate, release_persisted = self._calls
        out = os.path.join(self.run_dir, f"out-{k}")
        with tr.span("curate.curate", out):
            docs = self.spark.read.parquet(os.path.join(self.run_dir, "docs"))
            bench = self.spark.read.parquet(os.path.join(self.run_dir, "benchmark.parquet"))
            manifest = curate(self.spark, docs, out, benchmark=bench, sink="parquet")
        release(tr, release_persisted)
        return {"out": out, "manifest": manifest}

    def check(self, outcome):
        from checks import check_curate

        return check_curate(outcome["out"], outcome["manifest"], self.truth)


class QueriesDeclared:
    def __init__(self, spark, run_dir, dims):
        from swivel_spark_prep_spark.cache import release_persisted
        from swivel_spark_prep_spark.queries.declared import (
            DECLARED_ORACLES, DECLARED_QUERIES)
        from swivel_spark_prep_spark.queries.extra import EXTRA_ORACLES, EXTRA_QUERIES

        self.spark, self.run_dir, self.dims = spark, run_dir, dims
        self.star = os.path.join(run_dir, "star")
        self.registry = {**DECLARED_QUERIES, **EXTRA_QUERIES}
        self.oracles = {**DECLARED_ORACLES, **EXTRA_ORACLES}
        self.release_persisted = release_persisted
        self.order = list(QUERIES)
        self.input_bytes = dims["layout"]["bytes"]
        self._oracle_results = {}

    def run_query(self, name, tr):
        """One operation: the query call to its pandas result."""
        t0 = time.perf_counter()
        with tr.span("queries.query") as rec:
            rec["query"] = name
            with tr.span("queries.build"):
                df = self.registry[name](self.spark, self.star)
            with tr.span("queries.to_arrow"):
                table = df.toArrow()
            with tr.span("queries.to_pandas"):
                pdf = table.to_pandas(self_destruct=True, split_blocks=True)
        return time.perf_counter() - t0, pdf

    def run(self, k, tr):
        ops = []
        for name in self.order:
            try:
                latency, pdf = self.run_query(name, tr)
                ops.append({"name": name, "latency_s": latency, "pdf": pdf})
            except Exception:
                ops.append({"name": name, "error": traceback.format_exc(limit=3)})
            release(tr, self.release_persisted)
        return {"ops": ops}

    def check_op(self, op):
        from checks import check_query
        from swivel_spark_prep_spark.oracle import duckdb_connection

        name = op["name"]
        if name not in self._oracle_results:
            con = duckdb_connection(self.star)
            self._oracle_results[name] = con.execute(self.oracles[name]).fetchdf()
            con.close()
        return check_query(op["pdf"], self._oracle_results[name])


# ---- measurement ------------------------------------------------------------


def measure(spark, wl, args) -> dict:
    """The first pass (traced with ``--trace 1``), then untraced warm
    passes until ``args.seconds`` have passed since the first began."""
    from spans import Tracer, dir_output

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", cores) if args.trace else None
    passes = []
    t_start = time.perf_counter()
    k = 0
    while k == 0 or time.perf_counter() - t_start < args.seconds:
        traced = tracer is not None and k == 0
        tr = tracer if traced else NoTrace()
        first_job = tracer.store.last_job_id() if traced else None
        t0 = time.perf_counter()
        error, outcome = None, None
        with tr.span("pass") as rec:
            try:
                outcome = wl.run(k, tr)
            except Exception:
                error = traceback.format_exc(limit=5)
        p = {"k": k, "traced": traced, "wall_s": time.perf_counter() - t0,
             "outcome": outcome, "error": error}
        if outcome and "out" in outcome:
            p["written_bytes"] = dir_output(outcome["out"])[0] * 1e6
        if traced:
            p["reconcile"] = tracer.close_pass(rec, first_job)
            p["span"] = rec
        passes.append(p)
        k += 1
    out = {"passes": passes}
    if tracer is not None:
        spans_file = os.path.join(os.path.dirname(wl.run_dir), f"trace-{tracer.run_id}.json")
        tracer.write(spans_file)
        out["layers"] = layer_metrics(tracer, passes[0], wl)
        out["reconcile"] = passes[0]["reconcile"]
        out["spans_file"] = os.path.relpath(spans_file, ROOT)
    return out


def layer_metrics(tracer, p, wl) -> dict:
    """Per-layer metrics of the traced pass; spans absent from this
    workload report zero."""
    from spans import COUNTERS

    spans = tracer.spans
    m: dict[str, float] = {}
    for name in FULL_SPANS:
        mine = [s["counters"] for s in spans if s["name"] == name]
        for c in COUNTERS:
            m[f"{name}.{c}"] = sum(x[c] for x in mine)
        # a ratio does not add up over spans: recompute it from the sums
        wall = m[f"{name}.wall_s"]
        m[f"{name}.core_util"] = m[f"{name}.task_s"] / (wall * tracer.cores) if wall else 0.0
    for name in ("queries.build", "queries.to_pandas"):
        m[f"{name}.wall_s"] = sum(s["wall_s"] for s in spans if s["name"] == name)
    per_query = [s["counters"]["jobs"] for s in spans if s["name"] == "queries.query"]
    m["queries.jobs_per_query"] = statistics.fmean(per_query) if per_query else 0.0
    rel = [s for s in spans if s["name"] == "cache.release_persisted"]
    m["cache.release_persisted.handles"] = sum(s["handles"] for s in rel)
    m["cache.persisted_mb"] = sum(s["persisted_mb"] for s in rel)
    m["scan_amp"] = p["span"]["counters"]["input_mb"] * 1e6 / wl.input_bytes
    m["pass.jobs"] = p["reconcile"]["pass_jobs"]
    m["trace.unattributed_jobs"] = p["reconcile"]["unattributed_jobs"]
    # the tracer's own time inside the pass: one process has one first
    # pass, so a traced and an untraced first pass cannot be subtracted
    m["trace_overhead_s"] = tracer.overhead_s
    return m


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("core_util", "scan_amp")):
        return "ratio"
    return "count"


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it; None
    until that percentile reaches the median."""
    n = len(samples)
    if n < 20:
        return None
    idx = n - 11
    return {"value": sorted(samples)[idx] * 1e3, "unit": "ms",
            "percentile": 100.0 * (idx + 1) / n, "samples": n}


def pass_summary(p) -> dict:
    """Wall time of a pass, plus V and N for prep or per-query latencies."""
    out = {"k": p["k"], "traced": p["traced"], "wall_s": p["wall_s"]}
    outcome = p["outcome"] or {}
    if "V" in outcome:
        out.update(V=outcome["V"], N=outcome["N"])
    if "ops" in outcome:
        out["latency_s"] = {op["name"]: op.get("latency_s") for op in outcome["ops"]}
    return out


def check_all(wl, passes, workload) -> list[dict]:
    """One verdict per operation: a pass for the batch workloads, a query
    execution for queries-declared. An exception counts as a failure."""
    verdicts = []
    for p in passes:
        if p["error"]:
            verdicts.append({"pass": p["k"], "op": "pass", "problems": {"error": p["error"]}})
        elif workload == "queries-declared":
            for op in p["outcome"]["ops"]:
                problems = {"error": op["error"]} if "error" in op else wl.check_op(op)
                verdicts.append({"pass": p["k"], "op": op["name"], "problems": problems})
        else:
            verdicts.append({"pass": p["k"], "op": "pass", "problems": wl.check(p["outcome"])})
    return verdicts


def applicable_metrics(e2e, passes, wl, workload, failed, attempted) -> dict:
    """Every end-to-end metric that applies to the workload, with units."""
    out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    warm = passes[1:]
    out["wall_s"] = {"value": statistics.median(p["wall_s"] for p in warm) if warm else None,
                     "unit": "s", "passes": len(warm)}
    out["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    if workload == "queries-declared":
        # latencies of the warm sweeps when there are any, else the first
        sweeps = [p for p in (warm or passes[:1]) if p["outcome"]]
        lat = [op["latency_s"] for p in sweeps for op in p["outcome"]["ops"]
               if "latency_s" in op]
        out["query_p50_ms"] = {"value": statistics.median(lat) * 1e3 if lat else None,
                               "unit": "ms", "samples": len(lat),
                               "passes": "warm" if warm else "first"}
        out["query_tail_ms"] = tail(lat)
    else:
        written = [p["written_bytes"] for p in passes if "written_bytes" in p]
        out["write_amp"] = {
            "value": statistics.median(written) / wl.input_bytes if written else None,
            "unit": "ratio"}
    return out


# ---- the run ----------------------------------------------------------------


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ is not in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".scratch", "perfbench")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    conf = isolate(work)
    subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                    args.workload, str(args.seed), run_dir], check=True)
    with open(os.path.join(run_dir, "dims.json")) as fh:
        dims = {**json.load(fh), "seed": args.seed}

    import host

    host_start = host.snapshot()

    # set-up: import the program once, then SETUPS times start a
    # configured session and run one job. Every session but the last is
    # stopped, so the first pass still runs in a fresh JVM.
    t0 = time.perf_counter()
    from swivel_spark_prep_spark.session import get_session

    if args.workload == "queries-declared":
        import swivel_spark_prep_spark.queries.declared  # noqa: F401
        import swivel_spark_prep_spark.queries.extra  # noqa: F401
    elif args.workload == "curate-mix":
        import swivel_spark_prep_spark.curate  # noqa: F401
    else:
        import swivel_spark_prep_spark.operators.swivel  # noqa: F401
        import swivel_spark_prep_spark.sinks.tfrecord  # noqa: F401
    import_s = time.perf_counter() - t0
    setups, sessions = [], []
    for i in range(SETUPS):
        t_session = time.perf_counter()
        spark = get_session(conf=conf)
        sessions.append(time.perf_counter() - t_session)
        spark.range(1).count()
        setups.append(import_s + time.perf_counter() - t_session)
        if i < SETUPS - 1:
            stop_session(spark)
    setup_s = statistics.median(setups)
    get_session_s = statistics.median(sessions)

    try:
        if not sys.modules[PACKAGE].__file__.startswith(os.path.join(ROOT, PACKAGE)):
            raise RuntimeError(f"{PACKAGE} was imported from outside {ROOT}")
        if args.workload == "prep-zipf":
            wl = PrepZipf(spark, run_dir, dims, os.path.join(work, "ref"))
        elif args.workload == "curate-mix":
            with open(os.path.join(run_dir, "truth.json")) as fh:
                wl = CurateMix(spark, run_dir, dims, json.load(fh))
        else:
            wl = QueriesDeclared(spark, run_dir, dims)
        result = measure(spark, wl, args)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_peak = peak_rss_mb(jvm_pid)
        driver_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        stop_session(spark)

    passes = result["passes"]
    verdicts = check_all(wl, passes, args.workload)
    host_end = host.snapshot()
    attempted = len(verdicts)
    failed = sum(1 for v in verdicts if v["problems"])
    e2e = {"setup_s": setup_s, "cold_wall_s": passes[0]["wall_s"],
           "jvm_peak_rss_mb": jvm_peak, "driver_rss_mb": driver_peak}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "traffic": dims, "setups_s": setups,
        "metrics": applicable_metrics(e2e, passes, wl, args.workload, failed, attempted),
        "passes": [pass_summary(p) for p in passes],
        "failures": [v for v in verdicts if v["problems"]],
        "host": {"start": host_start, "end": host_end,
                 "contended": host.contended(host_start, host_end)},
    }
    if args.trace:
        layers = {**result["layers"], "session.get_session.wall_s": get_session_s}
        if args.workload in LISTED:
            layers = {k: v for k, v in layers.items() if not k.startswith(PREP_SPANS)}
        report["trace"] = {"reconcile": result["reconcile"],
                           "spans_file": result["spans_file"]}
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in GATED}
    shutil.rmtree(run_dir)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
