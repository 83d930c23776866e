#!/usr/bin/env python
"""Bench harness (BASELINE.md protocol).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32),
per-query wall time excluding session startup, median of N warm runs
(default 3), full result fetch. Prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
ONLY = [a for a in sys.argv[1:] if not a.startswith("-")]

# Round-16 postmortem: BOTH driver bench runs hit the harness timeout
# (rc 124) before the one-line JSON printed — 422 extras × 4 executions
# plus an unbounded re-measure pass no longer fit the driver budget, so
# the round shipped zero driver-verified perf data despite green
# correctness. The fix (round-16 verdict, Next #1) is a wall-clock
# deadline measured from process start: the declared Q* block and
# calibration ALWAYS complete (sorted() puts Q* before X*), remaining
# X* extras past the deadline are skipped and reported, the re-measure
# pass is capped by a time budget and a trip count, and the JSON line
# prints UNCONDITIONALLY — including on SIGTERM (the signal timeout(1)
# sends before SIGKILL). A local full sweep sets the deadline high
# (e.g. SPARK_GRAFT_BENCH_DEADLINE_S=86400) to record every extra in
# BENCH_LOCAL.json; the driver default keeps the run inside its budget.
DEADLINE_S = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE_S", "1200"))
REMEASURE_BUDGET_S = 60.0
REMEASURE_MAX_TRIPS = 10
# Round-16 verdict Next #8: opt-in per-timed-run persist release so the
# warm-cache-median vs single-shot protocols can be compared once and a
# choice documented (OPTIMIZATION_r17.md).
RELEASE_PER_RUN = bool(os.environ.get("SPARK_GRAFT_RELEASE_PER_RUN"))


class _Term(Exception):
    """Raised by the SIGTERM handler so the finally-path can still print."""


def _raise_term(signum, frame):  # pragma: no cover - signal path
    raise _Term()


#: set by the flag-only SIGTERM handler that replaces ``_raise_term``
#: once the last protected block is done
_TERM_LATE = False


def _note_term(signum, frame):
    global _TERM_LATE
    _TERM_LATE = True


# One anchor per workload class: hash agg (Q13), window frame (Q20),
# scalar-compute + global sort + wide fetch (Q28), shingle self-join (Q41).
# Four classes so that environment noise self-identifies — a contended
# sweep moves all four together, a genuine plan regression moves one.
CALIB_ANCHORS = ("Q13_agg_tpch_q1", "Q20_win_frame_running",
                 "Q28_math_funcs", "Q41_jaccard_pairs")
# Queries whose DuckDB baseline exceeds ~200 ms (BASELINE.md heavy set):
# for these we also publish a compute/fetch split so a ratio can be
# adjudicated as plan cost vs driver-fetch artifact.
HEAVY = ("Q04", "Q11", "Q19", "Q20", "Q27", "Q28", "Q35", "Q41")


def _env_snapshot() -> dict:
    """Machine-contention snapshot (judge ask, round 6: three rounds of
    committed artifacts carried phantom regressions from concurrent
    sweeps). Records the 1/5/15-min load averages plus any NON-descendant
    heavy processes (pytest / another bench / a stray JVM); the payload's
    ``contended`` flag is set from the START snapshot so a number taken
    on a loaded machine can never again masquerade as a plan change."""
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = []
    me = os.getpid()
    ppid: dict[int, int] = {}
    cmds: dict[int, str] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        p = int(pid)
        try:
            with open(f"/proc/{p}/stat") as f:
                # field 4 of /proc/pid/stat is ppid; comm (field 2) may
                # contain spaces but never ')': split after the last ')'
                ppid[p] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmds[p] = (
                    f.read().replace(b"\0", b" ").decode(errors="replace").strip()
                )
        except (OSError, IndexError, ValueError):
            continue

    def related(p: int) -> bool:  # me, my ancestors, or my descendants
        q = p
        for _ in range(64):  # descendant check: walk up to init
            if q == me:
                return True
            q = ppid.get(q, 0)
            if q <= 1:
                break
        q = me
        for _ in range(64):  # ancestor check (shell, driver wrapper)
            if q == p:
                return True
            q = ppid.get(q, 0)
            if q <= 1:
                break
        return False

    markers = ("pytest", "bench.py", "java", "spark", "duckdb")
    candidates = [
        p
        for p, cmd in cmds.items()
        if cmd and not related(p) and any(m in cmd for m in markers)
    ]

    def _cpu_ticks(p: int) -> int | None:
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            return int(parts[11]) + int(parts[12])  # utime + stime
        except (OSError, IndexError, ValueError):
            return None

    # a name match alone is not contention — an idle orchestrator whose
    # COMMAND LINE merely contains a marker word (the harness driver's
    # prompt text does) must not poison the artifact. Sample CPU over a
    # short window and flag only processes actually burning a core.
    before = {p: _cpu_ticks(p) for p in candidates}
    if candidates:
        time.sleep(0.25)
    hz = os.sysconf("SC_CLK_TCK")
    busy = []
    for p in candidates:
        b, a = before.get(p), _cpu_ticks(p)
        if b is None or a is None:
            continue
        if (a - b) / hz / 0.25 > 0.5:  # > half a core during the window
            busy.append(cmds[p][:80])
    return {"load": load, "procs": sorted(busy)}


def _duckdb_calibration(anchors=CALIB_ANCHORS) -> dict[str, float]:
    """Median ms for fixed BASELINE.md DuckDB queries in the current
    environment — per-round calibration anchors separating machine drift
    from genuine engine regressions (protocol: execute + full fetchall,
    same as BASELINE.md)."""
    try:
        import duckdb

        from swivel_spark_prep_spark.queries.declared import DECLARED_ORACLES

        con = duckdb.connect()
        con.execute(f"SET threads={int(CPUS)}")
        for t in ("lineitem", "orders", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        out = {}
        for name in anchors:
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(DECLARED_ORACLES[name]).fetchall()
                samples.append(time.perf_counter() - t0)
            out[name.split("_", 1)[0].lower()] = round(
                statistics.median(samples) * 1000, 1
            )
        con.close()
        return out
    except Exception:  # calibration is best-effort, never fails the bench
        return {}


def _wait_quiescent(threshold: float, timeout_s: float = 300.0) -> None:
    """Spin-wait (up to ``timeout_s``) for the 1-min load average to drop
    below ``threshold`` before benchmarking. Round-11 verdict: a bench
    that STARTS at load 5.45 inflates every floor-bound query 30–70%
    even though no foreign process is running mid-bench — better to
    wait out the machine's tail than tag a fresh snapshot contended."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_s:
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return
        if load1 < threshold:
            return
        print(
            f"# waiting for quiescence: load {load1:.2f} >= {threshold}",
            file=sys.stderr,
        )
        time.sleep(10.0)


def main() -> None:
    t0_wall = time.monotonic()

    from swivel_spark_prep_spark.session import get_session
    from __spark_entry__ import queries

    # Round-11 verdict (What's wrong #4): the old trip point of
    # max(2.0, 0.25*CPUS) let a load-5.45 start ship as contended=false
    # on 32 CPUs. Now: spin-wait for load < 3, and whatever load remains
    # at start trips the flag at 3.0 regardless of CPU count.
    _wait_quiescent(3.0)
    env_start = _env_snapshot()
    contended = bool(env_start["procs"]) or bool(
        env_start["load"] and env_start["load"][0] > 3.0
    )
    if contended:
        print(
            f"# WARNING: contended environment at start: {env_start} — "
            "numbers will be tagged contended=true",
            file=sys.stderr,
        )

    # Start-of-run calibration on the three CHEAP anchors (~3 s; q41's
    # ~30 s DuckDB run stays end-only): with only an end calibration,
    # drift DURING the 5-min sweep — exactly where the 255-extra block
    # lives — was invisible, and round 12 shipped three 1.7–2.8× extras
    # regressions that took a round to adjudicate as (mostly)
    # environment. calib_start vs calib now brackets the whole sweep.
    calib_start = _duckdb_calibration(
        tuple(a for a in CALIB_ANCHORS if a != "Q41_jaccard_pairs")
    )

    spark = get_session(
        "swivel-spark-prep-bench",
        master=f"local[{CPUS}]",
        conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    qmap = queries()
    if ONLY:
        qmap = {k: v for k, v in qmap.items() if any(s in k for s in ONLY)}
    if not qmap:
        print(f"no queries match filter {ONLY}", file=sys.stderr)
        sys.exit(2)

    # Warm the JVM / parquet footers once with a cheap query.
    next(iter(qmap.values()))(spark, SF_DIR).count()

    from swivel_spark_prep_spark.cache import release_persisted

    # Install the SIGTERM→payload path only now: before this point there
    # is nothing worth printing (and a _Term raised during session
    # startup would escape the try below).
    signal.signal(signal.SIGTERM, _raise_term)

    times: dict[str, float] = {}
    run1: dict[str, float] = {}
    split: dict[str, dict[str, float]] = {}
    loads: dict[str, float] = {}
    env_mid: dict | None = None
    aborted: str | None = None
    try:
      for name, fn in sorted(qmap.items()):
        # sorted order puts every declared Q* before every X* extra, so
        # the first X is the declared/extras block boundary — snapshot
        # it (round-12 verdict, What's missing #2: the extras block ran
        # 25 000+ stages into the session with no env evidence of its
        # own, so a mid-run contention spike was indistinguishable from
        # a plan regression).
        if name.startswith("X"):
            if env_mid is None:
                env_mid = _env_snapshot()
            # deadline: declared Q* always run (they sort first); once
            # the wall budget is spent, remaining extras are skipped —
            # recorded in the payload — so the JSON line always prints
            # inside the driver budget.
            if time.monotonic() - t0_wall > DEADLINE_S:
                if aborted is None:
                    aborted = "deadline"
                    print(
                        f"# deadline {DEADLINE_S:.0f}s reached at {name}; "
                        "skipping remaining extras",
                        file=sys.stderr,
                    )
                continue
        # cache hygiene: operators that persist intermediates (Q41, X06)
        # must not leave blocks that pressure later queries' memory/GC
        spark.catalog.clearCache()
        # one untimed warm run per query (the docstring's "median of N
        # warm runs", made literal): the first execution of a plan pays
        # codegen compilation + OS page-cache fill that median-of-3
        # only partially hides and median-of-2 (bench_sf1) averaged in —
        # the round-8 Q13 "17.7×" was exactly this artifact
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        release_persisted()
        samples = []
        for _ in range(RUNS):
            if RELEASE_PER_RUN:
                # opt-in single-shot protocol (round-16 verdict Next #8):
                # every timed run recomputes persisted intermediates
                # instead of reading run-1's InMemoryRelations.
                release_persisted()
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            # Full result fetch. toArrow().to_pandas() is ~25% faster than
            # toPandas() on wide 600k-row results (measured Q28 sf0.1:
            # 1.85 s vs 2.4 s median) — same Arrow transfer, cheaper
            # pandas materialization (zero-copy blocks, self_destruct).
            pdf = df.toArrow().to_pandas(self_destruct=True, split_blocks=True)
            samples.append(time.perf_counter() - t0)
        times[name] = round(statistics.median(samples), 4)
        # single-shot wall alongside the median (round-16 verdict, What's
        # wrong #4): run 1 computes persisted intermediates fresh, so its
        # wall is the honest no-cache cost; BENCH_LOCAL records both.
        run1[name] = round(samples[0], 4)
        sid = name.split("_", 1)[0]
        if sid in HEAVY:
            # Compute/fetch split for the heavy set: a noop sink executes
            # the FULL physical plan (incl. global sorts) with zero driver
            # transfer, so compute_ms is the plan cost and the remainder
            # is Arrow fetch + pandas materialization. Published so a >2×
            # calib ratio can be adjudicated: plan cost vs fetch artifact.
            cs = []
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                cs.append(time.perf_counter() - t0)
            compute_ms = round(min(cs) * 1000, 1)
            split[sid] = {
                "compute_ms": compute_ms,
                "fetch_ms": round(max(0.0, times[name] * 1000 - compute_ms), 1),
            }
        # release once per QUERY (not per run): persisted intermediates
        # created by run 1 serve runs 2-3 — the same warm-cache
        # methodology as every prior round's numbers — and nothing leaks
        # into the next query's memory pressure (cache.py contract).
        release_persisted()
        # per-query 1-min load (BENCH_LOCAL only): lets a post-hoc diff
        # localize WHICH queries ran under a transient spike instead of
        # condemning the whole block.
        try:
            loads[name] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        print(f"# {name}: {times[name]:.3f}s ({len(pdf)} rows)", file=sys.stderr)
    except _Term:
        aborted = "sigterm"
        print(
            "# SIGTERM received mid-sweep; emitting partial payload",
            file=sys.stderr,
        )

    # --- extras self-adjudication pass (round-15 verdict, Next #1) ---
    # The driver's one-shot-per-extra sweep produced 66 apparent >1.4×
    # regressions on byte-identical code in round 15 (X347: 0.44 s
    # committed vs 3.78 s driver, load1 ≈ 2.6) that the judge cleared by
    # hand against the committed sweep. Make the sweep self-adjudicating:
    # any extra whose wall exceeds 1.5× its committed BENCH_LOCAL history
    # (plus a 0.2 s absolute guard so floor-scale noise doesn't trigger
    # re-runs) is re-measured in-run — median of 3 fresh timed runs (2
    # when the first wall was >5 s, to bound sweep cost) — and BOTH
    # numbers ship with the per-op load so a transient spike can never
    # masquerade as a plan regression again. verdict: "env" when the
    # re-measure lands back inside 1.5× history, "real" otherwise.
    # Round-16 verdict (What's wrong #2): under host steal this pass was
    # UNBOUNDED — 161/422 extras tripped × up to 3 runs ≈ +10 min, which
    # helped kill the driver run. Now capped: worst first/hist ratios
    # first, at most REMEASURE_MAX_TRIPS extras and REMEASURE_BUDGET_S
    # seconds; skipped outright after a deadline/SIGTERM abort.
    hist: dict[str, float] = {}
    if not ONLY:
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_LOCAL.json",
                )
            ) as fh:
                _prior = json.load(fh)
            # history is only comparable at the SAME scale factor — an
            # sf1 sweep read against sf0.1 history would trip (and
            # re-measure) every extra
            sf_now = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
            if str(_prior.get("sf")) == sf_now:
                hist = _prior.get("queries_full", {}) or {}
        except (OSError, ValueError):
            pass
    tripped = sorted(
        (
            n
            for n in times
            if n.startswith("X")
            and hist.get(n)
            and times[n] > 1.5 * hist[n]
            and times[n] - hist[n] >= 0.2
        ),
        key=lambda n: -(times[n] / hist[n]),
    )
    remeasured: dict[str, dict] = {}
    remeasure_skipped = 0
    t_re0 = time.monotonic()
    try:
      for name in tripped:
        if (
            aborted is not None
            or len(remeasured) >= REMEASURE_MAX_TRIPS
            or time.monotonic() - t_re0 > REMEASURE_BUDGET_S
        ):
            remeasure_skipped = len(tripped) - len(remeasured)
            break
        h = hist[name]
        spark.catalog.clearCache()
        qfn = qmap[name]
        qfn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        release_persisted()
        rs = []
        for _ in range(2 if times[name] > 5.0 else 3):
            t0 = time.perf_counter()
            qfn(spark, SF_DIR).toArrow().to_pandas(
                self_destruct=True, split_blocks=True
            )
            rs.append(time.perf_counter() - t0)
        release_persisted()
        med = round(statistics.median(rs), 4)
        try:
            load_re = round(os.getloadavg()[0], 2)
        except OSError:
            load_re = None
        remeasured[name.split("_", 1)[0]] = {
            "first": round(times[name], 3),
            "re": round(med, 3),
            "hist": round(h, 3),
            "load1_first": loads.get(name),
            "load1_re": load_re,
            "verdict": "env" if med <= 1.5 * h else "real",
        }
        print(
            f"# remeasured {name}: first {times[name]:.3f}s -> re {med:.3f}s "
            f"(hist {h:.3f}s, {remeasured[name.split('_', 1)[0]]['verdict']})",
            file=sys.stderr,
        )
    except _Term:
        aborted = "sigterm"
        remeasure_skipped = len(tripped) - len(remeasured)

    # last-write-wins dict build would silently drop a timing if two
    # registered names ever shared a short prefix — fail loudly instead
    short_ids = {n.split("_", 1)[0]: round(t, 3) for n, t in times.items()}
    assert len(short_ids) == len(times), (
        "duplicate short query IDs: "
        + str(sorted(n for n in times if sum(1 for m in times if m.split("_", 1)[0] == n.split("_", 1)[0]) > 1))
    )
    declared_total = round(
        sum(t for n, t in times.items() if n.startswith("Q")), 4
    )
    extra_total = round(sum(t for n, t in times.items() if n.startswith("X")), 4)
    extras_skipped = sorted(
        n for n in qmap if n.startswith("X") and n not in times
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # End calibration includes q41 (~30 s of DuckDB): after a SIGTERM
    # there is no budget left for it — print the line with what we have.
    try:
        calib = _duckdb_calibration() if aborted != "sigterm" else {}
    except _Term:
        aborted, calib = "sigterm", {}
    # Past the last protected block: a _Term raised from here on would
    # escape payload assembly or the snapshot write and lose the line,
    # so a late TERM only sets a flag.
    signal.signal(signal.SIGTERM, _note_term)
    # Calibrated ratio per anchor: Spark wall / in-run DuckDB wall, both
    # measured in THIS environment minutes apart — the number the judge
    # reads instead of the drift-prone cross-file BASELINE.md ratio.
    ratio_calib = {
        k: round(times_ms / calib[k], 2)
        for k, times_ms in (
            (n.split("_", 1)[0].lower(), times[n] * 1000)
            for n in CALIB_ANCHORS
            if n in times
        )
        if k in calib and calib[k] > 0
    }
    # The stdout line must fit the driver's stdout-tail capture — eight
    # rounds of BENCH_r*.json recorded "parsed": null because the
    # 187-query line overflowed it (the tail showed the line truncated at
    # the FRONT). Stdout carries only the declared-44 IDs + totals +
    # calibration (~1 kB); the full per-extra timings, heavy-set
    # compute/fetch split and env snapshots go to BENCH_LOCAL.json.
    declared_ids = {k: v for k, v in short_ids.items() if k.startswith("Q")}
    payload = {
        # value = the 44 declared queries (apples-to-apples with
        # BASELINE.md); X-prefixed extras reported separately. A filtered
        # invocation (bench.py <substr>) is a spot re-bench, not the
        # protocol total — name it so a round-over-round diff can't
        # mistake a partial run for a declared-total collapse.
        "metric": "declared_queries_total_wall" if not ONLY else "partial_rebench",
        "value": declared_total if not ONLY else None,
        "unit": "sec",
        "queries": declared_ids,
        "extra_total_sec": extra_total,
        "n_extra": len(short_ids) - len(declared_ids),
        "sf": float(sf) if sf else SF_DIR,
        "runs": RUNS,
        "cpus": int(CPUS),
        # Environment anchors: DuckDB medians for four BASELINE.md
        # queries (one per workload class), measured in THIS run's
        # environment. Round-over-round Spark totals moved ±30-50% with
        # bit-identical code while these stayed at their BASELINE.md
        # values — compare "calib" before reading a cross-round delta as
        # a plan change; contention moves all four anchors together.
        "calib": calib,
        "calib_start": calib_start,
        "ratio_calib": ratio_calib,
        # Contention guard: loadavg + non-descendant heavy processes at
        # start. A true flag means the wall numbers are unfit for
        # round-over-round comparison (full snapshots in BENCH_LOCAL).
        "contended": contended,
        # Extras-block contention flag from the block-boundary snapshot.
        # PROCS-ONLY trip (unlike the start gate): the boundary loadavg
        # is self-polluted by construction — the declared block just ran
        # flat out on all bench threads, so the 1-min average reads the
        # bench's OWN load (measured: 6.3 at the boundary of a clean
        # run) and a 3.0 trip would fire on every full sweep. External
        # contention mid-run is what the non-descendant heavy-process
        # scan detects; the raw load triple is still recorded in
        # env.mid_extras (and per-query in load1_after_query) for
        # post-hoc localization, self-load caveat applied.
        "extras_contended": bool(env_mid) and bool(env_mid["procs"]),
        # Deadline accounting (round-16 verdict Next #1): how the run was
        # bounded. n_extras_skipped counts X* queries never timed because
        # the wall budget ran out (full ID list in BENCH_LOCAL/PARTIAL);
        # aborted is null / "deadline" / "sigterm". A non-zero skip count
        # means extra_total_sec covers only the timed extras.
        "deadline_s": DEADLINE_S,
        "aborted": aborted,
        "n_extras_skipped": len(extras_skipped),
        "remeasure_skipped": remeasure_skipped,
        "wall_s": round(time.monotonic() - t0_wall, 1),
    }
    if RELEASE_PER_RUN:
        payload["release_per_run"] = True
    if not ONLY:
        # Compact self-adjudication map on stdout: short-ID →
        # [first, remeasured, committed-history] plus an env/real verdict
        # char. Capped at the 40 worst first/hist ratios so the line can
        # never overflow the driver's stdout-tail capture (the full map
        # with loads is in BENCH_LOCAL.json).
        worst = sorted(
            remeasured.items(),
            key=lambda kv: -(kv[1]["first"] / kv[1]["hist"]),
        )
        payload["remeasured"] = {
            k: [v["first"], v["re"], v["hist"], v["verdict"][0]]
            for k, v in worst[:40]
        }
        if len(worst) > 40:
            payload["remeasured_truncated"] = len(worst) - 40
        payload["remeasured_real"] = sorted(
            k for k, v in remeasured.items() if v["verdict"] == "real"
        )
    # Full-fidelity record for round-over-round diffing (not driver-parsed):
    # every extra's timing, the heavy-set split, and both env snapshots.
    # Partial (filtered) runs write a sibling file so a smoke check can
    # never clobber the committed full-sweep snapshot — and so does a
    # deadline/SIGTERM-bounded run: BENCH_LOCAL.json is the self-
    # adjudication history (queries_full) and MUST only ever hold
    # complete sweeps, or round+1's re-measure trips against a hole.
    partial = bool(ONLY) or bool(extras_skipped) or aborted is not None
    snap = "BENCH_PARTIAL.json" if partial else "BENCH_LOCAL.json"
    _emit(
        payload,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), snap),
        {
            **payload,
            "queries": short_ids,
            "queries_full": times,
            "queries_run1": run1,
            "split": split,
            "remeasured_full": remeasured if not ONLY else {},
            "extras_skipped": extras_skipped,
            "load1_after_query": loads,
            "env": {
                "start": env_start,
                "mid_extras": env_mid,
                "end": _env_snapshot() if aborted != "sigterm" else None,
            },
        },
        spark,
    )


def _emit(payload: dict, snap_path: str, snapshot: dict, spark) -> None:
    """Write the snapshot file, stop Spark and print the payload line.
    Runs under the flag-only SIGTERM handler; after a late TERM the
    Spark stop is skipped (the KILL that follows a TERM would otherwise
    find the line unprinted behind a slow JVM shutdown)."""
    try:
        with open(snap_path, "w") as fh:
            json.dump(snapshot, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    if not _TERM_LATE:
        try:  # stop BEFORE printing so no JVM output can follow the line;
            # never let a hung/interrupted stop swallow the payload
            spark.stop()
        except Exception:
            pass
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
