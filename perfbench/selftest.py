"""Shows that every output check of the benchmark can fail.

usage (from the root of a checkout):  python3 perfbench/selftest.py

Runs each workload once on small inputs, checks the real output (which
must pass: the inputs are small enough that the program's known
vocabulary-id defect does not occur), then corrupts copies of that
output and checks that each corruption is caught:
- prep-zipf: two vocabulary ids swapped; one shard file deleted;
- curate-mix: one sink row deleted; one manifest drop count changed;
- queries-declared: one value of one result row changed.
Prints one JSON line per case and exits 1 if any case went the wrong way.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

import inputs
import run

SEED = 7
TINY_ZIPF = {**inputs.ZIPF, "documents": 300, "tokens_per_doc": 30, "types": 200,
             "min_count": 2, "shard_size": 32}
TINY_CURATE = {**inputs.CURATE, "documents": 300, "exact_dups": 10, "near_dups": 10,
               "too_short": 8, "contaminated": 5}
TINY_QUERIES = ["Q13_agg_tpch_q1", "Q33_vocab_ids", "Q35_shard_marginals"]


def case(name: str, problems: dict, expect_fail: bool) -> bool:
    ok = bool(problems) == expect_fail
    print(json.dumps({"case": name, "expect": "fail" if expect_fail else "pass",
                      "ok": ok, "problems": problems}))
    return ok


def copy(src: str, tag: str) -> str:
    dst = f"{src}-{tag}"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


def prep_cases(spark, base: str) -> list[bool]:
    run_dir = os.path.join(base, "prep")
    dims = {**inputs.zipf_corpus(SEED, os.path.join(run_dir, "corpus"), TINY_ZIPF),
            "seed": SEED}
    wl = run.PrepZipf(spark, run_dir, dims, os.path.join(base, "ref"))
    out = wl.run(0, run.NoTrace())
    results = [case("prep: real output", wl.check(out), False)]

    swapped = copy(out["out"], "swapped")
    (vocab,) = glob.glob(os.path.join(swapped, "row_vocab.txt", "part-*"))
    with open(vocab) as fh:
        lines = fh.read().splitlines()
    lines[0], lines[1] = lines[1], lines[0]
    with open(vocab, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    results.append(case("prep: two vocab ids swapped", wl.check({"out": swapped}), True))

    missing = copy(out["out"], "missing")
    os.remove(sorted(glob.glob(os.path.join(missing, "shards_tfrecord", "shard-*.pb")))[-1])
    results.append(case("prep: one shard file deleted", wl.check({"out": missing}), True))
    return results


def curate_cases(spark, base: str) -> list[bool]:
    run_dir = os.path.join(base, "curate")
    dims, truth = inputs.curate_corpus(SEED, run_dir, TINY_CURATE)
    wl = run.CurateMix(spark, run_dir, dims, truth)
    out = wl.run(0, run.NoTrace())
    results = [case("curate: real output", wl.check(out), False)]

    short = copy(out["out"], "short")
    part = sorted(glob.glob(os.path.join(short, "data", "*", "*.parquet")))[0]
    table = pq.read_table(part)
    pq.write_table(table.slice(1), part)
    results.append(case("curate: one sink row deleted",
                        wl.check({**out, "out": short}), True))

    manifest = json.loads(json.dumps(out["manifest"]))
    stage = next(s for s in manifest["stages"] if s["stage"] == "near_dup_minhash")
    stage["dropped"] -= 1
    results.append(case("curate: manifest drop count changed",
                        wl.check({**out, "manifest": manifest}), True))
    return results


def query_cases(spark, base: str) -> list[bool]:
    run_dir = os.path.join(base, "queries")
    dims = inputs.star_schema(SEED, os.path.join(run_dir, "star"), sf=0.001)
    wl = run.QueriesDeclared(spark, run_dir, dims)
    wl.order = TINY_QUERIES
    ops = wl.run(0, run.NoTrace())["ops"]
    results = [case(f"queries: real {op['name']}", wl.check_op(op), False) for op in ops]
    op = next(o for o in ops if len(o["pdf"]))
    pdf = op["pdf"].copy()
    col = next(c for c in pdf.columns if pdf[c].dtype.kind in "if")
    pdf.loc[0, col] = pdf.loc[0, col] + 1
    results.append(case(f"queries: one value of {op['name']} changed",
                        wl.check_op({**op, "pdf": pdf}), True))
    return results


def main() -> int:
    if not os.path.isdir(os.path.join(run.ROOT, run.PACKAGE)):
        print(f"selftest: {run.PACKAGE}/ is not in {run.ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(run.ROOT, ".scratch", "perfbench")
    base = os.path.join(work, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    conf = run.isolate(work)
    from swivel_spark_prep_spark.session import get_session

    spark = get_session(conf=conf)
    try:
        results = (prep_cases(spark, base) + curate_cases(spark, base)
                   + query_cases(spark, base))
    finally:
        run.stop_session(spark)
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
