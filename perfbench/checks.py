"""Independent output checks, run outside the timed region.

Each check returns a dict that maps an artifact name to what is wrong with
it; an empty dict means the output is correct.

- prep: a DuckDB reference of prep.py's semantics, built from the same
  corpus and cached per input, gives the exact vocabulary with its
  0-based rank ids, the row/column sums, nnz and the shard count.
- curate: the ground truth planted by the input generator, plus a
  reference of the temperature resample's deterministic md5 buckets.
- queries: the program's own DuckDB oracles, compared frame by frame.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

# ---- prep -------------------------------------------------------------------


def prep_reference(corpus_dir: str, cfg: dict, cache_path: str) -> dict:
    """Vocabulary (tokens in id order), row sums by id, nnz and N for the
    corpus under prep.py's semantics; cached as JSON at ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads = 1")  # one summation order whenever the cache is built
    con.execute(f"""
        CREATE TABLE toks AS
        SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM read_parquet('{corpus_dir}/*.parquet'))""")
    counts = con.execute(f"""
        SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        HAVING count(*) >= {int(cfg['min_count'])}""").fetchall()
    counts.sort(key=lambda r: (-r[1], r[0].encode()))
    total = len(counts)
    keep = total - total % cfg["shard_size"] if cfg["shard_size"] > 1 else total
    vocab = [t for t, _ in counts[: keep if keep > 0 else total]]
    con.execute("CREATE TABLE vocab (tok VARCHAR, id BIGINT)")
    con.executemany("INSERT INTO vocab VALUES (?, ?)", [(t, i) for i, t in enumerate(vocab)])
    con.execute(f"""
        CREATE TABLE cooc AS
        WITH pairs AS (
            SELECT va.id AS i, vb.id AS j, 1.0 / (b.pos - a.pos) AS w
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos > a.pos
             AND b.pos - a.pos <= {int(cfg['window'])}
            JOIN vocab va ON va.tok = a.tok
            JOIN vocab vb ON vb.tok = b.tok)
        SELECT i, j, sum(w) AS w FROM (
            SELECT i, j, w FROM pairs UNION ALL SELECT j, i, w FROM pairs)
        GROUP BY i, j""")
    nnz = con.execute("SELECT count(*) FROM cooc").fetchone()[0]
    # row_sums.txt holds one line per id that has an entry, in id order
    sums = [r[0] for r in con.execute(
        "SELECT sum(w) FROM cooc GROUP BY i ORDER BY i").fetchall()]
    con.close()
    v = len(vocab)
    ref = {
        "vocab": vocab,
        "row_sums": sums,
        "nnz": int(nnz),
        "vocab_size": v,
        "num_shards": max(v // cfg["shard_size"], 1),
    }
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ref, fh)
    os.replace(tmp, cache_path)
    return ref


def _text_lines(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def check_prep(out_dir: str, ref: dict) -> dict:
    """Check one pass's prep output directory against the reference."""
    from swivel_spark_prep_spark.sinks.tfrecord import decode_example, read_tfrecord

    bad: dict[str, str] = {}
    want = ref["vocab"]
    for name in ("row_vocab.txt", "col_vocab.txt"):
        got = _text_lines(os.path.join(out_dir, name))
        if got != want:
            wrong = sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))
            bad[name] = f"{wrong} of {len(want)} ids differ from the reference (V={len(got)})"
    sums = np.array(ref["row_sums"])
    for name in ("row_sums.txt", "col_sums.txt"):
        got = np.array([float(x) for x in _text_lines(os.path.join(out_dir, name))])
        if got.shape != sums.shape:
            bad[name] = f"{len(got)} sums, reference has {len(sums)}"
        elif not np.allclose(got, sums, rtol=1e-9, atol=1e-9):
            bad[name] = f"{int((~np.isclose(got, sums, rtol=1e-9, atol=1e-9)).sum())} sums differ"
    files = glob.glob(os.path.join(out_dir, "shards", "**", "*.parquet"), recursive=True)
    nnz = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if nnz != ref["nnz"]:
        bad["shards"] = f"nnz {nnz}, reference {ref['nnz']}"
    n = ref["num_shards"]
    pbs = sorted(glob.glob(os.path.join(out_dir, "shards_tfrecord", "shard-*.pb")))
    if len(pbs) != n * n:
        bad["shards_tfrecord"] = f"{len(pbs)} shard files, expected {n}x{n}"
    entries = 0
    for pb in pbs:
        try:
            (payload,) = read_tfrecord(pb)
            ex = decode_example(payload)
            entries += len(ex["sparse_value"][1])
        except Exception as exc:  # a corrupt file is a finding, not a crash
            bad[os.path.basename(pb)] = f"does not decode: {exc!r}"
    if not bad.get("shards_tfrecord") and entries != ref["nnz"]:
        bad["shards_tfrecord"] = f"{entries} sparse entries, reference nnz {ref['nnz']}"
    return bad


# ---- curate -----------------------------------------------------------------


def curate_expected(truth: dict, temperature: float = 2.0, salt: str = "temp") -> set[int]:
    """Doc ids that should reach the sink: every planted defect removed,
    then the temperature resample's md5 bucket rule per ``lang`` stratum."""
    lang = dict(zip(truth["all_ids"], truth["lang"]))
    dropped = set()
    for kind in ("too_short", "exact_dups", "near_dups", "contaminated"):
        dropped.update(truth[kind])
    alive = [i for i in truth["all_ids"] if i not in dropped]
    counts: dict[str, int] = {}
    for i in alive:
        counts[lang[i]] = counts.get(lang[i], 0) + 1
    cmin = min(counts.values())
    thr = {g: math.floor(math.pow(cmin / c, 1.0 - 1.0 / temperature) * 1_000_000)
           for g, c in counts.items()}

    def bucket(i: int) -> int:
        return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16) % 1_000_000

    return {i for i in alive if bucket(i) < thr[lang[i]]}


def check_curate(out_dir: str, manifest: dict, truth: dict) -> dict:
    bad: dict[str, str] = {}
    if not manifest.get("reconciles"):
        bad["manifest"] = "stage counts do not reconcile"
    planted = {"quality_gopher": len(truth["too_short"]),
               "exact_dedup": len(truth["exact_dups"]),
               "near_dup_minhash": len(truth["near_dups"]),
               "decontaminate": len(truth["contaminated"])}
    expected = curate_expected(truth)
    n_resampled = (len(truth["all_ids"]) - sum(planted.values())) - len(expected)
    by_stage = {s["stage"]: s for s in manifest.get("stages", [])}
    for stage, want in {**planted, "temperature_resample": n_resampled}.items():
        got = by_stage.get(stage, {}).get("dropped")
        if got != want:
            bad[f"manifest.{stage}"] = f"dropped {got}, planted {want}"
    data = pads.dataset(os.path.join(out_dir, "data"), format="parquet", partitioning="hive")
    ids = data.to_table(columns=["doc_id"]).column("doc_id").to_pylist()
    if len(ids) != manifest.get("rows_final"):
        bad["data"] = f"{len(ids)} rows read back, manifest says {manifest.get('rows_final')}"
    elif set(ids) != expected or len(set(ids)) != len(ids):
        bad["data"] = (f"{len(set(ids) - expected)} unexpected and "
                       f"{len(expected - set(ids))} missing doc ids")
    return bad


# ---- queries ----------------------------------------------------------------


def check_query(pdf, oracle_pdf) -> dict:
    from swivel_spark_prep_spark.oracle import compare_frames

    problems = compare_frames(pdf, oracle_pdf)
    return {"result": "; ".join(problems)} if problems else {}
