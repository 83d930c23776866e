"""Seeded input generators for the benchmark workloads.

Each generator takes the seed and a directory, writes parquet there, and
returns the traffic dimensions of what it wrote (sizes, planted counts,
file and row-group layout). The same seed always gives the same bytes of
data. Nothing here imports the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- prep-zipf --------------------------------------------------------------

ZIPF = {
    "documents": 2500,
    "tokens_per_doc": 40,
    "zipf_exponent": 1.07,
    "types": 10000,
    "min_count": 3,
    "window": 10,
    "shard_size": 1024,
    "files": 2,
    "row_groups_per_file": 2,
}


def _word(i: int) -> str:
    """A distinct lowercase word for every non-negative integer."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return s


def layout(paths: list[str]) -> dict:
    """File/row-group layout and bytes of a set of parquet files."""
    rgs = [pq.ParquetFile(p).metadata.num_row_groups for p in paths]
    return {
        "files": len(paths),
        "row_groups": sum(rgs),
        "bytes": sum(os.path.getsize(p) for p in paths),
    }


def _write_split(table: pa.Table, out_dir: str, files: int, row_groups: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    paths = []
    for k in range(files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        per_group = -(-part.num_rows // row_groups)
        pq.write_table(part, path, row_group_size=per_group)
        paths.append(path)
    return paths


def zipf_corpus(seed: int, out_dir: str, cfg: dict = ZIPF) -> dict:
    """(doc_id, text) lines whose tokens follow a finite Zipf law over
    ``types`` word types, written as ``files`` parquet files."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, cfg["types"] + 1, dtype=np.float64)
    p = ranks ** -cfg["zipf_exponent"]
    p /= p.sum()
    # the word behind each frequency rank is itself seeded, so token order
    # and frequency order are unrelated
    words = np.array([_word(i) for i in rng.permutation(cfg["types"])], dtype=object)
    n_docs, n_tok = cfg["documents"], cfg["tokens_per_doc"]
    draws = rng.choice(cfg["types"], size=(n_docs, n_tok), p=p)
    texts = [" ".join(words[row]) for row in draws]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    })
    paths = _write_split(table, out_dir, cfg["files"], cfg["row_groups_per_file"])
    return {**cfg, "tokens": int(n_docs * n_tok),
            "distinct_types_drawn": int(len(np.unique(draws))),
            "layout": layout(paths)}


# ---- curate-mix -------------------------------------------------------------

CURATE = {
    "documents": 2000,
    "words_per_doc": (60, 120),
    "exact_dups": 100,
    "near_dups": 100,
    "too_short": 75,
    "contaminated": 50,
    "benchmark_docs": 50,
    "lexicon": 8000,
    "zipf_exponent": 1.1,
    "lang_weights": {"en": 0.55, "de": 0.2, "fr": 0.12, "es": 0.08, "zh": 0.05},
    "files": 2,
    "row_groups_per_file": 1,
}

_STOP = ("the", "and", "to", "of", "with", "that")


def _letters(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(4, 9, size=n)
    codes = rng.integers(97, 123, size=(n, 8))
    return ["".join(map(chr, codes[i, : lens[i]])) for i in range(n)]


def curate_corpus(seed: int, out_dir: str, cfg: dict = CURATE) -> tuple[dict, dict]:
    """A document corpus with planted defects, plus a benchmark relation.

    Base documents draw Zipf-distributed words from a lexicon and hold
    two stopwords each, so they pass the Gopher rules, are never near
    duplicates of each other and share no word with the benchmark. Planted on top, each on its
    own base document: exact duplicates (same text, higher id), near
    duplicates (last word replaced), too-short documents and documents
    that quote six words of a benchmark document. ``lang`` strata are
    unequal. Returns (dimensions, ground truth by doc id)."""
    rng = np.random.default_rng(seed)
    lexicon = sorted(set(_letters(rng, 3 * cfg["lexicon"])) - set(_STOP))
    rng.shuffle(lexicon)
    bench_lex = lexicon[cfg["lexicon"]: 2 * cfg["lexicon"]]  # only in the benchmark
    doc_lex = np.array(lexicon[: cfg["lexicon"]], dtype=object)
    p = np.arange(1, cfg["lexicon"] + 1, dtype=np.float64) ** -cfg["zipf_exponent"]
    p /= p.sum()
    langs = list(cfg["lang_weights"])
    lw = np.array(list(cfg["lang_weights"].values()))

    def doc_text() -> str:
        n = int(rng.integers(*cfg["words_per_doc"]))
        words = list(rng.choice(doc_lex, size=n, p=p))
        for sw in rng.choice(len(_STOP), size=2, replace=False):
            words.insert(int(rng.integers(1, n)), _STOP[sw])
        return " ".join(words)

    n_base = cfg["documents"]
    ids = list(range(n_base))
    texts = [doc_text() for _ in ids]
    lang = list(rng.choice(langs, size=n_base, p=lw / lw.sum()))
    bench_texts = [
        " ".join(rng.choice(bench_lex, size=int(rng.integers(12, 30))))
        for _ in range(cfg["benchmark_docs"])
    ]

    kinds = ("exact_dups", "near_dups", "too_short", "contaminated")
    victims = rng.choice(n_base, size=sum(cfg[k] for k in kinds), replace=False)
    truth: dict[str, list[int]] = {k: [] for k in kinds}
    pos = 0
    next_id = n_base
    for kind in kinds:
        for v in victims[pos: pos + cfg[kind]]:
            v = int(v)
            if kind == "exact_dups":
                ids.append(next_id)
                texts.append(texts[v])
                lang.append(lang[v])
                truth[kind].append(next_id)
                next_id += 1
            elif kind == "near_dups":
                ids.append(next_id)
                words = texts[v].split(" ")
                words[-1] = "zz" + words[-1]
                texts.append(" ".join(words))
                lang.append(lang[v])
                truth[kind].append(next_id)
                next_id += 1
            elif kind == "too_short":
                texts[v] = " ".join(rng.choice(doc_lex, size=3))
                truth[kind].append(v)
            else:
                src = bench_texts[int(rng.integers(len(bench_texts)))].split(" ")
                start = int(rng.integers(0, len(src) - 6))
                words = texts[v].split(" ")
                cut = int(rng.integers(1, len(words)))
                texts[v] = " ".join(words[:cut] + src[start: start + 6] + words[cut:])
                truth[kind].append(v)
        pos += cfg[kind]

    # shuffle row order so planted rows are not clustered at the end
    order = rng.permutation(len(ids))
    docs = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([str(lang[i]) for i in order], pa.string()),
    })
    paths = _write_split(docs, os.path.join(out_dir, "docs"),
                         cfg["files"], cfg["row_groups_per_file"])
    bench = pa.table({
        "doc_id": pa.array(np.arange(len(bench_texts), dtype=np.int64) + 10**9),
        "text": pa.array(bench_texts, pa.string()),
    })
    bench_path = os.path.join(out_dir, "benchmark.parquet")
    pq.write_table(bench, bench_path)
    truth["all_ids"] = [int(i) for i in ids]
    truth["lang"] = [str(g) for g in lang]  # parallel to all_ids
    dims = {
        **{k: v for k, v in cfg.items() if k != "lang_weights"},
        "lang_weights": cfg["lang_weights"],
        "rows": len(ids),
        "lang_counts": {g: int(sum(1 for x in lang if x == g)) for g in langs},
        "layout": layout(paths),
        "benchmark_layout": layout([bench_path]),
    }
    return dims, truth


# ---- queries-declared: a small star schema with the fixture layout ---------

STAR_SF = 0.01
_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, out_dir: str, sf: float = STAR_SF) -> dict:
    """The ten fixture tables (region … embeddings) with the fixture
    schemas and value domains, one single-row-group parquet file each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    day0 = np.datetime64("1995-01-01", "us")
    day_us = np.int64(86_400_000_000)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), f64),
    })
    price = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))], s),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(price, f64),
    })
    odate = day0 + rng.integers(0, 2404, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(day0 + rng.integers(1, 2500, n_line) * day_us, ts_us),
    })
    ev_ts = np.sort(rng.integers(0, 30 * int(day_us), n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    texts = [" ".join(rng.choice(_DOC_WORDS, size=int(k)))
             for k in rng.integers(10, 100, n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    paths = []
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return {"sf": sf, "rows": {k: v.num_rows for k, v in t.items()},
            "layout": layout(paths)}


def main(argv: list[str]) -> None:
    """``inputs.py <workload> <seed> <dir>``: write the workload's inputs
    under <dir> and their traffic dimensions to <dir>/dims.json (and the
    planted ground truth to <dir>/truth.json for curate-mix)."""
    import json

    workload, seed, out_dir = argv[0], int(argv[1]), argv[2]
    truth = None
    if workload == "prep-zipf":
        dims = zipf_corpus(seed, os.path.join(out_dir, "corpus"))
    elif workload == "curate-mix":
        dims, truth = curate_corpus(seed, out_dir)
    elif workload == "queries-declared":
        dims = star_schema(seed, os.path.join(out_dir, "star"))
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "dims.json"), "w") as fh:
        json.dump(dims, fh)
    if truth is not None:
        with open(os.path.join(out_dir, "truth.json"), "w") as fh:
            json.dump(truth, fh)


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
