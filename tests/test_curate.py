"""End-to-end curation pipeline (curate.py): the manifest must
reconcile stage-by-stage — every document entering a stage is accounted
for as surviving or dropped-with-a-reason — and the sink must hold
exactly rows_final documents (round-12 verdict Next #5)."""

from __future__ import annotations

import json
import os

import pytest

from swivel_spark_prep_spark.curate import curate


def _corpus(spark):
    """Synthetic corpus where every stage has known work to do:
    - doc 0/1: exact duplicates (same text)
    - doc 2/3: near duplicates (one word differs in a long text)
    - doc 4: too short (fails Gopher word count at min_words=5)
    - doc 5: contaminated (shares 3-grams with the benchmark)
    - docs 6..25: unique long docs, langs imbalanced (en:fr = 16:4)
    """
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (0, base + " alpha beta gamma delta epsilon zeta", "en"),
        (1, base + " alpha beta gamma delta epsilon zeta", "en"),
        (2, base + " one two three four five six seven eight nine ten", "en"),
        (3, base + " one two three four five six seven eight nine zz", "en"),
        (4, "way too short", "en"),
        (5, "benchmark secret holdout question answer pair leaked into corpus somehow today", "en"),
    ]
    for i in range(6, 26):
        lang = "fr" if i % 5 == 0 else "en"
        rows.append((i, f"document {i} " + " ".join(
            f"tok{i}w{j}" for j in range(20)), lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bench = spark.createDataFrame(
        [(100, "benchmark secret holdout question answer pair")],
        "doc_id long, text string",
    )
    return docs, bench


@pytest.mark.parametrize("sink", ["parquet", "tfrecord", "avro"])
def test_curate_manifest_reconciles(spark, tmp_path, sink):
    docs, bench = _corpus(spark)
    out = str(tmp_path / f"out_{sink}")
    man = curate(
        spark, docs, out, benchmark=bench, min_words=5,
        minhash_threshold=0.7, temperature=2.0, bpe_merges=20,
        chunk_tokens=64, shards=3, sink=sink,
        gopher_kwargs={"min_stopwords": 0},
    )
    # stage-chain reconciliation: rows_out(i) == rows_in(i+1) and
    # rows_in - dropped == rows_out within every stage
    stages = man["stages"]
    for s in stages:
        assert s["rows_in"] - s["dropped"] == s["rows_out"], s
    for a, b in zip(stages, stages[1:]):
        assert a["rows_out"] == b["rows_in"], (a, b)
    assert man["reconciles"] is True

    by_name = {s["stage"]: s for s in stages}
    assert by_name["ingest"]["rows_in"] == 26
    # doc 4 fails the word-count rule
    assert by_name["quality_gopher"]["dropped"] == 1
    assert by_name["quality_gopher"]["drop_reasons"]["fail_word_count"] == 1
    # docs 0/1 are byte-identical -> one survivor
    assert by_name["exact_dedup"]["dropped"] == 1
    # docs 2/3 are near dups at jaccard 0.7 -> one survivor
    assert by_name["near_dup_minhash"]["dropped"] == 1
    # doc 5 shares >= 2 distinct 3-grams with the benchmark
    assert by_name["decontaminate"]["dropped"] >= 1
    # temperature resample keeps the smallest stratum whole
    assert by_name["temperature_resample"]["rows_out"] >= 4

    # sink holds exactly rows_final documents
    assert man["rows_final"] == stages[-1]["rows_out"]
    assert man["total_tokens"] > 0 and man["n_chunks"] >= 1
    data_dir = os.path.join(out, "data")
    if sink == "parquet":
        back = spark.read.parquet(data_dir)
        assert back.count() == man["rows_final"]
        assert {"doc_id", "text", "n_tok", "first_chunk", "shard"} <= set(
            back.columns
        )
    elif sink == "tfrecord":
        from swivel_spark_prep_spark.sinks.tfrecord import read_tfrecord

        n = sum(
            len(read_tfrecord(os.path.join(data_dir, f)))
            for f in os.listdir(data_dir)
        )
        assert n == man["rows_final"]
    else:
        from swivel_spark_prep_spark.sources import read_avro

        assert read_avro(spark, data_dir).count() == man["rows_final"]

    # the manifest artifact on disk equals the returned dict
    with open(os.path.join(out, "manifest.json")) as fh:
        assert json.load(fh) == man


def test_curate_skips_are_recorded(spark, tmp_path):
    docs, _ = _corpus(spark)
    man = curate(
        spark, docs.select("doc_id", "text"), str(tmp_path / "o"),
        benchmark=None, strata_col=None, min_words=5, bpe_merges=10,
        chunk_tokens=64, shards=2, gopher_kwargs={"min_stopwords": 0},
    )
    by_name = {s["stage"]: s for s in man["stages"]}
    assert "skipped" in by_name["decontaminate"]["config"]
    assert "skipped" in by_name["temperature_resample"]["config"]
    assert by_name["decontaminate"]["dropped"] == 0
    assert man["reconciles"] is True


def test_curate_cli_subcommand(spark, tmp_path):
    """Drive the same pipeline through the CLI surface (in-process: the
    CLI reuses the active session rather than building its own)."""
    from swivel_spark_prep_spark.cli import main

    docs, bench = _corpus(spark)
    inp, bp = str(tmp_path / "docs.parquet"), str(tmp_path / "bench.parquet")
    docs.write.parquet(inp)
    bench.write.parquet(bp)
    out = str(tmp_path / "cli_out")
    rc = main([
        "curate", inp, out, "--benchmark", bp, "--min-words", "5",
        "--min-stopwords", "0", "--bpe-merges", "10",
        "--chunk-tokens", "64", "--shards", "2",
    ])
    assert rc == 0
    with open(os.path.join(out, "manifest.json")) as fh:
        man = json.load(fh)
    assert man["reconciles"] is True and man["rows_final"] > 0


def test_curate_keep_rejects_reconciles(spark, tmp_path):
    """rejects/<stage>/ row counts must equal the manifest's dropped
    counts, every rejected id must come from the stage's input, and
    both dedup stages must name a surviving kept_id that is NOT itself
    rejected."""
    docs, bench = _corpus(spark)
    out = str(tmp_path / "rej")
    man = curate(
        spark, docs, out, benchmark=bench, min_words=5,
        minhash_threshold=0.7, temperature=2.0, bpe_merges=10,
        chunk_tokens=64, shards=2, gopher_kwargs={"min_stopwords": 0},
        keep_rejects=True,
    )
    by_name = {s["stage"]: s for s in man["stages"]}
    for stage in ("quality_gopher", "exact_dedup", "near_dup_minhash",
                  "decontaminate", "temperature_resample"):
        dropped = by_name[stage]["dropped"]
        path = os.path.join(out, "rejects", stage)
        rej = spark.read.parquet(path)
        assert rej.count() == dropped, stage
    # quality rejects carry the rule booleans; doc 4 failed word count
    q = spark.read.parquet(os.path.join(out, "rejects", "quality_gopher"))
    row = q.collect()[0]
    assert row["doc_id"] == 4 and row["ok_word_count"] is False
    # dedup rejects carry a surviving kept_id
    for stage in ("exact_dedup", "near_dup_minhash"):
        rej = spark.read.parquet(os.path.join(out, "rejects", stage)).collect()
        for r in rej:
            assert r["kept_id"] != r["doc_id"]
    assert man["config"]["keep_rejects"] is True


def _generated_corpus(spark, tmp_path):
    """A few hundred seeded docs written as 3 parquet files: unique
    stopword-bearing docs in unequal lang strata, plus planted exact
    copies, one-word-changed near copies, short docs, '#'-heavy docs,
    stopword-free docs and docs quoting a benchmark passage."""
    import random

    rng = random.Random(7)
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                     for _ in range(rng.randint(4, 7))) for _ in range(300)]

    def words(k):
        return [rng.choice(vocab) for _ in range(k)]

    passages = [" ".join(words(8)) for _ in range(3)]
    base = []
    for i in range(300):
        w = words(rng.randint(30, 60))
        w[3:3] = ["the", "and"]
        lang = "en" if i % 10 < 7 else ("fr" if i % 10 < 9 else "de")
        base.append((i, " ".join(w), lang))
    rows = list(base)
    nxt = len(rows)
    for k, (_, text, lang) in enumerate(rng.sample(base, 20)):  # exact
        rows.append((nxt + k, text, lang))
    nxt += 20
    for k, (_, text, lang) in enumerate(rng.sample(base, 15)):  # near
        rows.append((nxt + k, text.rsplit(" ", 1)[0] + " zzzz", lang))
    nxt += 15
    planted = (
        [" ".join(words(2)) for _ in range(15)]  # short
        + [" ".join(f"#{w}" for w in words(20)) + " the and" for _ in range(5)]
        + [" ".join(words(25)) for _ in range(5)]  # no stopwords
        + [" ".join(words(10)) + " the " + passages[k % 3] + " and "
           + " ".join(words(10)) for k in range(10)]  # contaminated
    )
    for k, text in enumerate(planted):
        rows.append((nxt + k, text, "en"))
    path = str(tmp_path / "gen_docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .repartition(3).write.parquet(path)
    bench = spark.createDataFrame(
        list(enumerate(passages)), "doc_id long, text string")
    docs = spark.read.parquet(path)
    assert len(docs.inputFiles()) >= 2
    return docs, bench


def _reference_counts(docs, bench, kw):
    """Each stage's survivor count, the Gopher fail sums and the packing
    totals, from the same operators called outside curate."""
    from pyspark.sql import functions as F

    from swivel_spark_prep_spark.cache import track_persist
    from swivel_spark_prep_spark.curate import GOPHER_RULES
    from swivel_spark_prep_spark.operators import contamination, dedup, sampling
    from swivel_spark_prep_spark.operators.bpe import bpe_encode, train_bpe
    from swivel_spark_prep_spark.operators.packing import pack_sequences
    from swivel_spark_prep_spark.operators.textstats import gopher_quality

    cur = docs.select("doc_id", "text", "lang")
    counts = [cur.count()]
    scored = track_persist(gopher_quality(cur, min_words=kw["min_words"]))
    failed = scored.filter(~F.col("gopher_pass"))
    reasons = {"fail_" + r.removeprefix("ok_"): failed.filter(~F.col(r)).count()
               for r in GOPHER_RULES}
    cur = track_persist(scored.filter("gopher_pass").select(*cur.columns))
    counts.append(cur.count())
    cur = track_persist(dedup.exact_dedup(cur))
    counts.append(cur.count())
    pairs = dedup.minhash_near_dups(cur, num_hashes=32, num_bands=8,
                                    jaccard_threshold=0.8)
    reps = dedup.fuzzy_dedup_clusters(cur, pairs).filter("is_rep")
    cur = track_persist(cur.join(reps.select("doc_id"), "doc_id", "left_semi"))
    counts.append(cur.count())
    cur = track_persist(contamination.decontaminate(cur, bench))
    counts.append(cur.count())
    cur = track_persist(sampling.temperature_resample(cur, "lang", "doc_id"))
    counts.append(cur.count())
    tok = track_persist(bpe_encode(cur, train_bpe(cur, num_merges=kw["bpe_merges"])))
    packed = pack_sequences(tok, kw["chunk_tokens"], token_count_col="n_tok")
    counts.append(tok.join(packed.select("doc_id"), "doc_id").count())
    (total,) = tok.agg(F.sum("n_tok")).first()
    (chunks,) = packed.agg(F.max("last_chunk") + 1).first()
    return counts, reasons, total, chunks


def test_curate_observed_counts_match_operators_without_count(
        spark, tmp_path, monkeypatch):
    """The manifest's counts come from Observations riding on the
    pipeline's own actions: every figure must equal a count taken by
    calling the same operators outside curate, and curate itself must
    call DataFrame.count zero times (collect once, in train_bpe)."""
    docs, bench = _generated_corpus(spark, tmp_path)
    kw = {"min_words": 5, "bpe_merges": 30, "chunk_tokens": 128}
    calls = {"count": 0, "collect": 0}
    cls = type(docs)
    with monkeypatch.context() as m:
        for name in calls:
            def wrapped(self, *a, _orig=getattr(cls, name), _name=name, **k):
                calls[_name] += 1
                return _orig(self, *a, **k)
            m.setattr(cls, name, wrapped)
        man = curate(spark, docs, str(tmp_path / "out"), benchmark=bench,
                     shards=3, sink="parquet", **kw)
    assert calls == {"count": 0, "collect": 1}

    counts, reasons, total, chunks = _reference_counts(docs, bench, kw)
    stages = man["stages"]
    assert [s["stage"] for s in stages] == [
        "ingest", "quality_gopher", "exact_dedup", "near_dup_minhash",
        "decontaminate", "temperature_resample", "tokenize_pack", "sink"]
    assert [s["rows_in"] for s in stages] == [counts[0], *counts]
    assert [s["rows_out"] for s in stages] == [*counts, counts[-1]]
    assert stages[1]["drop_reasons"] == reasons
    assert man["total_tokens"] == total and man["n_chunks"] == chunks
    assert man["reconciles"] is True
    # every planted defect reached its stage
    dropped = {s["stage"]: s["dropped"] for s in stages}
    assert dropped["quality_gopher"] >= 25 and dropped["exact_dedup"] == 20
    assert dropped["near_dup_minhash"] >= 1
    assert dropped["decontaminate"] >= 1
    assert dropped["temperature_resample"] >= 1
    assert reasons["fail_word_count"] >= 15 and reasons["fail_stopwords"] >= 5
