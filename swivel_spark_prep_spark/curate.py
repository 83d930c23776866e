"""End-to-end training-data curation pipeline (round-12 verdict Next #5).

Chains the individually-proven library operators into the one command a
dataset team actually runs, emitting a MANIFEST that reconciles
stage-by-stage — every document entering a stage is accounted for as
either surviving or dropped-with-a-reason:

    ingest → Gopher quality filter → exact dedup → MinHash near-dup
    dedup → contamination screen (vs a benchmark relation) →
    temperature mixture resample → BPE tokenize → concat-and-chunk
    packing → sharded sink (parquet / TFRecord / Avro)

Every stage is the library operator itself (textstats.gopher_quality,
dedup.exact_dedup / minhash_near_dups / fuzzy_dedup_clusters,
contamination.decontaminate, sampling.temperature_resample,
bpe.train_bpe / bpe_encode, packing.pack_sequences, sinks.*) — this
module adds only composition, accounting, and the manifest artifact.

Scale notes: the manifest's counts cost no Spark job of their own. Each
stage's survivor relation carries a ``pyspark.sql.Observation`` (row
count; Gopher rule-failure sums; packed token and chunk totals) that
rides on actions the pipeline runs anyway — the connected-components
checkpoints, ``train_bpe``'s collect, the sink write — and is read after
the sink write. Only relations two consumers read are persisted: the
stage survivors from exact dedup on (MinHash + anti-join,
``decontaminate``, ``temperature_resample``, ``train_bpe`` +
``bpe_encode``) and the BPE-encoded relation (packing kernel + join, so
the merge chain runs once); all are released before ``curate`` returns.
Nothing row-scale ever reaches the driver; the manifest holds counts
and config only.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from swivel_spark_prep_spark.cache import persisted_scope, track_persist

GOPHER_RULES = (
    "ok_word_count",
    "ok_mean_word_len",
    "ok_symbol_ratio",
    "ok_bullet",
    "ok_ellipsis",
    "ok_alpha",
    "ok_stopwords",
)


def _stage(manifest: list, name: str, rows_in: int, rows_out: int,
           config: dict, drop_reasons: dict | None = None) -> None:
    entry = {
        "stage": name,
        "rows_in": rows_in,
        "rows_out": rows_out,
        "dropped": rows_in - rows_out,
        "config": config,
    }
    if drop_reasons is not None:
        entry["drop_reasons"] = drop_reasons
    manifest.append(entry)


def _write_rejects(enabled: bool, out_dir: str, stage: str,
                   df: DataFrame) -> None:
    if enabled:
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, "rejects", stage)
        )


def _observe(df: DataFrame, *extra, rows=None) -> tuple[DataFrame, Observation]:
    """Attach an Observation holding ``rows`` (default: the row count)
    and ``extra`` to ``df``. The metrics are those of the FIRST action
    that runs the observed node, so that action must read the whole
    relation: a ``limit``/``isEmpty``/``take`` reaching it first would
    leave a partial count in the manifest."""
    obs = Observation()
    rows = F.count(F.lit(1)) if rows is None else rows
    return df.observe(obs, rows.alias("rows"), *extra), obs


# every handle persisted inside a call (stage caches, the BPE relation,
# the prefix kernel's tagged relation, the MinHash shingles) is released
# when it returns, after the sink write has read them
@persisted_scope()
def curate(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str | None = "lang",
    min_words: int = 5,
    minhash_threshold: float = 0.8,
    minhash_hashes: int = 32,
    minhash_bands: int = 8,
    contamination_ngram: int = 3,
    contamination_min_shared: int = 2,
    temperature: float = 2.0,
    bpe_merges: int = 100,
    chunk_tokens: int = 512,
    shards: int = 8,
    sink: str = "parquet",
    gopher_kwargs: dict | None = None,
    keep_rejects: bool = False,
) -> dict[str, Any]:
    """Run the full curation pipeline; write the packed corpus to
    ``out_dir`` and ``manifest.json`` beside it; return the manifest.

    ``keep_rejects=True`` additionally writes, under
    ``out_dir/rejects/<stage>/``, the id of every document each stage
    dropped plus the stage's own evidence (the failed Gopher rule
    booleans; the surviving duplicate's id for both dedup stages; the
    contamination/resample drop is the id alone) — the triage trail a
    curation run needs when someone asks "why did my document
    disappear". Costs one extra write per dropping stage, and for the
    first two stages a second run of the lineage they read (the
    ingest and Gopher survivors are not persisted); the manifest's
    counts are the same either way.

    ``benchmark=None`` skips the contamination stage (recorded in the
    manifest as skipped, not silently absent); ``strata_col=None`` or
    ``temperature=1.0`` likewise skips resampling (T=1 is the natural
    distribution).  ``sink`` ∈ parquet | tfrecord | avro.
    """
    from swivel_spark_prep_spark.operators import contamination, dedup, sampling
    from swivel_spark_prep_spark.operators.bpe import bpe_encode, train_bpe
    from swivel_spark_prep_spark.operators.packing import pack_sequences
    from swivel_spark_prep_spark.operators.textstats import gopher_quality

    if sink not in ("parquet", "tfrecord", "avro"):
        raise ValueError(f"unknown sink: {sink!r}")
    cfg_all = {
        "min_words": min_words,
        "minhash": {"threshold": minhash_threshold,
                    "num_hashes": minhash_hashes, "bands": minhash_bands},
        "contamination": None if benchmark is None else {
            "ngram": contamination_ngram,
            "min_shared": contamination_min_shared},
        "temperature": temperature,
        "strata_col": strata_col,
        "bpe_merges": bpe_merges,
        "chunk_tokens": chunk_tokens,
        "shards": shards,
        "sink": sink,
        "keep_rejects": keep_rejects,
    }
    # (stage, Observation or None when skipped, config, drop reasons):
    # the manifest is built from these after the sink write, when every
    # observed relation has run. A reason is a key for the stage's whole
    # drop count, or a function of the observed row.
    ledger: list[tuple] = []
    caches: list[DataFrame] = []

    def survivors(df, stage, config, reason):
        """Observe a stage's survivors and persist them: from exact
        dedup on, every survivor relation has two readers."""
        df, obs = _observe(df)
        ledger.append((stage, obs, config, reason))
        caches.append(track_persist(df))
        return caches[-1]

    cur, obs = _observe(docs.select(id_col, text_col, *(
        [strata_col] if strata_col else [])))
    ledger.append(("ingest", obs, {"columns": cur.columns}, None))

    # ---- 1. Gopher quality filter: each rule's boolean is a column, so
    # the drop-reason histogram is ONE observed aggregate over the
    # failed rows (a document can fail several rules; reasons sum >=
    # dropped).
    failed = ~F.col("gopher_pass")
    scored, obs = _observe(
        gopher_quality(cur, text_col=text_col,
                       min_words=min_words, **(gopher_kwargs or {})),
        *[F.count_if(failed & ~F.col(r)).alias(r) for r in GOPHER_RULES],
        rows=F.count_if(F.col("gopher_pass")),
    )
    ledger.append((
        "quality_gopher", obs,
        {"min_words": min_words, **(gopher_kwargs or {})},
        lambda got: {"fail_" + r.removeprefix("ok_"): int(got[r] or 0)
                     for r in GOPHER_RULES},
    ))
    _write_rejects(
        keep_rejects, out_dir, "quality_gopher",
        scored.filter(failed).select(id_col, *GOPHER_RULES),
    )
    cur = scored.filter("gopher_pass").select(*cur.columns)

    # ---- 2. exact dedup (min-id survivor per md5(text))
    kept = survivors(
        dedup.exact_dedup(cur, content_col=text_col, key_col=id_col),
        "exact_dedup", {"key": "md5(text)"}, "exact_duplicate")
    if keep_rejects:
        h = F.md5(F.col(text_col))
        kept_ids = kept.select(h.alias("_h"), F.col(id_col).alias("kept_id"))
        dropped = (
            cur.join(kept.select(id_col), id_col, "left_anti")
            .select(F.col(id_col), h.alias("_h"))
            .join(kept_ids, "_h")
            .select(id_col, "kept_id")
        )
        _write_rejects(True, out_dir, "exact_dedup", dropped)
    cur = kept

    # ---- 3. MinHash-LSH near-dup dedup: banded candidate pairs →
    # connected components → keep the min-id representative per cluster
    pairs = dedup.minhash_near_dups(
        cur, text_col=text_col, doc_col=id_col,
        num_hashes=minhash_hashes, num_bands=minhash_bands,
        jaccard_threshold=minhash_threshold,
    )
    clusters = dedup.fuzzy_dedup_clusters(cur, pairs, doc_col=id_col)
    removals = clusters.filter(~F.col("is_rep")).select(
        F.col("doc_id").alias("__rm_id")
    )
    _write_rejects(
        keep_rejects, out_dir, "near_dup_minhash",
        clusters.filter(~F.col("is_rep")).select(
            F.col("doc_id").alias(id_col), F.col("rep_id").alias("kept_id")
        ),
    )
    # anti join keyed on id; the removal set is bounded by the duplicate
    # count, so AQE broadcasts it when small — not forced, in case a
    # pathological corpus is mostly duplicates
    cur = survivors(
        cur.join(removals, cur[id_col] == F.col("__rm_id"), "left_anti"),
        "near_dup_minhash", cfg_all["minhash"], "near_duplicate")

    # ---- 4. contamination screen vs the benchmark relation
    if benchmark is not None:
        kept = survivors(contamination.decontaminate(
            cur, benchmark, n=contamination_ngram,
            min_shared=contamination_min_shared,
            text_col=text_col, doc_col=id_col,
        ), "decontaminate", cfg_all["contamination"], "benchmark_overlap")
        _write_rejects(
            keep_rejects, out_dir, "decontaminate",
            cur.join(kept.select(id_col), id_col, "left_anti").select(id_col),
        )
        cur = kept
    else:
        ledger.append(("decontaminate", None, {"skipped": "no benchmark"},
                       None))

    # ---- 5. temperature mixture resample over the strata column
    if strata_col and temperature > 1.0:
        kept = survivors(
            sampling.temperature_resample(
                cur, strata_col, id_col, temperature=temperature),
            "temperature_resample",
            {"temperature": temperature, "strata_col": strata_col},
            "mixture_downsample")
        _write_rejects(
            keep_rejects, out_dir, "temperature_resample",
            cur.join(kept.select(id_col), id_col, "left_anti").select(id_col),
        )
        cur = kept
    else:
        ledger.append(("temperature_resample", None,
                       {"skipped": "temperature<=1 or no strata_col"}, None))

    # ---- 6. BPE tokenize (merge table learned on the SURVIVORS — the
    # tokenizer should see the distribution it will serve)
    merges = train_bpe(cur, text_col=text_col, num_merges=bpe_merges)
    # train_bpe's collect has loaded ``cur``; the earlier stage caches
    # have no reader left (an uncache keeps loaded dependants as they are)
    for df in caches[:-1]:
        df.unpersist()
    # persisted: the packing prefix kernel and the join both read it, so
    # the merge chain runs once
    tokenized = track_persist(bpe_encode(cur, merges, text_col=text_col))
    # ---- 7. concat-and-chunk packing by the BPE token count
    packed = pack_sequences(tokenized, chunk_tokens, text_col=text_col,
                            order_col=id_col, token_count_col="n_tok")
    out, packed_obs = _observe(
        tokenized.join(packed.select(id_col, "first_chunk", "last_chunk"),
                       id_col)
        .withColumn("shard", (F.col("first_chunk") % shards).cast("int")),
        F.sum("n_tok").alias("total_tokens"),
        (F.max("last_chunk") + 1).alias("n_chunks"),
    )
    ledger.append(("tokenize_pack", packed_obs,
                   {"bpe_merges": len(merges), "chunk_tokens": chunk_tokens},
                   None))

    # ---- 8. sharded sink
    os.makedirs(out_dir, exist_ok=True)
    data_dir = os.path.join(out_dir, "data")
    sink_df = out.repartition(shards, "shard")
    if sink == "parquet":
        sink_df.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
        written = None
    elif sink == "avro":
        from swivel_spark_prep_spark.sinks import write_avro

        written = write_avro(sink_df.drop("tokens"), data_dir)
    else:
        from swivel_spark_prep_spark.sinks.tfrecord import write_tfrecord_docs

        written = write_tfrecord_docs(sink_df.drop("tokens"), data_dir)

    manifest: list[dict] = []
    n = None
    for name, obs, config, reasons in ledger:
        got = obs.get if obs is not None else {"rows": n}
        n_in = got["rows"] if n is None else n
        if isinstance(reasons, str):
            reasons = {reasons: n_in - got["rows"]}
        elif reasons is not None:
            reasons = reasons(got)
        _stage(manifest, name, n_in, got["rows"], config, reasons)
        n = got["rows"]
    written = n if written is None else written
    _stage(manifest, "sink", n, written, {"format": sink, "path": data_dir})

    result = {
        "config": cfg_all,
        "stages": manifest,
        "rows_final": written,
        "total_tokens": int(packed_obs.get["total_tokens"] or 0),
        "n_chunks": int(packed_obs.get["n_chunks"] or 0),
        "bpe_merges": ["%s+%s" % m for m in merges],
        "reconciles": all(
            manifest[i]["rows_out"] == manifest[i + 1]["rows_in"]
            for i in range(len(manifest) - 1)
        ),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return result
