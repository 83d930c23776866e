"""Deduplication operators for large-scale training-data pipelines.

- exact dedup: content-hash groupBy (Q39/Q40 as an API);
- MinHash + LSH banding: shingle → per-seed min-hash signature → band
  buckets → bucket-join candidates → exact-Jaccard verify;
- SimHash: 64-bit signature + Hamming-band blocking;
- n-gram Jaccard (exact): the deterministic oracle twin (Q41 generalized).

Scale notes: signatures are computed with JVM-side higher-order functions
(transform/array_min over the shingle array — no explode of |shingles|×H
rows, no Python). Candidate generation joins on (band_idx, band_hash) —
hash-partitioned, no all-pairs. The exact-verify stage re-joins the
shingle arrays only for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from swivel_spark_prep_spark.cache import (
    checkpoint_truncate,
    fan_out as _spread,  # promoted to cache.fan_out in round 16 so every
    # operator family shares the single-input-split fan-out (rationale
    # and scale argument live on cache.fan_out)
    track_persist,
)


# --- exact dedup -----------------------------------------------------------

def exact_dedup(
    df: DataFrame, content_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Survivors: keep the min key per content hash (md5). Partitioned
    window — hash-partitioned by digest, no global sort."""
    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(key_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen: DataFrame,
    content_col: str = "text",
    seen_hash_col: str = "content_hash",
) -> DataFrame:
    """Survivors among `new_docs` whose content was never seen before:
    dedup the batch internally, then anti-join against the accumulated
    hash set. `seen` is (content_hash) — at pipeline scale a bucketed
    table on content_hash so successive increments join co-located
    without a shuffle of the (much larger) history side. The streaming
    twin of this operator is streaming.stream_exact_dedup."""
    batch = exact_dedup(new_docs, content_col)
    return batch.withColumn("_h", F.md5(F.col(content_col))).join(
        seen.select(F.col(seen_hash_col).alias("_h")),
        "_h",
        "left_anti",
    ).drop("_h")


def remove_common_lines(
    docs: DataFrame,
    min_df: int = 5,
    sep: str = "\n",
    content_col: str = "text",
    key_col: str = "doc_id",
    min_df_frac: float | None = None,
) -> DataFrame:
    """Boilerplate removal: drop every LINE that appears (as an exact
    string) in ≥ min_df distinct documents — headers, footers, cookie
    banners, nav menus. The CommonCrawl-style sub-document dedup that
    document-level dedup can't express.

    ``min_df_frac`` makes the threshold relative: a line is boilerplate
    when its document frequency ≥ ceil(min_df_frac · |docs|). The corpus
    size is folded into the plan as a 1-row broadcast aggregate — no
    driver-side count() job before the main plan.

    Plan: posexplode lines → line-hash df count (distinct docs per line,
    partial+final agg) → join the small "common lines" set back
    broadcast → filter → reassemble with concat_ws over collect_list
    sorted by position (struct sort keeps the surviving lines in original
    order). Docs that lose every line survive with empty text."""
    lines = docs.select(
        F.col(key_col).alias("_k"),
        F.posexplode(F.split(F.col(content_col), sep)).alias("_pos", "_line"),
    ).withColumn("_h", F.xxhash64("_line"))
    dfs = lines.groupBy("_h").agg(F.countDistinct("_k").alias("_df"))
    if min_df_frac is not None:
        total = docs.select(F.count("*").alias("_n_docs"))
        dfs = dfs.crossJoin(F.broadcast(total)).filter(
            F.col("_df")
            >= F.ceil(F.lit(min_df_frac) * F.col("_n_docs")).cast("long")
        )
    else:
        dfs = dfs.filter(F.col("_df") >= min_df)
    common = dfs.select("_h")
    kept = lines.join(F.broadcast(common), "_h", "left_anti")
    rebuilt = (
        kept.groupBy("_k")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias("_clean")
        )
    )
    out_cols = [c for c in docs.columns if c != content_col]
    return (
        docs.join(rebuilt, F.col(key_col) == F.col("_k"), "left")
        .select(
            *out_cols,
            F.coalesce(F.col("_clean"), F.lit("")).alias(content_col),
        )
    )


# --- shingling -------------------------------------------------------------

def shingle(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingles): sorted distinct n-token shingles (token
    n-grams joined by single spaces). Docs shorter than n tokens get an
    empty array."""
    expr = F.expr(
        f"""CASE WHEN size(toks) >= {n} THEN
              array_sort(array_distinct(transform(sequence(0, size(toks)-{n}),
                p -> concat_ws(' ', {", ".join(f"toks[p+{i}]" for i in range(n))}))))
            ELSE cast(array() as array<string>) END"""
    )
    return docs.select(
        F.col(doc_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    ).select("doc_id", expr.alias("shingles"))


def shingle_hashes(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingles: array<long>): sorted distinct 64-bit hashes of
    the n-token shingles — xxhash64 over the token TUPLE, so no string
    shingle is ever materialized, deduped, or sorted (string
    array_sort/array_distinct dominated the profile). Token tuples are
    unambiguous (tokens are space-split, so they contain no spaces), hence
    tuple-hash equality ≡ string-shingle equality up to 64-bit collisions
    (≈ n²/2⁶⁵ ≈ 10⁻⁷ at 10⁶ distinct shingles — could perturb one pair's
    Jaccard by one element). Downstream set ops (df counts, Jaccard
    intersections) compare longs instead of re-hashing ~20-char strings
    once per candidate-pair membership."""
    tuple_hash = ", ".join(f"toks[p+{i}]" for i in range(n))
    expr = F.expr(
        f"""CASE WHEN size(toks) >= {n} THEN
              array_sort(array_distinct(transform(sequence(0, size(toks)-{n}),
                p -> xxhash64({tuple_hash}))))
            ELSE cast(array() as array<bigint>) END"""
    )
    return docs.select(
        F.col(doc_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    ).select("doc_id", expr.alias("shingles"))


def _exact_jaccard_verify(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """cand(d1, d2) × sh(doc_id, shingles) → pairs with exact Jaccard ≥
    threshold. Only candidate pairs pay the set-intersection cost."""
    x = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    y = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size("sh1").cast("double") + F.size("sh2").cast("double") - inter
    return (
        cand.join(x, "d1")
        .join(y, "d2")
        .withColumn("jac", inter / union)
        .filter(F.col("jac") >= threshold)
        .select("d1", "d2", "jac")
    )


# --- MinHash + LSH ---------------------------------------------------------

MERSENNE_31 = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine min-hash family
    h_i(x) = (a_i·x + b_i) mod 2^31−1. The 31-bit field keeps a·h+b
    < 2^62 — exact in int64 under Spark 4's default ANSI mode, which
    THROWS on long overflow instead of wrapping."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31) | 1, rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    sh: DataFrame, num_hashes: int = 64, hashed: bool = False
) -> DataFrame:
    """(doc_id, shingles, sig): classic affine-family MinHash — each
    shingle is string-hashed ONCE (xxhash64; pass hashed=True when the
    input already carries int64 shingles from `shingle_hashes`), then
    every signature slot applies a cheap affine permutation
    h_i(x) = (a_i·x + b_i) mod 2^31−1 and takes the min.

    The field reduction stays JVM-side; the num_hashes permutations + min
    run as ONE numpy pass per Arrow batch (outer product + segmented
    minimum.reduceat) in mapInPandas — ~2× over num_hashes separate
    array_min(transform(...)) expressions (same expression-count
    bottleneck as simhash/ann_index). All terms stay < 2^62, exact in
    int64. Empty shingle sets get a NULL sig and never enter candidate
    generation."""
    import numpy as np
    import pandas as pd

    params = _affine_params(num_hashes)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    to_field = (
        (lambda s: F.pmod(s, F.lit(MERSENNE_31)))
        if hashed
        else (lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_31)))
    )
    base = sh.withColumn("_hs", F.transform("shingles", to_field))
    out_schema = "doc_id long, shingles array<bigint>, sig array<long>"

    def _sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.array([len(h) for h in pdf["_hs"]])
            nz = lens > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["_hs"] if len(h)]
                )
                perm = (flat[:, None] * a_vec[None, :] + b_vec[None, :]) % MERSENNE_31
                bounds = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
                mins = np.minimum.reduceat(perm, bounds, axis=0)
            it = iter(range(int(nz.sum())))
            sigs = [
                [int(x) for x in mins[next(it)]] if has else None for has in nz
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "shingles": pdf["shingles"],
                    "sig": sigs,
                }
            )

    return base.mapInPandas(_sig, out_schema)


def _pairs_within_buckets(buckets: DataFrame, key_cols: list[str]) -> DataFrame:
    """(…keys, doc_id) → distinct (d1 < d2) pairs co-bucketed under any
    key. ONE pass: groupBy key → member list → explode twice. The naive
    alternative — self-joining the bucket relation — evaluates the entire
    upstream lineage once per join side (Spark has no common-subplan
    reuse), which for signature pipelines means recomputing every hash;
    measured 10.6 s → 1.6 s on the MinHash path at sf0.1. Bucket skew =
    |bucket|² pairs either way; callers bound bucket size upstream."""
    return (
        buckets.groupBy(*key_cols)
        .agg(F.collect_list("doc_id").alias("_ms"))
        .filter(F.size("_ms") > 1)
        .select(F.explode("_ms").alias("d1"), "_ms")
        .select("d1", F.explode("_ms").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def _band_buckets(
    signed: DataFrame, num_bands: int, rows_per_band: int
) -> DataFrame:
    """signature → (doc_id, band_idx, band_hash) bucket relation — the
    joinable LSH index shape shared by the one-shot and incremental
    paths."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(
                    F.slice("sig", b * rows_per_band + 1, rows_per_band)
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )
    return signed.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_hash").alias("band_hash"),
    )


def minhash_lsh_candidates(
    signed: DataFrame, num_bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature; docs sharing any (band_idx, band_hash) bucket
    become candidate pairs (d1 < d2) — grouped per bucket, never an n²
    join. Callers must pre-filter empty-shingle docs (minhash_near_dups
    filters on the cheap token-count predicate BEFORE shingling: a filter
    on size(shingles) here would be pushed down by Catalyst with the whole
    shingle expression substituted into the predicate, recomputing it per
    row)."""
    buckets = _band_buckets(signed, num_bands, rows_per_band)
    return _pairs_within_buckets(buckets, ["band_idx", "band_hash"])


def minhash_near_dups(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.8,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs (d1, d2, jac): MinHash-LSH candidates +
    exact-Jaccard verify. With b=16, r=4 the LSH S-curve crosses ~50%
    recall at jac ≈ (1/b)^(1/r) ≈ 0.5 — pairs at the 0.8 threshold are
    found with probability ≈ 1-(1-0.8^4)^16 ≈ 1-3e-4, and the verify
    stage keeps precision exact. 64 hashes halve signature cost vs 128
    with the same band width."""
    rows_per_band = num_hashes // num_bands
    # cheap pre-filter (token count) instead of size(shingles) > 0: the
    # latter would make Catalyst substitute the full shingle expression
    # into a pushed-down predicate and evaluate it twice per row
    eligible = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= n))
    # persisted: the shingle arrays feed BOTH the signature path and the
    # exact-verify join sides, and Spark has no common-subplan reuse —
    # without this the shingling runs three times. Released via
    # cache.release_persisted() after the caller fetches (see cache.py).
    sh = track_persist(shingle_hashes(eligible, n, text_col, doc_col))
    signed = minhash_signature(sh, num_hashes, hashed=True)
    cand = minhash_lsh_candidates(signed, num_bands, rows_per_band)
    return _exact_jaccard_verify(cand, sh, jaccard_threshold)


def minhash_index(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent near-dup index for a corpus: (bands,
    shingles). ``bands`` is the (doc_id, band_idx, band_hash) bucket
    relation, ``shingles`` the (doc_id, shingles) sets the exact-verify
    stage needs. Callers write both out (bucketed on band_hash / doc_id
    respectively — sinks.write_bucketed) so successive batches join
    without reshuffling the corpus side — the same seen-table pattern
    as exact_dedup_incremental."""
    rows_per_band = num_hashes // num_bands
    eligible = _spread(docs.filter(F.size(F.split(F.col(text_col), " ")) >= n))
    sh = track_persist(shingle_hashes(eligible, n, text_col, doc_col))
    bands = _band_buckets(
        minhash_signature(sh, num_hashes, hashed=True), num_bands, rows_per_band
    )
    return bands, sh


def minhash_near_dups_incremental(
    batch: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.8,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch — batch-vs-corpus plus
    batch-internal — against a prebuilt :func:`minhash_index`, without
    re-signing the corpus (the continuous-ingestion shape of X06).

    Candidates come from one equi-join of the batch's band buckets
    against the indexed buckets plus one grouped pass over the batch's
    own buckets — never a pass over corpus text. Hyper-parameters (n,
    num_hashes, num_bands) MUST match the ones the index was built
    with; doc ids must be globally unique across corpus and batch.
    Output (d1 < d2, jac) with exact-verified precision, identical to
    what one-shot minhash_near_dups over corpus ∪ batch reports minus
    its corpus-internal pairs (property-tested)."""
    batch_bands, batch_sh = minhash_index(
        batch, n, num_hashes, num_bands, text_col, doc_col
    )
    # persisted: the banded batch feeds BOTH the cross join and the
    # internal pair pass (no common-subplan reuse in Spark)
    batch_bands = track_persist(batch_bands)
    cross = (
        batch_bands.select(
            "band_idx", "band_hash", F.col("doc_id").alias("d2")
        )
        .join(
            index_bands.select(
                "band_idx", "band_hash", F.col("doc_id").alias("d1")
            ),
            ["band_idx", "band_hash"],
        )
        .select("d1", "d2")
        .distinct()
    )
    internal = _pairs_within_buckets(batch_bands, ["band_idx", "band_hash"])
    cand = (
        cross.unionByName(internal)
        .select(
            F.least("d1", "d2").alias("d1"), F.greatest("d1", "d2").alias("d2")
        )
        .distinct()
    )
    return _exact_jaccard_verify(
        cand, index_shingles.unionByName(batch_sh), jaccard_threshold
    )


# --- exact n-gram Jaccard (inverted-index blocking) ------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_df: int = 2,
    max_df: int = 10,
    threshold: float = 0.2,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Exact near-dup pairs via inverted-index blocking on rare shingles
    (document frequency in [min_df, max_df]) — Q41 generalized.

    Pair-counting design (see queries/declared.py Q41): |A∩B| is the
    number of shingles whose member list contains both docs, so exploding
    ordered pairs per inverted-index entry and counting per (d1,d2) gives
    the exact intersection with no array joins; the blocking predicate
    ("shares ≥1 shingle with df in the band") rides along as max(_rare) in
    the same aggregation, and set sizes join back as a broadcast.

    Scale note: pair explosion is O(Σ df²) over member lists. A Zipf-hot
    corpus (shingles with huge df) needs the MinHash-LSH path — exact
    all-pairs Jaccard is quadratic in hot-shingle membership by nature."""
    sh = track_persist(shingle_hashes(_spread(docs), n, text_col, doc_col))
    sizes = sh.select("doc_id", F.size("shingles").alias("_sz"))
    inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
    # shingles are distinct per doc, so the member-list length IS the
    # document frequency (see _pairs_within_buckets for why not a join)
    grouped = (
        inv.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("_ms"))
        .filter(F.size("_ms") >= 2)
        .withColumn("_rare", F.size("_ms").between(min_df, max_df))
    )
    pairs = (
        grouped.select("_rare", F.explode("_ms").alias("d1"), "_ms")
        .select("_rare", "d1", F.explode("_ms").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
    )
    stats = pairs.groupBy("d1", "d2").agg(
        F.count("*").alias("_inter"), F.max("_rare").alias("_has_rare")
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("_sz").alias("_sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("_sz").alias("_sz2"))
    jac = F.col("_inter") / (F.col("_sz1") + F.col("_sz2") - F.col("_inter"))
    return (
        stats.filter("_has_rare")
        .join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("d1", "d2", "jac")
    )


# --- SimHash ---------------------------------------------------------------

def simhash(
    docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(doc_id, simhash): classic token-level SimHash. Each token hashes
    to 64 bits; bit k of the signature is 1 iff 2·(count of tokens with
    bit k set) ≥ token count.

    Token hashing stays JVM-side (xxhash64 over the split array); the
    per-bit counting runs as ONE numpy pass per Arrow batch in
    mapInPandas — unpackbits → segment-reduceat → packbits. Measured 4×
    faster than the 64-column hash aggregate (and that beat a per-row HOF
    formulation 5×): like ann_index, when the bottleneck is expression
    COUNT rather than data volume, one vectorized kernel wins. No shuffle
    at all — signatures are computed map-side per document row."""
    if bits != 64:
        raise ValueError("vectorized simhash is fixed at 64 bits")
    import numpy as np
    import pandas as pd

    base = _spread(docs).select(
        F.col(doc_col).alias("doc_id"),
        F.transform(
            F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)
        ).alias("hs"),
    )

    def _sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.array([len(h) for h in pdf["hs"]])
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in pdf["hs"]]
            )
            # little-endian bit unpack: column k == (h >> k) & 1
            bit_mat = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).reshape(-1, 64)
            bounds = np.concatenate([[0], np.cumsum(lens)[:-1]])
            sums = np.add.reduceat(bit_mat, bounds, axis=0)
            sigbits = (2 * sums >= lens[:, None]).astype(np.uint8)
            packed = (
                np.packbits(sigbits, axis=1, bitorder="little")
                .copy()
                .view(np.int64)
                .ravel()
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": packed})

    return base.mapInPandas(_sig, "doc_id long, simhash long")


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Pairs (d1, d2, hamming ≤ max_hamming) via 4×16-bit band blocking:
    any pair within Hamming distance 3 of a 64-bit signature must agree
    exactly on at least one of 4 disjoint 16-bit bands (pigeonhole)."""
    sigs = simhash(docs, text_col, doc_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftrightunsigned(F.col("simhash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for b in range(4)
        ]
    )
    buckets = sigs.select(
        "doc_id", F.col("simhash"), F.explode(bands).alias("b")
    ).select(
        "doc_id",
        "simhash",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    # grouped pair generation (one lineage evaluation — see
    # _pairs_within_buckets); members carry their signature so the
    # Hamming distance needs no join back
    members = F.collect_list(F.struct("doc_id", "simhash")).alias("_ms")
    return (
        buckets.groupBy("band_idx", "band_val")
        .agg(members)
        .filter(F.size("_ms") > 1)
        .select(F.explode("_ms").alias("a"), "_ms")
        .select("a", F.explode("_ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- clustering (connected components) -------------------------------------

def connected_components(
    edges: DataFrame,
    src_col: str = "d1",
    dst_col: str = "d2",
    max_iter: int = 25,
    algorithm: str = "min_label",
) -> DataFrame:
    """(node, rep): rep = minimum node id reachable in the undirected
    graph — the canonical cluster id. The stage every fuzzy-dedup
    pipeline needs between "near-dup pairs" and "keep one per cluster".

    ``algorithm="min_label"`` (default): each round, every node takes the
    minimum label over itself and its neighbors. One round = one
    shuffle-join of the edge list with the label table plus one
    min-aggregate; convergence is detected with an isEmpty() on the
    changed-label set — a join + limit-1 probe that works for ANY node-id
    type (a sum-of-labels probe would NULL out on string doc_ids and
    exit after one round). Rounds needed = graph diameter: near-dup
    graphs are unions of tiny-diameter cliques-with-chords, so 2–4
    rounds converge; the iteration cap guards adversarial path graphs.

    ``algorithm="star"``: alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    each round roughly halves every path, so a diameter-d component
    resolves in O(log d) rounds instead of d. The choice at 100 TB when
    the dup graph's shape is not under your control (e.g. chained
    boilerplate documents forming 10⁶-node paths). Per round: two
    group-by-min passes over the (dup-bounded) edge list; the probe is a
    1-row count + hash-sum aggregate, type-independent.

    Every round ends with an EAGER localCheckpoint: persist alone serves
    the blocks but leaves the logical plan doubling per round, and a
    ~20-round lineage OOMs the PLANNER before any data moves (measured
    on a 20-node path graph). Lineage truncation is the load-bearing
    choice for iterative DataFrame algorithms; on a real cluster with
    lossy executors, swap in reliable checkpointing
    (spark.sparkContext.setCheckpointDir + .checkpoint()) at a cadence.
    """
    if algorithm == "star":
        labels, _ = _cc_star(edges, src_col, dst_col, max_iter)
        return labels
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    nbrs = (
        edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("nbr"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("node"), F.col(src_col).alias("nbr")
            )
        )
        # materialized ONCE: the edge relation may sit on an expensive
        # lineage (the whole MinHash candidate+verify pipeline for
        # fuzzy_dedup_clusters) and every round joins it — without this
        # each iteration re-runs that pipeline (measured 5.4 s → 2.6 s
        # on X40 at sf0.1)
        .transform(checkpoint_truncate)
    )
    # round 0 fused into the init: label = min over the closed
    # neighborhood. Near-dup components are cliques-with-chords, so this
    # alone is usually converged and the loop's first pass just verifies.
    labels = (
        nbrs.groupBy("node")
        .agg(F.min("nbr").alias("_mn"))
        .select("node", F.least("_mn", "node").alias("rep"))
        .transform(checkpoint_truncate)
    )
    for _ in range(max_iter):
        nbr_label = nbrs.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "rep")
        new_labels = (
            labels.unionByName(nbr_label)
            .groupBy("node")
            .agg(F.min("rep").alias("rep"))
            .transform(checkpoint_truncate)
        )
        # changed-set probe: both sides are checkpointed label tables
        # (dup-bounded, far smaller than the corpus), so the equi-join is
        # cheap and isEmpty() stops at the first differing row.
        done = (
            new_labels.join(
                labels.withColumnRenamed("rep", "_prev"), "node"
            )
            .filter(F.col("rep") != F.col("_prev"))
            .isEmpty()
        )
        labels = new_labels  # prior round's checkpoint blocks are GC-freed
        if done:
            break
    return labels


def _cc_star(
    edges: DataFrame, src_col: str, dst_col: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds; returns (labels, rounds)
    so tests can assert the O(log n) bound. Kiveris et al. SoCC 2014:

    - large-star at node u: m = min(N(u) ∪ {u}); re-point every neighbor
      v > u at m (emit edge (v, m)).
    - small-star at node u over its ≤-neighbors N⁻(u): m = min(N⁻(u) ∪
      {u}); emit (v, m) for v ∈ N⁻(u) ∪ {u}.

    At the fixpoint every component is a star rooted at its minimum, so
    the surviving edges ARE the (node, rep) pairs. Ordering comparisons
    use the column's natural ordering — correct for numeric AND string
    ids; "minimum node id" then means lexicographic min for strings,
    matching min-label's semantics.
    """
    cur = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(checkpoint_truncate)
    )
    rounds = 0
    # equality probe: (row count, XOR of per-edge xxhash64) — two 1-row
    # aggregates, type-independent (xxhash64 maps any type to long) and
    # overflow-free under ANSI mode (SUM of longs is not). A colliding
    # XOR over distinct edge sets of equal size is ~2⁻⁶⁴ noise; the
    # max_iter cap backstops even that.
    def _sig(df: DataFrame):
        return df.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
        ).first()

    sig = _sig(cur)
    for _ in range(max_iter):
        rounds += 1
        # large-star: neighborhoods over BOTH directions
        nbrs = cur.select("u", "v").unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(checkpoint_truncate)
        )
        # small-star: key every edge by its LARGER endpoint
        keyed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = keyed.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        nxt = (
            keyed.join(smins, "u")
            .select(F.col("v").alias("n"), "m")
            .unionByName(smins.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .transform(checkpoint_truncate)
        )
        new_sig = _sig(nxt)
        cur = nxt
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint edges: (non-root → root). Roots label themselves.
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("rep"))
    roots = (
        cur.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("rep"))
    )
    return labels.unionByName(roots).distinct(), rounds


def fuzzy_dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, rep_id, is_rep): every document mapped to its near-dup
    cluster representative (minimum doc_id in the component; singletons
    represent themselves). Survivors = ``filter(is_rep)``; the removal
    set = ``filter(~is_rep)``.

    ``pairs`` is any (d1, d2) near-dup relation — minhash_near_dups,
    simhash_near_dups, or ngram_jaccard_pairs output. The component
    table is |nodes-in-pairs|-sized (bounded by the duplicate count, far
    smaller than the corpus), so the final join broadcasts under the
    threshold and the corpus itself is touched exactly once, map-side.
    """
    comp = connected_components(pairs)
    return docs.select(F.col(doc_col).alias("doc_id")).join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("rep", F.col("doc_id")).alias("rep_id"),
        (F.coalesce("rep", F.col("doc_id")) == F.col("doc_id")).alias("is_rep"),
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Cross-document duplicated-substring detection at token-n-gram
    granularity — the distributed re-expression of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (their
    suffix-array ExactSubstr; a shared n-gram is exactly a shared
    n-token substring, so flagging n-grams seen in ≥ ``min_docs`` docs
    finds every duplicated span of length ≥ n).

    Returns one row per document: ``(id_col, n_tok, dup_positions,
    covered_tokens, dup_frac)`` where ``covered_tokens`` is the size of
    the union of the [pos, pos+n-1] intervals of its duplicated n-grams
    (computed with one lead() per doc partition — interval-union as a
    window expression, no per-row Python), and ``dup_frac`` the
    fraction of the document inside some duplicated span — the score a
    pipeline thresholds to drop or trim boilerplate-heavy documents.

    Plan shape: n-gram generation is a JVM-side transform/posexplode
    (no UDF); the global duplicate table is one count-distinct
    aggregate keyed by the n-gram. With ``hash_grams`` (default) the
    shuffle key is xxhash64(gram) — 8 bytes instead of the n-token
    string, the difference between shuffling ~1× and ~0.1× the corpus
    bytes at 100 TB (collisions only ever ADD a false duplicate flag;
    at 2⁻⁶⁴ per pair they are negligible, and equality with the
    raw-string path is test-pinned on the fixtures).
    """
    # fan_out before the gram posexplode (round 16, guide §2.5): the
    # single-file corpus scans as one task, so gram generation — the
    # op's map-side CPU — otherwise runs on one core
    toks = _spread(docs).select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("t"),
    ).select(id_col, "t", F.size("t").alias("n_tok"))
    # persisted (round 16, guide §5): grams feeds BOTH the duplicate-
    # gram aggregate and the left_semi position join — without the
    # persist the tokenize + posexplode gram stream (the dominant
    # map-side work) executes twice. Narrow (id, n_tok, pos, int64)
    # rows; MEMORY_AND_DISK spills gracefully at scale.
    grams = track_persist(toks.select(
        id_col,
        "n_tok",
        F.posexplode(
            F.when(
                F.col("n_tok") >= n,
                F.expr(
                    f"transform(sequence(1, size(t) - {n} + 1),"
                    f" i -> concat_ws(' ', slice(t, i, {n})))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "gram"),
    ).select(
        id_col,
        "n_tok",
        (F.col("pos0") + 1).alias("pos"),
        (F.xxhash64("gram") if hash_grams else F.col("gram")).alias("g"),
    ))
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    dup_pos = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    per_doc = (
        dup_pos.withColumn(
            "contrib",
            F.least(F.lit(n), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(n))),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("dup_positions"),
            F.sum("contrib").alias("covered_tokens"),
        )
    )
    return (
        toks.select(id_col, "n_tok")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tok",
            F.coalesce("dup_positions", F.lit(0)).alias("dup_positions"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tok"), 4
            ).alias("dup_frac"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every token k-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum (leftmost on ties).
    Guarantee: any match of length ≥ w + k - 1 tokens shares ≥ 1
    fingerprint, while only ~2/(w+1) of positions are kept — a
    position-robust sub-linear sketch, the third near-dup family next
    to MinHash (set-similarity) and SimHash (vector-similarity).

    Everything is JVM expressions: the k-gram hash is md5 (a hex string;
    lexicographic min is the deterministic total order, which also makes
    the DuckDB oracle exact), the window min runs per doc-partition over
    ``ROWS [0, w-1] FOLLOWING``, ties resolve leftmost by appending the
    zero-padded position to the sort key. Short docs (fewer than w
    k-grams) keep their single global minimum. Returns ``(id_col,
    fp_pos, fp_hash)`` — one row per selected fingerprint.
    """
    # fan_out before the gram explode + per-gram md5 (round 16, guide
    # §2.5): the single-file corpus scans as one task, so the hashing —
    # the op's map-side CPU — otherwise runs on one core before the
    # window shuffle
    toks = _spread(docs).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t")
    )
    grams = toks.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("t") >= k,
                F.expr(
                    f"transform(sequence(1, size(t) - {k} + 1),"
                    f" i -> concat_ws(' ', slice(t, i, {k})))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "gram"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        # 12-digit pad: lpad TRUNCATES beyond its width, so 6 digits
        # would corrupt tie-break order and fp_pos past 10^6 grams; 12
        # covers any physically possible document
        F.concat(
            F.md5("gram"), F.lpad(F.col("pos0") + 1, 12, "0")
        ).alias("sel_key"),
    )
    part = Window.partitionBy(id_col)
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("n_grams", F.count("*").over(part))
        .withColumn("sel", F.min("sel_key").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w + 1, F.lit(1)))
        .select(id_col, "sel")
        .distinct()
    )
    return sel.select(
        id_col,
        F.substring("sel", 33, 12).cast("long").alias("fp_pos"),
        F.substring("sel", 1, 32).alias("fp_hash"),
    )


def winnow_near_dups(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints: docs are
    candidates when they share ≥ ``min_shared`` distinct fingerprint
    HASHES (content, position-independent). Fingerprints appearing in
    more than ``max_doc_freq`` docs are dropped first — the standard
    stop-fingerprint guard; without it one boilerplate k-gram joins
    every pair of a million docs (the same quadratic blowup LSH banding
    avoids, solved the same way: cap the bucket). Returns ``(i, j,
    n_shared)`` with i < j.
    """
    # persisted (round 16, guide §5): fp feeds BOTH the doc-frequency
    # aggregate and the stop-fingerprint semi join, and rare feeds BOTH
    # sides of the pair join — without the persists the whole winnowing
    # pipeline (gram explode + per-gram md5 + two windows) executes up
    # to four times per call. Both relations are (doc, hash)-distinct
    # sized, bounded by the fingerprint density ~2/(w+1).
    fp = track_persist(
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col).alias("d"), "fp_hash")
        .distinct()
    )
    df_freq = fp.groupBy("fp_hash").agg(F.count("*").alias("nd"))
    rare = track_persist(
        fp.join(
            df_freq.filter(F.col("nd") <= max_doc_freq).select("fp_hash"),
            "fp_hash",
            "left_semi",
        )
    )
    a = rare.select(F.col("d").alias("i"), "fp_hash")
    b = rare.select(F.col("d").alias("j"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def prefix_filter_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    database-venue algorithm family (Chaudhuri et al. SSJoin; Bayardo
    et al. "Scaling Up All Pairs Similarity Search"; Xiao et al.
    PPJoin): order each document's shingle set by ascending global
    frequency (rarest first), keep only the first
    ``|s| − ⌈τ·|s|⌉ + 1`` shingles as its PREFIX, and generate
    candidates from per-prefix-token equality joins. The theorem: two
    sets with Jaccard ≥ τ must share at least one prefix token under a
    common global order, so exact verification of candidates returns
    the complete answer — recall 1 by construction, which the DuckDB
    all-pairs oracle confirms (X82).

    The complement of MinHash-LSH (X06, probabilistic) and pair-
    counting (Q41, counts all co-occurrences): prefix filtering is
    exact AND sub-quadratic, because prefixes hold each set's RAREST
    tokens — bucket sizes are bounded by construction, the opposite of
    joining on common tokens. Verification is one join back to the
    full sets and a JVM array_intersect/array_union.

    Documents with fewer than ``shingle`` tokens have no shingle set
    and are excluded (they have no well-defined shingle Jaccard).
    Returns ``(i, j, jac)`` with i < j, Jaccard ≥ ``threshold``.
    """
    # Shingles live as int64 xxhash64 tuple-hashes END TO END (the Q41
    # collision contract: tuple-hash equality ≡ string-shingle equality
    # up to 64-bit collisions): frequency join, prefix explode,
    # candidate join, and verify all shuffle/compare longs instead of
    # ~20-char strings — measured 9.1 → ~4 s at sf0.1. The prefix
    # theorem needs only SOME common global order; (frequency, hash) is
    # one, so recall stays 1 and the verified result set is unchanged.
    # _spread fans the single scan task across cores (shingling is the
    # CPU cost); track_persist because `sets` feeds four consumers.
    sets = track_persist(
        shingle_hashes(
            _spread(docs), n=shingle, text_col=text_col, doc_col=id_col
        )
        .select(F.col("doc_id").alias(id_col), F.col("shingles").alias("s"))
        .withColumn("sz", F.size("s"))
        .filter(F.col("sz") >= 1)
    )
    freq = (
        sets.select(F.explode("s").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("fr"))
    )
    ordered = (
        sets.select(id_col, "sz", F.explode("s").alias("tok"))
        .join(freq, "tok")
        .groupBy(id_col, "sz")
        .agg(
            F.array_sort(F.collect_list(F.struct("fr", "tok"))).alias("o")
        )
        .withColumn(
            "prefix",
            F.expr(
                f"slice(transform(o, x -> x.tok), 1,"
                f" sz - cast(ceil({threshold} * sz) as int) + 1)"
            ),
        )
    )
    # Round 17 (guide §3.2 — cut the candidate set before the expensive
    # join): the PPJoin length + positional filters. Both are upper
    # bounds with NO false negatives, so the verified result set is
    # unchanged (the recall-1 theorem still holds; the brute-force
    # DuckDB oracle pins it):
    # - length: jac ≥ τ forces min(|x|,|y|) ≥ τ·max(|x|,|y|);
    # - positional: a common token at 0-based sorted positions (pi, pj)
    #   bounds the overlap by min(pi,pj) + 1 + min(szi−pi−1, szj−pj−1)
    #   — tokens strictly before it contribute ≤ min(pi,pj), tokens
    #   after ≤ min of the remaining suffix lengths — while jac ≥ τ
    #   needs overlap ≥ τ/(1+τ)·(szi+szj). The bound holds for EVERY
    #   common prefix token, so the min over matches prunes safely.
    #   Comparisons use an ε slack so float rounding can only keep an
    #   extra candidate, never drop a true pair. The groupBy replaces
    #   the old distinct() — same dedup shuffle, now carrying the
    #   pruning stats — and every pruned candidate saves a row through
    #   the two full-set verify joins below.
    pref = ordered.select(
        id_col, "sz", F.posexplode("prefix").alias("p", "tok")
    )
    a = pref.select(
        F.col(id_col).alias("i"),
        F.col("sz").alias("szi"),
        F.col("p").alias("pi"),
        "tok",
    )
    b = pref.select(
        F.col(id_col).alias("j"),
        F.col("sz").alias("szj"),
        F.col("p").alias("pj"),
        "tok",
    )
    eps = 1e-9
    match_ub = (
        F.least("pi", "pj")
        + 1
        + F.least(
            F.col("szi") - F.col("pi") - 1, F.col("szj") - F.col("pj") - 1
        )
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("i") < F.col("j"))
        .filter(
            F.least("szi", "szj")
            >= threshold * F.greatest("szi", "szj") - eps
        )
        .groupBy("i", "j")
        .agg(
            F.min(match_ub).alias("_ub"),
            F.first("szi").alias("_szi"),
            F.first("szj").alias("_szj"),
        )
        .filter(
            F.col("_ub")
            >= threshold / (1.0 + threshold) * (F.col("_szi") + F.col("_szj"))
            - eps
        )
        .select("i", "j")
    )
    si = sets.select(F.col(id_col).alias("i"), F.col("s").alias("s_i"))
    sj = sets.select(F.col(id_col).alias("j"), F.col("s").alias("s_j"))
    return (
        cand.join(si, "i")
        .join(sj, "j")
        .withColumn(
            "jac",
            F.size(F.array_intersect("s_i", "s_j"))
            / F.size(F.array_union("s_i", "s_j")),
        )
        .filter(F.col("jac") >= threshold)
        .select("i", "j", F.round("jac", 4).alias("jac"))
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo's
    merge/purge blocking): sort the corpus by a blocking key, compare
    each record only against its next ``window`` neighbours in that
    order, exact-verify candidates with distinct-token Jaccard ≥
    ``threshold``. The classic alternative to LSH when duplicates
    cluster under a cheap sort key (here: the first 12 chars of the
    lowercased text, override via ``key``).

    Scale design: the global sort order is realized WITHOUT a global
    window — the 0-based rank comes from the same two-pass
    range-partitioned prefix sum as packing (partition-local ranks +
    per-partition offsets from totals). Candidate generation explodes
    each row to ``window`` partner ranks and equi-joins on rank, so the
    candidate relation is exactly ``window · N`` rows — linear, never
    quadratic — and the verify joins shuffle only candidates. Returns
    (d1, d2, jac) with d1 < d2 by id, ordered.
    """
    from swivel_spark_prep_spark.operators.packing import _exclusive_prefix_sum

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    key = key if key is not None else F.substring(F.lower(F.col(text_col)), 1, 12)
    slim = docs.select(
        F.col(id_col).alias("_id"), key.alias("_snk"), F.lit(1).alias("_one")
    )
    ranked = _exclusive_prefix_sum(slim, "_one", ["_snk", "_id"], "_rank").drop(
        "_one", "_snk"
    )
    a = ranked.select(F.col("_id").alias("_aid"), F.col("_rank").alias("_ar"))
    b = ranked.select(
        F.col("_id").alias("_bid"),
        F.explode(F.sequence(F.col("_rank") - window, F.col("_rank") - 1)).alias("_ar"),
    ).filter(F.col("_ar") >= 0)
    cand = a.join(b, "_ar").select(
        F.least("_aid", "_bid").alias("d1"), F.greatest("_aid", "_bid").alias("d2")
    )
    toks = docs.select(
        F.col(id_col).alias("_tid"),
        F.array_distinct(F.split(F.lower(F.col(text_col)), " ")).alias("_toks"),
    )
    t1 = toks.select(F.col("_tid").alias("d1"), F.col("_toks").alias("_t1"))
    t2 = toks.select(F.col("_tid").alias("d2"), F.col("_toks").alias("_t2"))
    inter = F.size(F.array_intersect("_t1", "_t2"))
    jac = inter / (F.size("_t1") + F.size("_t2") - inter)
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .withColumn("_jac", jac)
        .filter(F.col("_jac") >= threshold)
        .select("d1", "d2", F.round("_jac", 4).alias("jac"))
        .orderBy("d1", "d2")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dups: pairs where
    ``|A ∩ B| / |A| ≥ threshold`` — document A is (nearly) contained in
    B. Catches the subset-duplicates symmetric Jaccard structurally
    misses: a paragraph quoted inside a larger page has Jaccard
    |A|/|B| ≈ 0 but containment ≈ 1. The quote/inclusion detector of a
    dedup suite (Broder's "containment", the other resemblance measure
    from the original shingling paper).

    Same pair-counting plan as Q41 — shingle-hash inverted index,
    ordered-pair explosion per member list, count per pair equals the
    exact intersection, sizes broadcast back — with the df cap
    (``max_df``) bounding the quadratic member-list explosion on hot
    shingles (a shingle shared by >max_df docs identifies nothing and
    is dropped, the standard stopword rule). Returns (inner, outer,
    containment) with containment = |inner ∩ outer| / |inner| ≥
    threshold, both directions emitted when both qualify."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    sh = track_persist(
        shingle_hashes(_spread(docs), n=n, text_col=text_col, doc_col=id_col)
    )
    sizes = sh.select(F.col("doc_id").alias("inner"), F.size("shingles").alias("_sz"))
    inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
    grouped = (
        inv.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("_ms"))
        .filter((F.size("_ms") >= 2) & (F.size("_ms") <= max_df))
    )
    pairs = (
        grouped.select(F.explode("_ms").alias("d1"), "_ms")
        .select("d1", F.explode("_ms").alias("d2"))
        .filter(F.col("d1") != F.col("d2"))
    )
    inter = pairs.groupBy("d1", "d2").agg(F.count("*").alias("_inter"))
    return (
        inter.select(
            F.col("d1").alias("inner"), F.col("d2").alias("outer"), "_inter"
        )
        .join(F.broadcast(sizes), "inner")
        .withColumn("containment", F.col("_inter") / F.col("_sz"))
        .filter(F.col("containment") >= threshold)
        .select("inner", "outer", F.round("containment", 4).alias("containment"))
    )


def edit_distance_pairs(
    df: DataFrame,
    string_col: str,
    max_distance: int = 2,
    q: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT edit-distance self-join (entity resolution over names /
    titles / labels): all pairs with ``levenshtein ≤ max_distance``,
    found without an all-pairs scan. Blocking is the q-gram pigeonhole
    (Gravano et al. q-gram joins / the PassJoin family's counting
    bound): d edits destroy at most d·q of a string's q-grams, so two
    strings with ed ≤ d and length ≥ q·(d+1) MUST share at least one
    q-gram — candidates from a per-gram equi-join have recall 1 for
    that regime by theorem. Strings shorter than q·(d+1) can share no
    gram after d edits, so each SHORT string instead joins the
    length-band [len−d, len+d] via an exploded candidate-length
    equi-join (length difference > d is impossible at ed ≤ d) — exact,
    no cartesian, and the short bucket is bounded by the length
    distribution, the standard degenerate case of gram blocking.

    Verification is one JVM ``levenshtein`` per DISTINCT candidate
    pair; both joins shuffle candidates only. Returns (i, j, dist)
    with i < j by id."""
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    d = max_distance
    min_long = q * (d + 1)
    # persisted (round 16, guide §5): base feeds FIVE consumers (long/
    # short split, the short band's partner side, both verify sides) and
    # grams feeds both halves of the candidate self-join — without the
    # persists the corpus scan runs five times and the q-gram explode
    # twice. Both narrow: (id, string, len) and (id, len, q-char gram).
    base = track_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(string_col).alias("_s"),
            F.length(string_col).alias("_len"),
        ).filter(F.col("_s").isNotNull())
    )
    longs = base.filter(F.col("_len") >= min_long)
    grams = track_persist(longs.select(
        "_id",
        "_len",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, _len - {q} + 1),"
                    f" i -> substring(_s, i, {q}))"
                )
            )
        ).alias("_g"),
    ))
    ga = grams.select(F.col("_id").alias("i"), F.col("_len").alias("_la"), "_g")
    gb = grams.select(F.col("_id").alias("j"), F.col("_len").alias("_lb"), "_g")
    cand_long = (
        ga.join(gb, "_g")
        .filter((F.col("i") < F.col("j")) & (F.abs(F.col("_la") - F.col("_lb")) <= d))
        .select("i", "j")
    )
    shorts = base.filter(F.col("_len") < min_long)
    # short side: explode each short string to its admissible partner
    # lengths and equi-join on length (the ±d band) against EVERYTHING
    sa = shorts.select(
        F.col("_id").alias("i"),
        F.explode(
            F.sequence(F.greatest(F.col("_len") - d, F.lit(1)), F.col("_len") + d)
        ).alias("_lb"),
    )
    cand_short = (
        sa.join(base.select(F.col("_id").alias("j"), F.col("_len").alias("_lb")), "_lb")
        .filter(F.col("i") != F.col("j"))
        .select(F.least("i", "j").alias("i"), F.greatest("i", "j").alias("j"))
    )
    cand = cand_long.unionByName(cand_short).distinct()
    s1 = base.select(F.col("_id").alias("i"), F.col("_s").alias("_sa"))
    s2 = base.select(F.col("_id").alias("j"), F.col("_s").alias("_sb"))
    return (
        cand.join(s1, "i")
        .join(s2, "j")
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= d)
        .select("i", "j", "dist")
    )



def golden_record(
    df: DataFrame,
    cluster_col: str,
    spec: dict,
    count_col: str = "n_members",
) -> DataFrame:
    """Survivorship merge — the step AFTER dedup clustering: collapse
    each cluster to ONE canonical row by per-column rule (the MDM
    "golden record"). ``spec`` maps output column → rule:

    - ``"min"`` / ``"max"``: plain extrema (stable ids, freshest value)
    - ``"longest"``: value maximizing (length, value) — the richest
      text wins, ties to the LARGEST value (one struct-max, no window)
    - ``"mode"``: most frequent value, ties to the LARGEST value —
      max over the (count, value) struct of a per-(cluster, value)
      count relation

    min/max/longest are one grouped aggregate over the input; each
    ``mode`` column adds one (cluster, value)-grained count aggregate
    joined back on the cluster key — per-cluster-sized relations, never
    row-pairs, so the whole merge is a constant number of shuffles
    regardless of cluster-size skew (contrast with the collect_list +
    Python reduce shape, which funnels a hot cluster into one task and
    caps cluster size at executor memory). NULLs never win a rule
    (Spark aggregate semantics skip them; mode counts them out by the
    same filter the oracle uses).
    """
    if not spec:
        raise ValueError("spec must name at least one column rule")
    aggs = [F.count("*").alias(count_col)]
    mode_cols = []
    for col, rule in spec.items():
        if rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "max":
            aggs.append(F.max(col).alias(col))
        elif rule == "longest":
            aggs.append(
                F.max(F.struct(F.length(col).alias("l"), F.col(col).alias("v")))
                .getField("v")
                .alias(col)
            )
        elif rule == "mode":
            mode_cols.append(col)
        else:
            raise ValueError(f"unknown rule {rule!r} for column {col!r}")
    out = df.groupBy(cluster_col).agg(*aggs)
    for col in mode_cols:
        m = (
            df.filter(F.col(col).isNotNull())
            .groupBy(cluster_col, col)
            .agg(F.count("*").alias("__c"))
            .groupBy(cluster_col)
            .agg(
                F.max(F.struct(F.col("__c"), F.col(col).alias("v")))
                .getField("v")
                .alias(col)
            )
        )
        out = out.join(m, cluster_col, "left")
    return out


def lsh_parameter_plan(
    spark,
    num_hashes: int,
    threshold: float,
    grid: int = 1000,
) -> DataFrame:
    """Banding-parameter planner for MinHash LSH (the s-curve analysis
    of Leskovec–Rajaraman–Ullman, MMDS ch. 3): for every factorization
    ``num_hashes = b bands × r rows``, the candidate probability of a
    pair with Jaccard s is  p(s) = 1 − (1 − s^r)^b.  Reports, per
    (b, r): p at the target threshold, the crossover point
    (1/b)^(1/r) where p = 1 − (1 − 1/b)^... ≈ 0.5, and midpoint-rule
    estimates of the false-positive mass ∫₀^t p(s) ds and
    false-negative mass ∫_t^1 (1 − p(s)) ds — the two quantities a
    dedup operator actually trades when it picks (b, r).

    Pure control-plane relational arithmetic: the (b, r) grid is the
    divisors of ``num_hashes`` (dozens of rows), the integral grid is a
    ``grid``-point explode — everything whole-stage codegen, fully
    replayable in any SQL engine, no corpus access at all. Sorted by
    fp_mass + fn_mass ascending (best trade first), ties by b.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    # single-partition ranges (round 17, guide §2.2/§6): the whole
    # relation is control-plane — divisors(num_hashes) × grid ≤ a few
    # thousand rows at ANY corpus scale — yet default spark.range
    # parallelism spread it over defaultParallelism tasks per stage
    # (32 here), all but one near-empty: pure task-scheduling and AQE
    # overhead for microseconds of arithmetic.
    br = (
        spark.range(1, num_hashes + 1, 1, 1)
        .select(F.col("id").alias("r"))
        .filter(F.lit(num_hashes) % F.col("r") == 0)
        .select((F.lit(num_hashes) / F.col("r")).cast("long").alias("b"), "r")
    )
    pts = br.crossJoin(
        F.broadcast(
            spark.range(0, grid, 1, 1).select(
                ((F.col("id") + 0.5) / grid).alias("s")
            )
        )
    )
    p = 1.0 - F.pow(1.0 - F.pow(F.col("s"), F.col("r")), F.col("b"))
    masses = pts.groupBy("b", "r").agg(
        (F.sum(F.when(F.col("s") < threshold, p).otherwise(0.0)) / grid).alias(
            "_fp"
        ),
        (
            F.sum(F.when(F.col("s") >= threshold, 1.0 - p).otherwise(0.0)) / grid
        ).alias("_fn"),
    )
    t = F.lit(float(threshold))
    return masses.select(
        "b",
        "r",
        F.round(
            1.0 - F.pow(1.0 - F.pow(t, F.col("r")), F.col("b")), 6
        ).alias("p_at_threshold"),
        F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("crossover"),
        F.round("_fp", 6).alias("fp_mass"),
        F.round("_fn", 6).alias("fn_mass"),
        F.round(F.col("_fp") + F.col("_fn"), 6).alias("total_mass"),
    ).orderBy("total_mass", "b")


def cross_source_dup_matrix(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source exact-duplication matrix — "which sources copy from
    which": for every source pair (a < b), how many duplicate GROUPS
    (identical text, by full hash) span both sources, and the pair mass
    Σ_h c_a(h)·c_b(h) (every cross-source duplicate row pair). The
    triage table behind corpus-mix decisions: a high (a, b) cell means
    source b adds mostly content a already contributes.

    Scale shape: the corpus collapses ONCE to the (hash, source, count)
    relation (hash-cardinality, map-side combine); the pair generation
    is a per-hash keyed self-join over that relation — bounded at
    (#sources)² per hash, sources being the small dimension by
    construction (a corpus has dozens of sources, not millions). Rows
    with NULL text/source are excluded. Output: (source_a, source_b,
    shared_groups, pair_mass).
    """
    per = (
        docs.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .groupBy(
            F.sha2(F.col(text_col), 256).alias("_h"),
            F.col(source_col).alias("_s"),
        )
        .agg(F.count("*").cast("double").alias("_c"))
    )
    from swivel_spark_prep_spark.cache import track_persist

    per = track_persist(per)
    a = per.select("_h", F.col("_s").alias("source_a"), F.col("_c").alias("_ca"))
    b = per.select("_h", F.col("_s").alias("source_b"), F.col("_c").alias("_cb"))
    return (
        a.join(b, "_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("shared_groups"),
            F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("pair_mass"),
        )
    )


def dedup_roi_by_group(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup return-on-investment per group — what running exact
    dedup would SAVE, sliced by source: rows and whitespace tokens
    before vs after keeping one survivor per identical text (global
    dedup, min-id survivor; a group is charged for every non-surviving
    copy IT holds, so the table answers "which source's ingestion is
    paying for duplicates"). The triage report to read BEFORE paying
    for the heavier near-dup passes.

    Two hash aggregates and one shuffled equi-join (the survivor
    relation is hash-cardinality — NOT broadcastable at corpus scale);
    no windows, no pair generation. Output (one row per
    group): (group, n_rows, n_surviving, rows_saved, tokens_total,
    tokens_surviving, tokens_saved_pct).
    """
    base = docs.filter(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.sha2(F.col(text_col), 256).alias("_h"),
        F.size(F.split(F.col(text_col), " ", -1)).cast("double").alias("_nt"),
    )
    surv = base.groupBy("_h").agg(F.min("_id").alias("_sid"))
    tagged = base.join(surv, "_h").select(
        "_g", "_nt", (F.col("_id") == F.col("_sid")).cast("int").alias("_keep")
    )
    return tagged.groupBy(F.col("_g").alias("group")).agg(
        F.count("*").alias("n_rows"),
        F.sum("_keep").cast("long").alias("n_surviving"),
        (F.count("*") - F.sum("_keep")).cast("long").alias("rows_saved"),
        F.sum("_nt").cast("long").alias("tokens_total"),
        F.sum(F.col("_nt") * F.col("_keep")).cast("long").alias("tokens_surviving"),
        F.round(
            (F.sum("_nt") - F.sum(F.col("_nt") * F.col("_keep")))
            / F.sum("_nt")
            * 100.0,
            6,
        ).alias("tokens_saved_pct"),
    )


def cluster_transitivity_audit(
    pairs: DataFrame,
    clusters: DataFrame,
) -> DataFrame:
    """How much a near-dup clustering over-merges: connected components
    take the TRANSITIVE closure of the pair graph, so a cluster of size
    c asserts c(c−1)/2 duplicate relations while the verifier only
    certified the edges it saw — chains (A~B, B~C but A≁C) inflate
    clusters beyond what pairwise similarity supports. Transitivity =
    certified edges / asserted pairs; 1.0 means every implied relation
    was independently verified, low values mean the threshold or the
    banding is chaining.

    Inputs are the existing relations (``minhash_near_dups`` pairs,
    ``fuzzy_dedup_clusters`` labels) — this audit adds ONLY bounded
    aggregates: cluster sizes from one groupBy, Σ c(c−1)/2 from the
    (≤ #clusters)-row size relation, one pair count. No new pair join
    anywhere. Output (1 row): n_clusters, n_docs_clustered,
    max_cluster, found_pairs, implied_pairs, transitivity.
    """
    sizes = (
        clusters.groupBy("rep_id")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
    )
    agg = sizes.agg(
        F.count("*").alias("n_clusters"),
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_docs_clustered"),
        F.coalesce(F.max("_c"), F.lit(0)).alias("max_cluster"),
        F.coalesce(
            F.sum(F.col("_c") * (F.col("_c") - 1) / 2), F.lit(0.0)
        )
        .cast("long")
        .alias("implied_pairs"),
    )
    found = pairs.agg(F.count("*").alias("found_pairs"))
    return agg.crossJoin(F.broadcast(found)).select(
        "n_clusters",
        "n_docs_clustered",
        "max_cluster",
        "found_pairs",
        "implied_pairs",
        F.round(
            F.when(
                F.col("implied_pairs") > 0,
                F.col("found_pairs") / F.col("implied_pairs"),
            ),
            6,
        ).alias("transitivity"),
    )


def near_dup_threshold_sweep(
    docs: DataFrame,
    thresholds: tuple = (0.8, 0.85, 0.9, 0.95),
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Dedup-threshold tuning table: near-dup pair counts and affected-
    document counts at a grid of Jaccard thresholds, from ONE LSH +
    exact-verify pass — the "what would each cutoff actually remove"
    read before committing a threshold (the dedup twin of the
    quality-filter ROI curve). The shingle/signature/banding work is
    shared across the grid; candidates are verified once at the
    SMALLEST grid threshold and binned, so adding grid points is free.

    Grid floor: with the default banding (b=16, r=4) LSH recall at
    jac 0.8 is 1−(1−0.8⁴)¹⁶ ≈ 0.9997 and rises toward 1 above it, so
    counts at ≥ 0.8 match the exact pair relation (the same guarantee
    X06's oracle equality rests on); thresholds below ~0.7 would
    undercount and are refused. Output per threshold:
    (threshold, n_pairs, n_docs).
    """
    ts = sorted(set(float(t) for t in thresholds))
    if not ts or ts[0] < 0.7:
        raise ValueError(
            f"grid must stay >= 0.7 (LSH recall floor with b=16/r=4), got {ts}"
        )
    pairs = minhash_near_dups(
        docs, n=n, num_hashes=num_hashes, num_bands=num_bands,
        jaccard_threshold=ts[0], text_col=text_col, doc_col=doc_col,
    )
    from swivel_spark_prep_spark.cache import track_persist

    pairs = track_persist(pairs)
    grid = docs.sparkSession.createDataFrame(
        [(t,) for t in ts], "threshold double"
    )
    per_t = (
        grid.join(F.broadcast(pairs), F.col("jac") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count(F.col("jac")).alias("n_pairs"))
    )
    docs_t = (
        grid.join(F.broadcast(pairs), F.col("jac") >= F.col("threshold"), "left")
        .select(
            "threshold",
            F.explode_outer(F.array("d1", "d2")).alias("_d"),
        )
        .groupBy("threshold")
        .agg(F.count_distinct("_d").alias("n_docs"))
    )
    return per_t.join(docs_t, "threshold")
