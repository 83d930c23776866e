"""The swivel-prep pipeline — the reference's entire capability, Spark-first.

Reference semantics (SURVEY.md §1–2; public sources: arXiv:1602.02215 and
tensorflow/models research/swivel/prep.py, which the reference reimplements
for Spark):

  corpus lines → tokenize (whitespace) → vocabulary (count ≥ min_count,
  sorted count desc, truncated to a multiple of shard_size, id = 0-based
  rank) → co-occurrence matrix (weight Σ 1/distance within ±window,
  symmetric) → modulo sharding (element (i,j) → shard (i%N, j%N), local
  coords (i div N, j div N)) → marginals (row/col sums) → sinks.

Scale design (SURVEY.md §7.5 — deliberately NOT the reference's driver
-collect-and-broadcast architecture):
- id assignment is an inclusive prefix count over operators/ranks.py's
  two-pass kernel — never a global row_number window (single-task
  bottleneck), never a driver collect. The kernel's one persist fixes
  each row's partition id; the ids are valid until
  ``cache.release_persisted()``, the contract ``prep``'s own persists
  already follow;
- the token→id mapping is applied with a join (Catalyst broadcasts it
  automatically when small; at 100 TB vocab scale it degrades gracefully
  to a shuffle join instead of OOMing the driver);
- co-occurrence aggregation is a hash aggregate with map-side combine; an
  optional salting pass (`salt_partial_agg`) handles Zipf-skewed hot
  tokens;
- shard grouping uses repartition + sortWithinPartitions, never groupByKey.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """corpus → (doc_id, pos, tok), whitespace tokenization (prep.py split)."""
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )


def assign_ids(df: DataFrame, order_cols: list, id_col: str = "id") -> DataFrame:
    """Dense 0-based ids by a total order (the vocabulary id is the
    token's rank) — an inclusive prefix count minus one over
    ``ranks.partitioned_prefix_sum``: no global window, no driver
    collect, and exact because the kernel's one persist fixes every
    row's range partition (see operators/ranks.py, including its
    release contract)."""
    from swivel_spark_prep_spark.operators.ranks import partitioned_prefix_sum

    ranked = partitioned_prefix_sum(
        df.withColumn("_one", F.lit(1)), order_cols, "_one", [id_col],
        inclusive=True,
    )
    return ranked.withColumn(id_col, (F.col(id_col) - 1).cast("long")).drop("_one")


def build_vocab(
    docs: DataFrame,
    min_count: int = 5,
    shard_size: int = 4096,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """(tok, cnt, id): count desc / token asc order, min_count filter,
    truncated down to a multiple of shard_size (prep.py create_vocabulary
    semantics; tie-break pinned by SURVEY.md Q33)."""
    counts = (
        tokenize(docs, text_col, doc_col)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    vocab = assign_ids(counts, [F.col("cnt").desc(), F.col("tok").asc()])
    if shard_size > 1:
        total = vocab.count()
        keep = total - total % shard_size
        # Truncation drops the rarest tail so V is a shard_size multiple;
        # if the vocab is smaller than one shard, keep everything (the
        # declared queries run un-truncated).
        if keep > 0:
            vocab = vocab.filter(F.col("id") < keep)
    return vocab.select("tok", "cnt", "id")


def cooc_pairs(
    docs: DataFrame,
    window: int = 10,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """(w1, w2, w, _h): one row per ordered co-occurrence instance
    (pos_b > pos_a, distance ≤ window, weight 1/distance) — generated
    MAP-SIDE with a nested-transform pair array + one explode, the
    Spark-first equivalent of prep.py's per-line flatMap.

    This replaces the positional self-join formulation: that plan shuffled
    the token stream twice (both join sides keyed on doc_id) plus once for
    the aggregate; this plan shuffles NOTHING until the pair counts are
    partially aggregated — at 100 TB the only data-scale exchange left in
    the co-occurrence build is the combined (w1, w2) partial-sum shuffle.

    ``_h`` = xxhash64(doc_id, pos_a, pos_b): a content-derived salt unique
    per pair *instance* — deterministic under task retry (unlike
    monotonically_increasing_id) and uniform over salts for Zipf-hot pairs.

    Formulation: one zip of shifted slices per distance d —
    ``arrays_zip(toks[0:n-d], toks[d:n])`` — tagged by a posexplode over
    the d-indexed array, then an inner posexplode whose index IS pos_a
    (pos_b = pos_a + d). No lambdas anywhere: higher-order-function
    closures (transform/…) run interpreted, outside whole-stage codegen,
    and the previous nested-transform build measured 4× slower than this
    zip chain at sf0.1 (1.6 s → 0.4 s warm); the positional self-join it
    replaced sat between them (0.83 s) and costs two data-scale shuffles
    of the token stream besides.
    """
    zips = ", ".join(
        f"arrays_zip(slice(toks, 1, greatest(size(toks)-{d}, 0)),"
        f" slice(toks, {d + 1}, greatest(size(toks)-{d}, 0)))"
        for d in range(1, int(window) + 1)
    )
    return (
        docs.select(
            F.col(doc_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .select(
            "doc_id", F.posexplode(F.expr(f"array({zips})")).alias("d0", "zs")
        )
        .select(
            "doc_id",
            (F.col("d0") + 1).alias("d"),
            F.posexplode("zs").alias("pa", "z"),
        )
        .select(
            F.col("z.0").alias("w1"),
            F.col("z.1").alias("w2"),
            (F.lit(1.0) / F.col("d")).alias("w"),
            F.xxhash64("doc_id", "pa", F.col("pa") + F.col("d")).alias("_h"),
        )
    )


def cooc_matrix(
    docs: DataFrame,
    vocab: DataFrame,
    window: int = 10,
    symmetric: bool = True,
    text_col: str = "text",
    doc_col: str = "doc_id",
    salt_partial_agg: int = 0,
) -> DataFrame:
    """(row_id, col_id, w): w = Σ 1/distance over co-occurrences at
    distance ≤ window within a line (prep.py accumulates both (i,j) and
    (j,i); set symmetric=False for the upper triangle only).

    Plan: map-side pair generation (`cooc_pairs` — no token-stream
    shuffle) → hash aggregate on the token pair (map-side partial combine,
    so the one exchange carries partially-summed cells, not instances) →
    vocab id mapping joined AFTER the aggregate on the nnz-sized relation
    (broadcast under the threshold, graceful shuffle join beyond — never a
    driver-collected dictionary). Tokens outside the vocabulary drop at
    the join; distances still count the original positions, exactly as the
    pre-join tokenization did.

    ``salt_partial_agg > 0`` enables two-level aggregation (salt, partial,
    unsalt, final) for Zipf-hot (w1, w2) cells; sums are associative so
    semantics are unchanged.
    """
    pairs = cooc_pairs(docs, window, text_col, doc_col)
    if salt_partial_agg > 0:
        salted = pairs.withColumn(
            "_salt", F.pmod(F.col("_h"), F.lit(salt_partial_agg))
        )
        partial = salted.groupBy("w1", "w2", "_salt").agg(F.sum("w").alias("w"))
        agg = partial.groupBy("w1", "w2").agg(F.sum("w").alias("w"))
    else:
        agg = pairs.groupBy("w1", "w2").agg(F.sum("w").alias("w"))
    v1 = vocab.select(F.col("tok").alias("w1"), F.col("id").alias("row_id"))
    v2 = vocab.select(F.col("tok").alias("w2"), F.col("id").alias("col_id"))
    m = agg.join(v1, "w1").join(v2, "w2").select("row_id", "col_id", "w")
    if symmetric:
        # prep.py adds weight to both (i,j) and (j,i) — mirror the
        # aggregated (nnz-sized) matrix and re-sum; the i==j diagonal
        # correctly receives both contributions.
        m = (
            m.unionByName(
                m.select(
                    F.col("col_id").alias("row_id"),
                    F.col("row_id").alias("col_id"),
                    "w",
                )
            )
            .groupBy("row_id", "col_id")
            .agg(F.sum("w").alias("w"))
        )
    return m


def shard_cooc(cooc: DataFrame, vocab_size: int, shard_size: int) -> DataFrame:
    """Modulo sharding (arXiv:1602.02215 §3): N = V/shard_size submatrices
    per side; element (i,j) → shard (i%N, j%N) at local (i div N, j div N).
    The mod assignment mixes frequent and rare tokens in every shard."""
    n = max(vocab_size // shard_size, 1)
    return cooc.select(
        (F.col("row_id") % n).alias("row_shard"),
        (F.col("col_id") % n).alias("col_shard"),
        (F.col("row_id") / n).cast("long").alias("local_row"),
        (F.col("col_id") / n).cast("long").alias("local_col"),
        "row_id",
        "col_id",
        "w",
    )


def marginals(cooc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Row sums and column sums of the (symmetric) matrix — prep.py
    row_sums.txt / col_sums.txt."""
    row_sums = cooc.groupBy("row_id").agg(F.sum("w").alias("row_sum"))
    col_sums = cooc.groupBy("col_id").agg(F.sum("w").alias("col_sum"))
    return row_sums, col_sums


@dataclass
class SwivelPrepResult:
    vocab: DataFrame       # (tok, cnt, id)
    cooc: DataFrame        # (row_id, col_id, w) — symmetric
    shards: DataFrame      # cooc + shard/local coordinates
    row_sums: DataFrame    # (row_id, row_sum)
    col_sums: DataFrame    # (col_id, col_sum)
    vocab_size: int
    num_shards: int        # per side


def prep(
    docs: DataFrame,
    window: int = 10,
    min_count: int = 5,
    shard_size: int = 4096,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> SwivelPrepResult:
    """The reference's whole pipeline as one composable call."""
    from swivel_spark_prep_spark.cache import track_persist

    vocab = track_persist(
        build_vocab(docs, min_count, shard_size, text_col, doc_col)
    )
    vocab_size = vocab.count()
    # cached: three consumers (shards, row marginals, col marginals) would
    # otherwise each re-run tokenize → vocab join → pair join → aggregate.
    # At cluster scale this is the write-cooc-to-storage step; in-session,
    # MEMORY_AND_DISK blocks serve the same role. Released via
    # cache.release_persisted() once the outputs are written/fetched.
    cooc = track_persist(
        cooc_matrix(
            docs, vocab, window, symmetric=True, text_col=text_col, doc_col=doc_col
        )
    )
    shards = shard_cooc(cooc, vocab_size, shard_size)
    row_sums, col_sums = marginals(cooc)
    return SwivelPrepResult(
        vocab=vocab,
        cooc=cooc,
        shards=shards,
        row_sums=row_sums,
        col_sums=col_sums,
        vocab_size=vocab_size,
        num_shards=max(vocab_size // shard_size, 1),
    )


def write_outputs(result: SwivelPrepResult, out_dir: str, tfrecord: bool = False) -> None:
    """Sinks with the reference's logical columns: row/col vocab text files,
    row/col sums text files, shards as parquet partitioned by shard coords
    (partition pruning on read), optionally TFRecord (sinks/tfrecord.py).

    coalesce(1) on the text files mirrors the reference's one-file-per-
    artifact layout and is fine for vocab-sized data (≤ millions of rows);
    shard data stays fully parallel.
    """
    ordered_vocab = result.vocab.orderBy("id")
    for name in ("row_vocab.txt", "col_vocab.txt"):
        ordered_vocab.select("tok").coalesce(1).write.mode("overwrite").text(
            f"{out_dir}/{name}"
        )
    for sums, key, val, name in (
        (result.row_sums, "row_id", "row_sum", "row_sums.txt"),
        (result.col_sums, "col_id", "col_sum", "col_sums.txt"),
    ):
        sums.orderBy(key).select(F.col(val).cast("string")).coalesce(1).write.mode(
            "overwrite"
        ).text(f"{out_dir}/{name}")
    (
        result.shards.repartition("row_shard", "col_shard")
        .sortWithinPartitions("local_row", "local_col")
        .write.mode("overwrite")
        .partitionBy("row_shard", "col_shard")
        .parquet(f"{out_dir}/shards")
    )
    if tfrecord:
        from swivel_spark_prep_spark.sinks.tfrecord import write_swivel_shards

        write_swivel_shards(result, f"{out_dir}/shards_tfrecord")


def pmi_collocations(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the classic
    corpus-linguistics readout (Church & Hanks 1990) composed directly
    from this module's co-occurrence core: ordered within-window pairs
    from :func:`cooc_pairs` (the reference's own pair generator),
    counted; unigram marginals and the two totals fold in as broadcast
    relations; ``pmi = ln((n_ab/P) / ((n_a/N)(n_b/N)))`` with a
    ``min_count`` floor (PMI is noise without one). Top-k via
    orderBy+limit = TakeOrdered, never a global sort. Returns
    (w1, w2, n_ab, pmi) — ordered pairs (w1 precedes w2 in text), the
    directional collocation convention."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    pairs = (
        cooc_pairs(docs, window, text_col, doc_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    uni = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_n"))
    )
    totals = uni.agg(
        F.sum("_n").cast("double").alias("_N")
    ).crossJoin(
        pairs.agg(F.sum("n_ab").cast("double").alias("_P"))
    )
    ua = uni.select(F.col("_w").alias("w1"), F.col("_n").alias("_na"))
    ub = uni.select(F.col("_w").alias("w2"), F.col("_n").alias("_nb"))
    scored = (
        pairs.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_pmi",
            F.log(
                (F.col("n_ab") / F.col("_P"))
                / ((F.col("_na") / F.col("_N")) * (F.col("_nb") / F.col("_N")))
            ),
        )
    )
    return (
        scored.orderBy(F.desc("_pmi"), "w1", "w2")
        .limit(k)
        .select("w1", "w2", "n_ab", F.round("_pmi", 4).alias("pmi"))
    )
