"""Deterministic sampling and dataset splits for training-data pipelines.

Random `df.sample()` is fine for quick stats but useless for pipelines: it
is neither reproducible across runs/engines nor stable under re-partitioning,
and a row's membership changes when the input grows. Hash-based sampling
fixes all three — membership is a pure function of the row's KEY, so

- the same key always lands in the same split (stable train/val/test
  boundaries across incremental re-runs — the property that prevents
  train/test contamination when the corpus grows);
- it needs no shuffle, no state, and no coordination: a narrow projection
  that runs map-side at any scale;
- it is oracle-checkable (md5 is engine-independent, unlike xxhash64
  whose seeds are Spark-internal).

Bucket function: the first 8 hex chars of md5(key) as an integer, i.e. a
uniform draw from [0, 2^32) — `% n_buckets` gives the bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int = 100, salt: str = "") -> Column:
    """Uniform deterministic bucket in [0, n_buckets) from a key column.
    `salt` decouples independent sampling decisions on the same key (e.g.
    a 1% eval sample drawn independently of the train/val/test split)."""
    keyed = F.concat(F.lit(salt), key.cast("string")) if salt else key.cast("string")
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long") % n_buckets
    )


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~`fraction` of rows, deterministically by key. Rows sharing a
    key are kept or dropped together (document-level, not row-level,
    sampling when key = doc id)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    n = 1_000_000  # ppm resolution
    return df.filter(
        hash_bucket(F.col(key_col), n, salt) < F.lit(int(round(fraction * n)))
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split with the given weights
    (e.g. {"train": .8, "val": .1, "test": .1}). Splits are disjoint,
    exhaustive, and stable under data growth: a key keeps its split
    forever. Weight order follows the dict (insertion-ordered)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    n = 1_000_000
    bucket = hash_bucket(F.col(key_col), n, salt)
    expr = None
    hi = 0.0
    names = list(weights)
    for name in names[:-1]:
        hi += weights[name]
        cond = F.when(bucket < F.lit(int(round(hi * n))), F.lit(name))
        expr = cond if expr is None else expr.when(
            bucket < F.lit(int(round(hi * n))), F.lit(name)
        )
    expr = (
        expr.otherwise(F.lit(names[-1])) if expr is not None else F.lit(names[-1])
    )
    return df.withColumn(split_col, expr)


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_col: str,
    salt: str = "mix",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic training mixture: each named source contributes a
    hash-sampled fraction of its rows, tagged with its name — the "data
    mixing" step of a pretraining pipeline (e.g. books 2×-epoch'd via
    fraction 1.0 twice under different salts, web downsampled to 0.3).
    Fractions apply independently per source; schemas must be
    union-compatible. Pure map-side filters + UNION ALL: no shuffle, and
    re-running on a grown source keeps previously selected keys selected."""
    if not sources:
        raise ValueError("sources must be non-empty")
    parts = []
    for name, (df, frac) in sources.items():
        parts.append(
            hash_sample(df, key_col, frac, salt=f"{salt}:{name}").withColumn(
                source_col, F.lit(name)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stratified_hash_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample 'en' to 10% but
    keep all of 'fr'). Strata missing from `fractions` are dropped —
    explicit beats silent pass-through in a data pipeline. Still a single
    map-side filter: the fractions table is folded into one expression."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {s!r} must be in [0,1], got {f}")
    n = 1_000_000
    bucket = hash_bucket(F.col(key_col), n, salt)
    thresh = F.lit(None)
    for s, f in fractions.items():
        thresh = F.when(
            F.col(strata_col) == s, F.lit(int(round(f * n)))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def deterministic_shuffle(
    df: DataFrame, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Reproducible global shuffle: order rows by md5(salt ‖ key) and
    attach the 0-based shuffle rank — the "randomize training order once,
    identically on every rerun" step of a data pipeline. md5 (not
    xxhash64) so external systems can replay the exact order.

    The rank is swivel.assign_ids, i.e. an inclusive prefix count over
    operators/ranks.py's two-pass kernel: range-partition on the hash
    (parallel sorted runs), rank within each partition, add
    per-partition offsets from a window over the partition COUNTS — a
    global total order with no single-reducer window and no driver
    collect. The kernel's one persist fixes each row's partition id, so
    fetch or write the result before ``cache.release_persisted()``. At
    100 TB, skip the rank column when only the order matters and write
    the range-sorted output directly.
    """
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    from swivel_spark_prep_spark.operators.swivel import assign_ids

    return assign_ids(
        df.withColumn("_shuffle_key", h), ["_shuffle_key"], id_col="shuffle_rank"
    ).drop("_shuffle_key")


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    temperature: float = 2.0,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-flattened corpus balancing: downsample each stratum
    (language, source, domain) so effective proportions follow
    p_s ∝ n_s^(1/T) — the standard multilingual-pretraining mixing rule
    — WITHOUT upsampling: the smallest stratum keeps 100% and every
    other stratum keeps fraction (n_min / n_s)^(1 - 1/T). T=1 is the
    natural distribution (no-op), T→∞ approaches uniform.

    Fully declarative, zero driver materialization: per-stratum counts
    are a hash aggregate, the global min folds in as a 1-row broadcast,
    the per-stratum keep-threshold (ppm) broadcasts back onto the corpus
    scan, and membership is the same deterministic md5 bucket as
    hash_sample — a key keeps its decision as the corpus grows.
    """
    if temperature < 1.0:
        raise ValueError(f"temperature must be >= 1, got {temperature}")
    n = 1_000_000
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_cnt"))
    cmin = counts.agg(F.min("_cnt").alias("_cmin"))
    thresholds = counts.crossJoin(F.broadcast(cmin)).select(
        strata_col,
        F.floor(
            F.pow(
                F.col("_cmin").cast("double") / F.col("_cnt"),
                1.0 - 1.0 / temperature,
            )
            * n
        )
        .cast("long")
        .alias("_thr"),
    )
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(hash_bucket(F.col(key_col), n, salt) < F.col("_thr"))
        .drop("_thr")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    key_out: str = "es_key",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    (2006): draw key = u^(1/w) with u uniform in (0, 1], keep the top-k
    keys — inclusion probabilities are exactly proportional-to-weight
    without replacement, in one pass, with no global sort (top-k by key
    is Spark's TakeOrdered). The uniform comes from md5 of the id, so
    the sample is DETERMINISTIC and DuckDB-replayable (X88) — the
    reproducibility contract every sampling op in this module follows:
    re-running a curation pipeline must select the same documents.

    Rows with weight ≤ 0 or NULL are excluded (zero-weight items have
    inclusion probability 0 in the E-S scheme). Ties (impossible with
    real weights, possible after rounding) break by ``id_col``.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + 1) / F.lit(4294967296.0)  # (0, 1]
    key = F.pow(u, 1.0 / F.col(weight_col))
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(key_out, key)
        .orderBy(F.col(key_out).desc(), id_col)
        .limit(k)
    )


def stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    fractions: dict[str, float],
    id_col: str = "doc_id",
    out_col: str = "split",
) -> DataFrame:
    """Exactly-proportional train/val/test split WITHIN each stratum:
    rows are ranked inside their stratum by a deterministic md5-uniform
    of the id (ties impossible — the id breaks them), and the rank is
    cut at floor(cumulative-fraction × stratum size). Unlike the plain
    :func:`hash_split` (globally ~proportional, per-stratum only in
    expectation), every stratum here lands within one row of its target
    fractions — what evaluation-set construction actually needs.

    Scale: one window + one aggregate, both hash-partitioned on the
    strata columns. Per-stratum ordering means a stratum is one
    partition's work; strata are assumed plural and bounded (languages,
    sources). For a single giant stratum use hash_split instead.
    Fractions must sum to 1 (within 1e-9); assignment order follows the
    dict order, so {'train': .8, 'val': .1, 'test': .1} cuts at
    0.8 / 0.9 / 1.0."""
    from pyspark.sql.window import Window

    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    w = Window.partitionBy(*strata_cols).orderBy(u, F.col(id_col))
    ranked = df.withColumn("_rn", F.row_number().over(w))
    counts = df.groupBy(*strata_cols).agg(F.count("*").alias("_n"))
    # null-safe join-back: a NULL stratum is a stratum (both the window
    # partition and groupBy treat it as one); a plain equi-join would
    # silently drop those rows from every split
    from swivel_spark_prep_spark.operators import nullsafe_broadcast_join

    with_n = nullsafe_broadcast_join(ranked, counts, strata_cols)
    expr, cum = None, 0.0
    for name, frac in fractions.items():
        cum += frac
        cond = F.col("_rn") <= F.floor(F.lit(cum) * F.col("_n") + 1e-9)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    # float guard: the last cut is exactly _n, but keep a fallback for
    # rank == _n when cumulative floating error rounds the floor down
    last = list(fractions)[-1]
    return with_n.withColumn(out_col, expr.otherwise(F.lit(last))).drop("_n", "_rn")


def raking_weights(
    df: DataFrame,
    dim_a: str,
    dim_b: str,
    targets_a: dict,
    targets_b: dict,
    iters: int = 50,
    tol: float = 1e-12,
) -> DataFrame:
    """Iterative proportional fitting (raking): per-cell sampling weights
    so the WEIGHTED corpus matches target marginal shares on two
    dimensions at once (e.g. language x source) — the survey-statistics
    workhorse applied to dataset mixing, where independent per-dimension
    reweighting cannot hit both marginals simultaneously.

    Scale shape: the data-sized work is ONE groupBy(dim_a, dim_b) count;
    IPF then runs driver-side on the |A|x|B| cell table (languages x
    sources — bounded, never row-scale), and the result is a tiny
    broadcast-joinable (dim_a, dim_b, weight) frame. Weights are
    normalized so their weighted total equals the corpus row count.
    Every observed dimension value must appear in its targets dict
    (raise otherwise — silently dropping a stratum is worse); target
    shares must each sum to 1.
    """
    for name, t in (("targets_a", targets_a), ("targets_b", targets_b)):
        if abs(sum(t.values()) - 1.0) > 1e-9:
            raise ValueError(f"{name} shares must sum to 1, got {sum(t.values())}")
    cells = df.groupBy(dim_a, dim_b).count().collect()
    # key=str: NULL is a legitimate groupBy cell and must sort alongside
    # strings instead of raising TypeError
    avals = sorted({r[dim_a] for r in cells}, key=lambda v: (v is None, str(v)))
    bvals = sorted({r[dim_b] for r in cells}, key=lambda v: (v is None, str(v)))
    missing_a = [v for v in avals if v not in targets_a]
    missing_b = [v for v in bvals if v not in targets_b]
    if missing_a or missing_b:
        raise ValueError(
            f"observed values missing from targets: {missing_a + missing_b}"
        )
    # ...and the reverse: a target category with NO observed rows is
    # unreachable (raking reweights, it cannot create rows) — the row
    # and column passes would fight forever and the loop would exit
    # non-converged with weights matching NEITHER marginal. Fail loudly.
    ghost_a = [v for v in targets_a if v not in set(avals)]
    ghost_b = [v for v in targets_b if v not in set(bvals)]
    if ghost_a or ghost_b:
        raise ValueError(
            f"target categories with no observed rows: {ghost_a + ghost_b}"
        )
    n = {(r[dim_a], r[dim_b]): r["count"] for r in cells}
    total = sum(n.values())
    w = {k: 1.0 for k in n}
    for _ in range(iters):
        delta = 0.0
        for a in avals:  # row pass: match targets_a
            cur = sum(n[k] * w[k] for k in n if k[0] == a)
            want = targets_a[a] * total
            if cur > 0:
                f = want / cur
                for k in n:
                    if k[0] == a:
                        w[k] *= f
                delta = max(delta, abs(f - 1.0))
        for b in bvals:  # column pass: match targets_b
            cur = sum(n[k] * w[k] for k in n if k[1] == b)
            want = targets_b[b] * total
            if cur > 0:
                f = want / cur
                for k in n:
                    if k[1] == b:
                        w[k] *= f
                delta = max(delta, abs(f - 1.0))
        if delta < tol:
            break
    out = [(a, b, float(w[(a, b)])) for (a, b) in n]
    schema_a = df.schema[dim_a].dataType.simpleString()
    schema_b = df.schema[dim_b].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        out, f"{dim_a} {schema_a}, {dim_b} {schema_b}, weight double"
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_by: Column,
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """Per-group document cap — the Common Crawl "per-domain cap"
    curation rule: within each group (domain, source, license bucket)
    keep at most ``cap`` rows, best-first by ``order_by`` (ties broken
    deterministically by ``tiebreak_col``), drop the rest. Caps prevent
    any single domain from dominating a mixed corpus regardless of its
    raw size — the quota complement of temperature_resample's
    proportional flattening.

    One per-group window (hash-partitioned on the group, sorted within
    the partition — the Q21 top-k shape, no global sort). A group with
    Zipf-hot cardinality makes that partition the straggler; for
    per-domain caps on the open web that skew is the norm, so pair with
    a pre-filter or use the two-pass rank if one group dominates."""
    from pyspark.sql.window import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    w = Window.partitionBy(group_col).orderBy(order_by, F.col(tiebreak_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def dsir_weights(
    docs: DataFrame,
    target_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    document by how target-like its hashed n-gram profile is.

    Features are word bigrams hashed into ``n_buckets`` buckets (the
    paper's hashed n-gram featurization; md5 here so the oracle can
    replay the bucketing). Two unigram bag-of-features models are
    fitted — one over the rows matching ``target_cond``, one over the
    rest — with add-one smoothing over the bucket space, and each
    document's log importance weight is::

        log w(d) = Σ_f c_d(f) · [ ln p_target(f) − ln p_raw(f) ]

    Resampling then keeps the highest-weight raw documents (or samples
    with Gumbel noise — left to the caller, whose randomness policy it
    is; the weight relation is the deterministic part).

    Scale design: two aggregates over the exploded bigram stream with at
    most ``n_buckets`` distinct keys each (map-side partials collapse the
    shuffle to ≤ n_buckets rows per partition); the fitted model is a
    ≤ n_buckets-row relation BROADCAST back onto per-doc feature counts —
    the corpus-sized relations never meet in a shuffle wider than
    (doc, bucket). Docs with no bigram (<2 tokens) keep log_weight 0.

    Output: (id_col, n_feats, log_weight).
    """
    from swivel_spark_prep_spark.cache import track_persist

    # materialize the split ONCE into a real column — inlining the split
    # expression into slice/size and the lambda's element_at re-evaluates
    # it per reference (the diversity_scores 3.8× lesson, commit bd18bbd)
    toks = F.col("__arr")
    grams = docs.select(
        F.col(id_col),
        target_cond.alias("__is_target"),
        F.split(F.lower(F.col(text_col)), " ").alias("__arr"),
    ).select(
        F.col(id_col),
        "__is_target",
        F.explode(
            F.transform(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda w, i: F.concat(w, F.lit(" "), F.element_at(toks, i + 2)),
            )
        ).alias("__gram"),
    ).select(
        F.col(id_col),
        "__is_target",
        hash_bucket(F.col("__gram"), n_buckets, salt="dsir").alias("__bucket"),
    )
    # the bigram stream feeds BOTH the model fit and the per-doc feature
    # counts — persist it once instead of re-exploding the corpus
    grams = track_persist(grams)

    # the two bag models: ≤ n_buckets rows after one aggregate each side
    counts = grams.groupBy("__bucket").agg(
        F.sum(F.col("__is_target").cast("long")).alias("__ct"),
        F.sum((~F.col("__is_target")).cast("long")).alias("__cr"),
    )
    totals = counts.agg(
        F.coalesce(F.sum("__ct"), F.lit(0)).alias("__tt"),
        F.coalesce(F.sum("__cr"), F.lit(0)).alias("__tr"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "__bucket",
        (
            F.log((F.col("__ct") + 1.0) / (F.col("__tt") + float(n_buckets)))
            - F.log((F.col("__cr") + 1.0) / (F.col("__tr") + float(n_buckets)))
        ).alias("__lr"),
    )

    doc_feats = grams.groupBy(id_col, "__bucket").agg(F.count("*").alias("__c"))
    scored = (
        doc_feats.join(F.broadcast(model), "__bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_feats"),
            F.sum(F.col("__c") * F.col("__lr")).alias("log_weight"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


def kfold_assign(
    df: DataFrame, key_col: str, k: int = 5, salt: str = "kfold"
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: adds a ``fold``
    column in [0, k) from the md5 bucket of the key — folds are disjoint,
    reproducible across engines/runs, and stable as the corpus grows
    (a row never migrates between folds). Map-side only, no shuffle."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn("fold", hash_bucket(F.col(key_col), k, salt=salt))


def negative_samples(
    df: DataFrame,
    k: int = 3,
    pool_per_label: int = 50,
    id_col: str = "vec_id",
    label_col: str = "label",
    salt: str = "neg",
) -> DataFrame:
    """Deterministic cross-label negative sampling for contrastive /
    metric training: for every anchor row, ``k`` rows with a DIFFERENT
    label, chosen by md5 rank so the choice is reproducible across
    runs and engines.

    Scale design: ranking every anchor against the whole corpus would
    be all-pairs, so candidates come from a bounded per-label pool —
    the ``pool_per_label`` lowest-md5 ids per label (one per-label
    window over the pool hash). The pool (|labels|·pool rows) is
    BROADCAST against the anchors; per-anchor choice is a row_number
    over at most |labels|·pool candidates. Anchors only ever shuffle
    on their own id. Sampling is without replacement per anchor and
    excludes self-label entirely.

    Output: (id_col, label_col, neg_id, neg_label, rnk) with rnk in
    [1, k].
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    pool = (
        df.select(
            F.col(id_col).alias("neg_id"), F.col(label_col).alias("neg_label")
        )
        .withColumn(
            "__pr",
            F.row_number().over(
                Window.partitionBy("neg_label").orderBy(
                    F.md5(
                        F.concat(F.lit(salt), F.col("neg_id").cast("string"))
                    ).asc(),
                    F.col("neg_id").asc(),
                )
            ),
        )
        .filter(F.col("__pr") <= pool_per_label)
        .drop("__pr")
    )
    anchors = df.select(id_col, label_col)
    cand = anchors.crossJoin(F.broadcast(pool)).filter(
        F.col(label_col) != F.col("neg_label")
    )
    pick_w = Window.partitionBy(id_col).orderBy(
        F.md5(
            F.concat(
                F.lit(salt),
                F.col(id_col).cast("string"),
                F.lit("|"),
                F.col("neg_id").cast("string"),
            )
        ).asc(),
        F.col("neg_id").asc(),
    )
    return (
        cand.withColumn("rnk", F.row_number().over(pick_w))
        .filter(F.col("rnk") <= k)
        .select(id_col, label_col, "neg_id", "neg_label", "rnk")
    )


def token_budget_allocation(
    docs: DataFrame,
    budget: float,
    temperature: float = 1.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget allocator across corpus slices: how many tokens to
    draw from each source, given a total ``budget``, temperature-
    flattened target shares p_s ∝ n_s^(1/T) (the multilingual-sampling
    rule temperature_resample uses), and the hard cap that a source
    cannot contribute more than it has::

        alloc_s = min(n_s, λ·p_s)   with Σ alloc_s = budget

    This is the classic WATERFILLING solution, computed in CLOSED FORM
    declaratively — no iterative λ search: sources sorted by saturation
    point r_s = n_s/p_s saturate in order, so with prefix sums over
    that order, λ_j = (B − Σ_{i≤j} n_i)/(P − Σ_{i≤j} p_i) and row j is
    saturated iff r_j ≤ λ_j (a running-AND window makes the prefix
    explicit rather than assumed). λ* then comes from one conditional
    aggregate over the saturated set. All windows run on the per-source
    COUNTS relation (|sources| rows) — corpus-sized data is touched by
    exactly one token-count aggregate.

    Output: (group_col, n_tokens, weight, alloc_tokens, saturated);
    Σ alloc_tokens = min(budget, Σ n_tokens) to float precision.
    ``weight`` is the normalized temperature share p_s/P.
    """
    from pyspark.sql.window import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    counts = docs.groupBy(group_col).agg(
        F.sum(F.size(F.split(F.lower(F.col(text_col)), " ")))
        .cast("double")
        .alias("n_tokens")
    )
    p = F.pow(F.col("n_tokens"), 1.0 / temperature)
    base = counts.select(group_col, "n_tokens", p.alias("__p"))
    tot = base.agg(
        F.sum("n_tokens").alias("__tn"), F.sum("__p").alias("__tp")
    )
    b = base.crossJoin(F.broadcast(tot)).withColumn(
        "__r", F.col("n_tokens") / F.col("__p")
    )
    w = Window.orderBy(F.asc("__r"), F.asc(group_col))
    pre = (
        b.withColumn("__cn", F.sum("n_tokens").over(w))
        .withColumn("__cp", F.sum("__p").over(w))
        .withColumn(
            "__sat_here",
            # saturated iff r_j <= λ_j; the final row's λ is 0/0 — it can
            # only saturate when the budget covers everything (handled by
            # the all-saturated branch below)
            F.when(
                F.col("__tp") - F.col("__cp") > 0,
                F.col("__r")
                <= (F.lit(float(budget)) - F.col("__cn"))
                / (F.col("__tp") - F.col("__cp")),
            ).otherwise(F.lit(float(budget)) >= F.col("__tn")),
        )
        .withColumn("__sat", F.min(F.col("__sat_here").cast("int")).over(w) == 1)
    )
    lam = pre.agg(
        (
            (
                F.lit(float(budget))
                - F.coalesce(
                    F.sum(F.when(F.col("__sat"), F.col("n_tokens"))), F.lit(0.0)
                )
            )
            / F.nullif(
                F.first("__tp")
                - F.coalesce(
                    F.sum(F.when(F.col("__sat"), F.col("__p"))), F.lit(0.0)
                ),
                F.lit(0.0),
            )
        ).alias("__lam")
    )
    return (
        pre.crossJoin(F.broadcast(lam))
        .select(
            group_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("__p") / F.col("__tp")).alias("weight"),
            F.when(F.col("__sat"), F.col("n_tokens"))
            .otherwise(F.col("__lam") * F.col("__p"))
            .alias("alloc_tokens"),
            F.col("__sat").alias("saturated"),
        )
    )



def neyman_allocation(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    budget: float,
) -> DataFrame:
    """Minimum-variance sample-size allocation across strata (Neyman
    1934): to estimate a population mean of ``value_col`` with a fixed
    total sample budget, draw n_s ∝ N_s·σ_s from stratum s — more from
    big AND noisy strata — capped at the stratum's own size::

        alloc_s = min(N_s, λ·N_s·σ_s)   with Σ alloc_s = budget

    The cap makes it the same WATERFILLING problem as
    :func:`token_budget_allocation` and reuses its closed form: strata
    sorted by saturation point r_s = N_s/(N_s·σ_s) = 1/σ_s saturate in
    order; prefix sums over that order give λ without iteration. All
    windows run on the per-stratum stats relation (|strata| rows —
    control plane); corpus data is touched by ONE moment aggregate.

    Zero-variance strata (σ_s = 0, including singletons) carry no share
    — the estimator needs no samples where there is nothing to vary —
    and surface with alloc 0, never saturated. Output per stratum:
    (strata_col, n_rows, sd, weight, alloc, saturated) with
    Σ alloc = min(budget, Σ_{σ>0} N_s) to float precision; ``weight``
    is the normalized Neyman share.
    """
    from pyspark.sql.window import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    stats = df.filter(F.col(value_col).isNotNull()).groupBy(strata_col).agg(
        F.count("*").cast("double").alias("_n"),
        F.coalesce(F.stddev_pop(F.col(value_col).cast("double")), F.lit(0.0))
        .alias("_sd"),
    )
    base = stats.select(
        strata_col, "_n", "_sd", (F.col("_n") * F.col("_sd")).alias("__p")
    )
    tot = base.agg(
        F.sum(F.when(F.col("__p") > 0, F.col("_n")).otherwise(0.0)).alias("__tn"),
        F.sum("__p").alias("__tp"),
    )
    b = base.crossJoin(F.broadcast(tot)).withColumn(
        "__r",
        F.when(F.col("__p") > 0, F.col("_n") / F.col("__p")).otherwise(
            F.lit(float("inf"))
        ),
    )
    w = Window.orderBy(F.asc("__r"), F.asc(strata_col))
    pre = (
        b.withColumn(
            "__cn",
            F.sum(F.when(F.col("__p") > 0, F.col("_n")).otherwise(0.0)).over(w),
        )
        .withColumn("__cp", F.sum("__p").over(w))
        .withColumn(
            "__sat_here",
            F.when(
                F.col("__p") <= 0, F.lit(False)
            ).when(
                F.col("__tp") - F.col("__cp") > 0,
                F.col("__r")
                <= (F.lit(float(budget)) - F.col("__cn"))
                / (F.col("__tp") - F.col("__cp")),
            ).otherwise(F.lit(float(budget)) >= F.col("__tn")),
        )
        .withColumn(
            "__sat", F.min(F.col("__sat_here").cast("int")).over(w) == 1
        )
    )
    lam = pre.agg(
        (
            (
                F.lit(float(budget))
                - F.coalesce(
                    F.sum(F.when(F.col("__sat"), F.col("_n"))), F.lit(0.0)
                )
            )
            / F.nullif(
                F.first("__tp")
                - F.coalesce(
                    F.sum(F.when(F.col("__sat"), F.col("__p"))), F.lit(0.0)
                ),
                F.lit(0.0),
            )
        ).alias("__lam")
    )
    return pre.crossJoin(F.broadcast(lam)).select(
        strata_col,
        F.col("_n").cast("long").alias("n_rows"),
        F.round("_sd", 6).alias("sd"),
        F.round(F.col("__p") / F.col("__tp"), 6).alias("weight"),
        F.round(
            F.when(F.col("__sat"), F.col("_n")).otherwise(
                F.coalesce(F.col("__lam") * F.col("__p"), F.lit(0.0))
            ),
            2,
        ).alias("alloc"),
        F.col("__sat").alias("saturated"),
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "prio",
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007, public): a
    weighted without-replacement sample of ``k`` rows that supports
    UNBIASED subset-sum estimation — each sampled row carries the
    estimator weight ``max(w, tau)`` (tau = the (k+1)-th priority), and
    any subset's weight is estimated by summing the estimator over its
    sampled members; E[estimate] equals the true subset sum exactly.
    The sketch of choice when "sample 1k docs but keep totals
    estimable" matters (per-source token budgets from a sample,
    weighted QA draws).

    Priorities are ``w / u`` with ``u`` the KMV-convention md5 uniform
    in (0,1] — deterministic, engine-replayable, and independent per
    salt. Plan: one TakeOrdered top-(k+1) (no global sort — Spark's
    per-partition top-k heap + driver merge of (k+1)-row slices), the
    threshold folded back as a 1-row broadcast. Rows with NULL or
    non-positive weight are excluded (they cannot carry priority).
    ``key_col`` must uniquely identify rows — ``u`` derives from the
    key alone, so duplicate keys would share one priority (and their
    inclusions would not be independent); dedupe or pick the natural
    unique key first. When the eligible input has n ≤ k rows, EVERY
    row is sampled and the estimator is exactly ``weight`` (the
    paper's exact case — tau is not defined; a GREATEST(weight, tau)
    replay applies only when n > k, ADVICE r9). Output: key, weight,
    priority, est (estimator weight)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from swivel_spark_prep_spark.cache import track_persist

    w = F.col(weight_col).cast("double")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float(2**60)
    scored = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(key_col).alias("key"),
            w.alias("weight"),
            (w / u).alias("priority"),
        )
        # doc-key tiebreak keeps the top-(k+1) frontier deterministic
        .orderBy(F.desc("priority"), F.asc("key"))
        .limit(k + 1)
    )
    scored = track_persist(scored)
    tau = scored.agg(F.min("priority").alias("__tau"))
    n = scored.count()
    top = scored.orderBy(F.desc("priority"), F.asc("key")).limit(
        k if n > k else n
    )
    return top.crossJoin(F.broadcast(tau)).select(
        "key",
        "weight",
        "priority",
        # fewer rows than k+1 -> every row sampled, estimator = weight
        F.when(F.lit(n) <= k, F.col("weight"))
        .otherwise(F.greatest("weight", "__tau"))
        .alias("est"),
    )


def coverage_select(
    df: DataFrame,
    weight_col: str,
    p: float,
    key_cols: list[str],
    group_col: str | None = None,
) -> DataFrame:
    """The smallest top-weight prefix covering at least share ``p`` of
    the total weight (per group) — "which domains account for 90% of
    the corpus", "which near-dup clusters hold half the tokens": the
    head-coverage question every curation report asks. Rows are taken
    in weight-DESC order (``key_cols`` break ties, making the selected
    SET deterministic); a row is kept iff the cumulative share of rows
    strictly before it is < ``p``, so the last kept row is exactly the
    one that crosses the threshold.

    Scale design: the running total is the two-pass
    :func:`~swivel_spark_prep_spark.operators.ranks.partitioned_prefix_sum`
    over (−weight, keys) — no global window, no single-partition stage;
    the total is a 1-row (per-group) aggregate broadcast back. Output:
    input columns + ``cum_share`` (share INCLUDING the row), weight-desc
    ordered. NULL/non-positive weights are dropped (they cannot
    contribute coverage).
    """
    if not 0 < p <= 1:
        raise ValueError(f"p must be in (0, 1], got {p}")
    from swivel_spark_prep_spark.operators.ranks import partitioned_prefix_sum

    gcols = [group_col] if group_col else []
    base = df.filter(F.col(weight_col).cast("double") > 0).withColumn(
        "__negw", -F.col(weight_col).cast("double")
    )
    cum = partitioned_prefix_sum(
        base,
        order_cols=["__negw", *key_cols],
        value_cols=weight_col,
        out_cols=["__before"],
        group_cols=gcols or None,
    )
    totals = base.groupBy(*gcols).agg(
        F.sum(F.col(weight_col).cast("double")).alias("__tot")
    )
    joined = (
        cum.join(F.broadcast(totals), gcols)
        if gcols
        else cum.crossJoin(F.broadcast(totals))
    )
    return (
        joined.filter(F.col("__before") / F.col("__tot") < p)
        .select(
            *df.columns,
            (
                (F.col("__before") + F.col(weight_col).cast("double"))
                / F.col("__tot")
            ).alias("cum_share"),
        )
        .orderBy(*gcols, F.col(weight_col).cast("double").desc(), *key_cols)
    )


#: cumulative Poisson(1) thresholds for the inverse-CDF weight draw —
#: P(X <= k) for k = 0..5; mass beyond 6 (< 6e-5) is capped at 6.
_POIS1_CDF = (
    0.36787944117144233,  # e^-1
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col: str | None = None,
    replicates: int = 200,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Percentile-bootstrap confidence interval for a mean via the
    POISSON BOOTSTRAP (Hanley & MacGibbon 2006; Chamandy et al. 2012 —
    the form built for one-pass distributed data): instead of resampling
    n rows with replacement (which needs global coordination), each row
    draws an independent Poisson(1) count per replicate — the
    multinomial resample's limit — so replicate b's mean is
    Σ w_rb·x_r / Σ w_rb, computable in ONE grouped aggregate after a
    ``replicates``-way explode. Weights come from the md5 uniform of
    (salt, id, b) through the Poisson(1) inverse CDF (capped at 6,
    < 6e-5 tail mass), so the whole resampling plan is deterministic
    and any engine replays it bit-for-bit.

    Execution: explode is the only blow-up (rows × replicates — size it
    via ``replicates``, it is the bootstrap's inherent cost); one
    aggregate collapses to ``replicates`` (× groups) rows; the CI is an
    exact percentile over that bounded relation. Output per group:
    (mean, ci_lo, ci_hi, n, b_used) — ``b_used`` counts replicates
    with nonzero total weight (all of them, in practice).
    Rows with NULL value are excluded.
    """
    if replicates < 2:
        raise ValueError(f"replicates must be >= 2, got {replicates}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    gcols = [group_col] if group_col else []
    base = df.select(
        *gcols,
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_x"),
    ).filter(F.col("_x").isNotNull())
    # ONE md5 per ROW, then a PER-ROW-STEP Weyl mix per replicate:
    # u_{r,b} = frac(h_r + b·s_r) with phase h_r from hex digits 1–15
    # and step s_r = frac(φ·(1+h_r)) DERIVED FROM h AFTER the explode.
    # Round-11 verdict (What's wrong #3): with a COMMON step (s ≡ φ)
    # the replicate-mean covariances share one deterministic shift
    # across all rows and add coherently — measured 2.5 pp below
    # iid-hashing coverage. A per-row step makes the within-row
    # correlation structure row-specific, so it averages out across
    # rows. Round 13 measured (sf0.1 events, B=100, noop sink, same
    # session, median of 3) WHERE the step comes from matters 1.5×:
    #   common step s≡φ          11.3 s   coverage 0.900/0.918/0.870
    #   s from hex 16–30, CARRIED through the explode (round-12 form)
    #                            17.5 s   coverage 0.930/0.958/0.927
    #   control: carry a dead double through the explode w/ literal
    #   math                     18.3 s   → the CARRY is the cost, not
    #                                       the fmod
    #   s = frac(φ·(1+h)), derived post-explode (this form)
    #                            12.3 s   coverage 0.935/0.955/0.957
    # (coverage triples = normal/exponential/two-sample over 400/400/
    # 300 seeded datasets, tests/test_round12_ops.py bands 0.89–0.975;
    # per-cell md5 for reference measured 23.7 s.) Deriving s from h
    # keeps the step row-specific — (h_r, s_r) lie on a curve rather
    # than filling the square, but the across-row averaging only needs
    # s_r to VARY by row, and the measured coverage is statistically
    # identical to fresh-digit steps. s_r ∈ [φ, 2φ) mod 1 is bounded
    # away from 0, so no row's weight sequence can freeze.
    # Bit-replayable in any engine.
    md5 = F.md5(F.concat_ws(":", F.lit(salt), F.col("_id")))
    h = F.conv(F.substring(md5, 1, 15), 16, 10).cast("double") / F.lit(
        float(2**60)
    )
    # fan_out ONLY the replicate branch (guide §2.5, input skew): the
    # single-file scan is one task, so the ×replicates Generate and the
    # Poisson inverse-CDF when-chain — the op's whole CPU — otherwise
    # run on one core. The point-estimate branch below stays un-fanned
    # (a plain scan+aggregate needs no second exchange). Measured sf0.1
    # (X194, 100k events × 100 replicates): 10.3 s → see OPTIMIZATION_r16.
    from swivel_spark_prep_spark.cache import fan_out

    rep = fan_out(base).select(
        *gcols,
        h.alias("_h"),
        "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(replicates)))).alias("_b"),
    )
    s = (F.lit(0.6180339887498949) * (F.lit(1.0) + F.col("_h"))) % 1.0
    u = (F.col("_h") + F.col("_b") * s) % 1.0
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("_w", w.cast("double"))
        .groupBy(*gcols, "_b")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).alias("_sx"),
            F.sum("_w").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .select(*gcols, (F.col("_sx") / F.col("_sw")).alias("_m"))
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    ci = means.groupBy(*gcols).agg(
        F.count("*").alias("b_used"),
        F.percentile("_m", F.lit(lo)).alias("_lo"),
        F.percentile("_m", F.lit(hi)).alias("_hi"),
    )
    point = base.groupBy(*gcols).agg(
        F.avg("_x").alias("_mean"), F.count("*").alias("n")
    )
    joined = (
        point.join(ci, gcols) if gcols else point.crossJoin(F.broadcast(ci))
    )
    return joined.select(
        *gcols,
        F.round("_mean", 6).alias("mean"),
        F.round("_lo", 6).alias("ci_lo"),
        F.round("_hi", 6).alias("ci_hi"),
        "n",
        "b_used",
    )


def bootstrap_diff_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col: str,
    group_a,
    group_b,
    replicates: int = 200,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Percentile-bootstrap CI for the DIFFERENCE of two slice means
    (the A/B uplift) via the same Poisson(1) resampling as
    :func:`bootstrap_mean_ci` — the distribution-free companion to
    welch_ttest: Welch answers "is the difference significant", this
    answers "how big is it, with what uncertainty", with no normality
    assumption. Each replicate resamples BOTH slices independently
    (the two-sample bootstrap) and takes mean_a − mean_b; the CI is an
    exact percentile over the ``replicates``-row relation.

    One explode + ONE grouped aggregate computes both slices' weighted
    sums per replicate (conditional sums — the slices never shuffle
    separately); everything downstream is replicate-sized. Output: one
    row (n_a, mean_a, n_b, mean_b, diff, ci_lo, ci_hi, b_used);
    replicates where either slice draws zero total weight are dropped
    (b_used counts survivors). Deterministic and engine-replayable —
    same md5 uniform, same inverse CDF.
    """
    if replicates < 2:
        raise ValueError(f"replicates must be >= 2, got {replicates}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_x"),
    ).filter(F.col("_x").isNotNull() & F.col("_g").isin([group_a, group_b]))
    # one md5 per row + PER-ROW-STEP Weyl mix per replicate, step
    # DERIVED from h post-explode — never carried through the Generate
    # (coverage rationale, round-11-verdict citation and the measured
    # 1.5× carry cost in bootstrap_mean_ci)
    md5 = F.md5(F.concat_ws(":", F.lit(salt), F.col("_id")))
    h = F.conv(F.substring(md5, 1, 15), 16, 10).cast("double") / F.lit(
        float(2**60)
    )
    # fan_out only the replicate branch — same single-input-split
    # rationale as bootstrap_mean_ci (the point branch stays un-fanned)
    from swivel_spark_prep_spark.cache import fan_out

    rep = fan_out(base).select(
        "_g",
        h.alias("_h"),
        "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(replicates)))).alias("_b"),
    )
    s = (F.lit(0.6180339887498949) * (F.lit(1.0) + F.col("_h"))) % 1.0
    u = (F.col("_h") + F.col("_b") * s) % 1.0
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    is_a = (F.col("_g") == group_a).cast("double")
    is_b = (F.col("_g") == group_b).cast("double")
    per_rep = (
        rep.withColumn("_w", w.cast("double"))
        .groupBy("_b")
        .agg(
            F.sum(F.col("_w") * F.col("_x") * is_a).alias("_sa"),
            F.sum(F.col("_w") * is_a).alias("_wa"),
            F.sum(F.col("_w") * F.col("_x") * is_b).alias("_sb"),
            F.sum(F.col("_w") * is_b).alias("_wb"),
        )
        .filter((F.col("_wa") > 0) & (F.col("_wb") > 0))
        .select((F.col("_sa") / F.col("_wa") - F.col("_sb") / F.col("_wb")).alias("_d"))
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    ci = per_rep.agg(
        F.count("*").alias("b_used"),
        F.percentile("_d", F.lit(lo)).alias("_lo"),
        F.percentile("_d", F.lit(hi)).alias("_hi"),
    )
    point = base.agg(
        F.sum(F.when(F.col("_g") == group_a, 1).otherwise(0)).alias("n_a"),
        F.avg(F.when(F.col("_g") == group_a, F.col("_x"))).alias("_ma"),
        F.sum(F.when(F.col("_g") == group_b, 1).otherwise(0)).alias("n_b"),
        F.avg(F.when(F.col("_g") == group_b, F.col("_x"))).alias("_mb"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_a",
        F.round("_ma", 6).alias("mean_a"),
        "n_b",
        F.round("_mb", 6).alias("mean_b"),
        F.round(F.col("_ma") - F.col("_mb"), 6).alias("diff"),
        F.round("_lo", 6).alias("ci_lo"),
        F.round("_hi", 6).alias("ci_hi"),
        "b_used",
    )


def randomization_test(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col: str,
    group_a,
    group_b,
    replicates: int = 200,
    salt: str = "perm",
) -> DataFrame:
    """Two-sample randomization test for a difference in means (Fisher
    1935 by way of Dwass 1957's random subsampling): under H₀ the
    group labels are exchangeable, so the null distribution of
    mean_a − mean_b is built by RELABELING the pooled rows and the
    p-value is the add-one exceedance rate (Davison & Hinkley 1997):

        p = (1 + #{b : |d_b| ≥ |d_obs|}) / (B_used + 1)

    Each replicate relabels every pooled row independently to
    pseudo-A with probability q = n_a/N — the RANDOM-RELABELING form:
    the exact permutation test's fixed-margin constraint relaxes to
    binomial margins, which is the standard large-sample approximation
    and the only form needing no global coordination (an exact
    permutation is a distributed sort per replicate). Stated here,
    not hidden: at n ≳ 100/slice the two are statistically
    indistinguishable; replicates drawing an empty pseudo-slice are
    dropped (b_used).

    Determinism: the same one-md5-per-row + per-row-step Weyl mix as
    bootstrap_mean_ci (coverage rationale there), so any engine
    replays every assignment bit-for-bit. Execution: one explode
    (rows × replicates, the method's inherent cost) into ONE grouped
    aggregate of conditional sums; everything downstream is
    replicate-sized. Output (1 row): n_a, n_b, diff_obs, b_used,
    n_extreme, p_value.
    """
    if replicates < 2:
        raise ValueError(f"replicates must be >= 2, got {replicates}")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_x"),
    ).filter(F.col("_x").isNotNull() & F.col("_g").isin([group_a, group_b]))
    tot = base.agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("_na"),
        F.sum((F.col("_g") == group_b).cast("long")).alias("_nb"),
        F.avg(F.when(F.col("_g") == group_a, F.col("_x"))).alias("_ma"),
        F.avg(F.when(F.col("_g") == group_b, F.col("_x"))).alias("_mb"),
    )
    # one md5 per row + per-row-step Weyl mix, step derived from h
    # post-explode (see bootstrap_mean_ci for the measured carry cost)
    md5 = F.md5(F.concat_ws(":", F.lit(salt), F.col("_id")))
    h = F.conv(F.substring(md5, 1, 15), 16, 10).cast("double") / F.lit(
        float(2**60)
    )
    # fan_out only the replicate branch — same single-input-split
    # rationale as bootstrap_mean_ci (the observed-stats branch stays
    # un-fanned)
    from swivel_spark_prep_spark.cache import fan_out

    rep = fan_out(base).select(
        h.alias("_h"),
        "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(replicates)))).alias("_b"),
    ).crossJoin(F.broadcast(tot.select("_na", "_nb")))
    s = (F.lit(0.6180339887498949) * (F.lit(1.0) + F.col("_h"))) % 1.0
    u = (F.col("_h") + F.col("_b") * s) % 1.0
    q = F.col("_na").cast("double") / (F.col("_na") + F.col("_nb"))
    is_a = (u < q).cast("double")
    per_rep = (
        rep.groupBy("_b")
        .agg(
            F.sum(F.col("_x") * is_a).alias("_sa"),
            F.sum(is_a).alias("_wa"),
            F.sum(F.col("_x") * (1.0 - is_a)).alias("_sb"),
            F.sum(1.0 - is_a).alias("_wb"),
        )
        .filter((F.col("_wa") > 0) & (F.col("_wb") > 0))
        .select(
            (F.col("_sa") / F.col("_wa") - F.col("_sb") / F.col("_wb")).alias(
                "_d"
            )
        )
    )
    null_dist = per_rep.crossJoin(F.broadcast(tot)).agg(
        F.count("*").alias("b_used"),
        F.sum(
            (F.abs(F.col("_d")) >= F.abs(F.col("_ma") - F.col("_mb")))
            .cast("long")
        ).alias("n_extreme"),
    )
    return tot.crossJoin(F.broadcast(null_dist)).select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(F.col("_ma") - F.col("_mb"), 6).alias("diff_obs"),
        "b_used",
        "n_extreme",
        F.round(
            (1 + F.col("n_extreme")).cast("double") / (F.col("b_used") + 1),
            6,
        ).alias("p_value"),
    )


def effective_sample_size(
    df: DataFrame,
    weight_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kish effective sample size of a weighted dataset (Kish 1965):
    ESS = (Σw)²/Σw² — how many equal-weight rows the weighted set is
    worth. The audit that belongs NEXT TO every importance-weighting
    step (DSIR X121, temperature X58, raking X104): weights that
    concentrate on a few rows silently shrink the data, and
    ess_ratio = ESS/n is the fraction of the corpus that statistically
    survives the weighting. One grouped moments aggregate; NULL and
    non-positive weights are excluded (and counted, so the exclusion
    is visible). Output per group: (n, n_excluded, ess, ess_ratio).
    """
    w = F.col(weight_col).cast("double")
    gcols = [group_col] if group_col else []
    base = df.select(*gcols, w.alias("_w"))
    agg = base.groupBy(*gcols).agg(
        F.sum((F.col("_w") > 0).cast("long")).alias("n"),
        F.sum(
            (F.col("_w").isNull() | (F.col("_w") <= 0)).cast("long")
        ).alias("n_excluded"),
        F.sum(F.when(F.col("_w") > 0, F.col("_w"))).alias("_s"),
        F.sum(
            F.when(F.col("_w") > 0, F.col("_w") * F.col("_w"))
        ).alias("_s2"),
    )
    ess = F.when(F.col("_s2") > 0, F.col("_s") * F.col("_s") / F.col("_s2"))
    return agg.select(
        *gcols,
        "n",
        "n_excluded",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n"), 6).alias("ess_ratio"),
    )


def target_encode_oof(
    df: DataFrame,
    category_col: str,
    target_col: str,
    key_col: str,
    n_folds: int = 5,
    salt: str = "te",
) -> DataFrame:
    """Out-of-fold target encoding (the K-fold leakage guard of
    Micci-Barreca 2001's mean encoding, as every gradient-boosting
    pipeline ships it): encode a high-cardinality category by the mean
    target of OTHER folds' rows — a row must never see its own label
    through its own feature, or the encoder memorizes the training set
    (the leakage X132's audit detects; this op is the constructive
    fix). For a row in fold f of category c:

        enc = (S_c − S_{c,f}) / (N_c − N_{c,f})

    falling back to the global mean when the category has no
    out-of-fold rows (singleton categories). Folds are the
    deterministic md5 hash_bucket on ``key_col`` (salted), so the
    encoding is reproducible and the oracle can replay it.

    Scale design: ONE (category, fold) aggregate (bounded by
    |categories|·K, broadcastable) + a 1-row global mean; the encode
    is a broadcast join + arithmetic — the corpus is scanned once and
    never reshuffled. Output: input rows + (fold, target_enc).
    """
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2, got {n_folds}")
    y = F.col(target_col).cast("double")
    folded = df.withColumn(
        "fold", hash_bucket(F.col(key_col), n_folds, salt).cast("int")
    )
    cf = folded.filter(y.isNotNull()).groupBy(
        F.col(category_col).alias("_c"), F.col("fold").alias("_f")
    ).agg(F.count("*").cast("double").alias("_n"), F.sum(y).alias("_s"))
    ctot = cf.groupBy("_c").agg(
        F.sum("_n").alias("_nc"), F.sum("_s").alias("_sc")
    )
    gmean = cf.agg((F.sum("_s") / F.sum("_n")).alias("_gm"))
    lookup = (
        cf.join(F.broadcast(ctot), "_c")
        .crossJoin(F.broadcast(gmean))
        .select(
            "_c",
            "_f",
            F.when(
                F.col("_nc") > F.col("_n"),
                (F.col("_sc") - F.col("_s")) / (F.col("_nc") - F.col("_n")),
            )
            .otherwise(F.col("_gm"))
            .alias("_oof"),
        )
    )
    # fallbacks: a (category, fold) cell with NO labeled rows excludes
    # nothing -> the full category mean; an entirely unlabeled (or
    # unseen) category -> the global mean
    catmean = ctot.select(
        F.col("_c").alias("_c2"), (F.col("_sc") / F.col("_nc")).alias("_cm")
    )
    return (
        folded.join(
            F.broadcast(lookup),
            (F.col(category_col) == F.col("_c"))
            & (F.col("fold") == F.col("_f")),
            "left",
        )
        .join(
            F.broadcast(catmean),
            F.col(category_col) == F.col("_c2"),
            "left",
        )
        .crossJoin(F.broadcast(gmean))
        .withColumn(
            "target_enc",
            F.coalesce(F.col("_oof"), F.col("_cm"), F.col("_gm")),
        )
        .drop("_c", "_f", "_c2", "_oof", "_cm", "_gm")
    )


def post_stratified_mean(
    population: DataFrame,
    sample: DataFrame,
    stratum_col: str,
    value_col: str,
) -> DataFrame:
    """Post-stratified mean estimator with design-effect diagnostics
    (Holt & Smith 1979): reweight a sample's per-stratum means by the
    POPULATION stratum shares — the estimator that repairs a sample
    whose stratum mix drifted from the corpus it claims to represent
    (the static counterpart of raking, exact when there is one
    stratification variable):

        ŷ_post = Σ W_s·ȳ_s,   V̂_post = Σ W_s²·v_s/n_s
        deff   = V̂_post / V̂_srs

    deff < 1 quantifies the precision BOUGHT by post-stratification;
    strata present in the population but absent from the sample are
    reported (their weight is unrepresented, the estimator's blind
    spot).

    Scale design: two grouped moment aggregates (population shares,
    sample stats) joined on the bounded stratum relation + one 1-row
    rollup. Output one row: (n_sample, n_strata, n_missing_strata,
    n_sample_only_strata, missing_weight, ybar_srs, ybar_post,
    se_post, deff).
    """
    y = F.col(value_col).cast("double")
    pop = population.filter(F.col(stratum_col).isNotNull()).groupBy(
        F.col(stratum_col).alias("_s")
    ).agg(F.count("*").cast("double").alias("_np"))
    popw = pop.crossJoin(
        F.broadcast(pop.agg(F.sum("_np").alias("_ntot")))
    ).select("_s", (F.col("_np") / F.col("_ntot")).alias("_w"))
    samp = (
        sample.filter(F.col(stratum_col).isNotNull() & y.isNotNull())
        .groupBy(F.col(stratum_col).alias("_s"))
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.avg(y).alias("_m"),
            F.var_samp(y).alias("_v"),
        )
    )
    # Full outer: population strata missing from the sample are the
    # estimator's blind spot (n_missing_strata), while SAMPLE-only
    # strata (absent from the population) carry zero post-strat weight
    # but must still be counted — n_sample is the unjoined sample size,
    # so the two denominators (n_sample vs ybar_srs/deff) agree.
    j = popw.join(samp, "_s", "full")
    srs = sample.filter(y.isNotNull()).agg(
        F.count("*").cast("double").alias("_nsrs"),
        F.avg(y).alias("_msrs"),
        F.var_samp(y).alias("_vsrs"),
    )
    out = j.agg(
        F.sum("_n").alias("_ns"),
        F.sum(F.col("_w").isNotNull().cast("long")).alias("_k"),
        F.sum(
            (F.col("_w").isNotNull() & F.col("_m").isNull()).cast("long")
        ).alias("_miss"),
        F.sum(F.col("_w").isNull().cast("long")).alias("_sonly"),
        F.sum(F.when(F.col("_m").isNull(), F.col("_w"))).alias("_missw"),
        F.sum(F.col("_w") * F.col("_m")).alias("_ypost"),
        F.sum(
            F.col("_w") * F.col("_w") * F.col("_v") / F.col("_n")
        ).alias("_vpost"),
    ).crossJoin(F.broadcast(srs))
    return out.select(
        F.col("_ns").cast("long").alias("n_sample"),
        F.col("_k").cast("long").alias("n_strata"),
        F.col("_miss").cast("long").alias("n_missing_strata"),
        F.col("_sonly").cast("long").alias("n_sample_only_strata"),
        F.round(F.coalesce("_missw", F.lit(0.0)), 6).alias("missing_weight"),
        F.round("_msrs", 6).alias("ybar_srs"),
        F.round("_ypost", 6).alias("ybar_post"),
        F.round(F.sqrt("_vpost"), 6).alias("se_post"),
        F.round(
            F.col("_vpost") / (F.col("_vsrs") / F.col("_nsrs")), 6
        ).alias("deff"),
    )
