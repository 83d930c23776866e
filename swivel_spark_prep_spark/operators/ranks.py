"""Scale-safe ordered prefix aggregates — the one primitive behind every
"running total / running max over a globally-ordered relation" in this
engine: vocabulary ids (``swivel.assign_ids``), packing offsets, ranks,
CDFs, quantiles and step-down envelopes.

A naive ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY forces Spark
to collapse the whole relation into ONE task (Exchange SinglePartition +
Sort) — correct at test scale, a single-executor sort at 100 TB. The
two-pass body here (:func:`_two_pass`) computes the identical values with
no single-task data stage and no driver collect:

1. range-partition by (group, order) and tag every row with its
   partition id ``_pid`` — equal keys land together, so each partition
   is a contiguous slice of the global order;
2. a partition-local running window (PARTITIONED by ``_pid``);
3. per-partition totals — a control relation of at most
   ``#partitions + #groups`` rows;
4. an offsets window over those totals in ``_pid`` order (per group);
5. broadcast-join the offsets back and combine them with the local
   values.

Partition ids are fixed by ONE persist. RangePartitioner samples its
boundaries per execution, so if branches 2 and 3 each executed the range
exchange, a row near a boundary could get one ``_pid`` in the local
branch and another in the totals branch, and the offsets would be
silently wrong (duplicated or skipped vocabulary ids). The
``_pid``-tagged relation is therefore persisted through
``cache.track_persist`` and both branches read the same
materialisation — exact whether or not Spark reuses the exchange, and
whether or not a cached block is evicted (a recomputed block re-reads
the same shuffle output).

Release contract: the returned DataFrame is lazy and reads the persisted
relation, so fetch or write it before the session owner calls
``cache.release_persisted()`` — or inside a ``cache.persisted_scope()``
whose exit releases it. Released too early, the plan re-runs the range
exchange per branch and loses the guarantee above.

Grouped form: with ``group_cols`` the running aggregate RESETS per group
and each group occupies a contiguous run of partitions. Use it when
group cardinality is control-plane-sized (sources, languages, shards); a
per-group window is the right tool only when groups are numerous AND
individually small.

Determinism contract: ``order_cols`` must totally order the rows within
each group (build the relation with a groupBy on the order key first, as
binary_auc/ks_test do, or use a unique key). With duplicate order keys
the split of ties across the exclusive/inclusive boundary is
tie-order-dependent — exactly as it is under a raw running window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swivel_spark_prep_spark.cache import track_persist

__all__ = [
    "partitioned_prefix_sum",
    "partitioned_prefix_extremum",
    "weighted_quantile",
]


def _two_pass(
    df, order_cols, group_cols, inclusive, value_cols, out_cols, agg_fn, combine
):
    """The shared body: ``out = combine(local, offset)`` per value column,
    where ``local`` is ``agg_fn`` over the row's partition-local prefix
    and ``offset`` is ``agg_fn`` over all earlier partitions of its
    group (NULL for the first). Input columns are preserved."""
    group_cols = list(group_cols or [])
    order_cols = list(order_cols)
    # NOT df.rdd.getNumPartitions() (plan-to-RDD conversion; single-file
    # inputs would collapse the range exchange to one partition) —
    # shuffle.partitions is the knob deployments size to their data.
    spark = df.sparkSession
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        2,
    )
    # _gconst keeps the offsets window's partition spec non-empty when
    # there are no groups (an unpartitioned Window is the shape the plan
    # guardrail bans). Stored in the persisted relation, the constant is
    # an opaque attribute to Catalyst, so it is not folded out.
    keys = [*group_cols, "_gconst"]
    tagged = track_persist(
        df.repartitionByRange(n_part, *group_cols, *order_cols)
        .sortWithinPartitions(*group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_gconst", F.lit(0))
    )
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = tagged.select(
        "*", *[agg_fn(v).over(w_local).alias(f"_loc_{v}") for v in value_cols]
    )
    offsets = (
        tagged.groupBy("_pid", *keys)
        .agg(*[agg_fn(v).alias(f"_t_{v}") for v in value_cols])
        .select(
            "_pid",
            *keys,
            *[agg_fn(f"_t_{v}").over(w_off).alias(f"_off_{v}") for v in value_cols],
        )
    )
    out = local.join(F.broadcast(offsets), ["_pid", *keys])
    for v, o in zip(value_cols, out_cols):
        out = out.withColumn(o, combine(F.col(f"_loc_{v}"), F.col(f"_off_{v}")))
    return out.drop(
        "_pid",
        "_gconst",
        *[f"_loc_{v}" for v in value_cols],
        *[f"_off_{v}" for v in value_cols],
    )


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: list,
    value_cols,
    out_cols=None,
    *,
    group_cols: list | None = None,
    inclusive: bool = False,
) -> DataFrame:
    """Append running-sum columns over the total order ``order_cols``
    (within ``group_cols`` if given) without any single-partition data
    stage. ``inclusive=False`` sums rows strictly BEFORE each row
    (exclusive prefix, 0 for the first row); ``inclusive=True`` includes
    the row itself. Multiple ``value_cols`` share one pass. All input
    columns are preserved; ``out_cols`` default to ``<value>_cum``.
    """
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    out_cols = list(out_cols) if out_cols else [f"{v}_cum" for v in value_cols]
    if len(out_cols) != len(value_cols):
        raise ValueError("out_cols must match value_cols in length")
    zero = F.lit(0)
    return _two_pass(
        df, order_cols, group_cols, inclusive, value_cols, out_cols, F.sum,
        lambda loc, off: F.coalesce(loc, zero) + F.coalesce(off, zero),
    )


def partitioned_prefix_extremum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str | None = None,
    *,
    group_cols: list | None = None,
    inclusive: bool = False,
    agg: str = "max",
) -> DataFrame:
    """Running MAX/MIN over the total order ``order_cols`` (within
    ``group_cols``), the same two-pass body as
    :func:`partitioned_prefix_sum`. ``order_cols`` may contain
    descending Column expressions (``F.col("x").desc()``); the range
    partitioner, the local sort and the local window all honor them.

    Rows whose prefix is empty (the global/group first row under
    ``inclusive=False``) get NULL — the honest "no preceding value"
    answer (there is no additive identity for max the way 0 is for
    sum). ``F.greatest``/``F.least`` skip NULLs, which is exactly how
    the offsets are merged here.

    Consumers: the skyline/Pareto front ("keep x-groups whose best y
    beats the running max of all better-x groups") and Holm's
    step-down envelope (an inclusive running max in p order).
    """
    if agg not in ("max", "min"):
        raise ValueError(f"agg must be 'max' or 'min', got {agg!r}")
    return _two_pass(
        df, order_cols, group_cols, inclusive, [value_col],
        [out_col or f"{value_col}_{agg}"],
        F.max if agg == "max" else F.min,
        F.greatest if agg == "max" else F.least,
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs,
    *,
    group_cols: list | None = None,
) -> DataFrame:
    """Weighted quantiles per group: the left-continuous inverse CDF
    v(q) = min{ v : Σ_{v' ≤ v} w(v') ≥ q·W } — the quantile a
    sample-weighted survey, an importance-weighted corpus mix, or a
    token-budget allocation actually needs (plain percentile_/median
    treats every row as weight 1). With all weights 1 it reduces to the
    "lower" quantile of the unweighted values (pinned in tests).

    Scale design: collapse to the per-(group, value) weight relation
    (hash aggregate, value-cardinality), one INCLUSIVE
    :func:`partitioned_prefix_sum` in value order for the running
    weight, then for each requested q one filter + min-aggregate
    against the broadcast per-group totals — no window over data, no
    sort of the corpus, one prefix pass shared by ALL requested qs.
    Zero/negative weights are rejected upstream of the CDF (a zero
    weight cannot move a quantile; negatives make the CDF non-monotone
    — refused loudly). NULL values are excluded. Output: one row per
    (group, q): (group..., q, value).
    """
    qs = [qs] if isinstance(qs, (int, float)) else list(qs)
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"each q must be in (0, 1], got {qs}")
    group_cols = list(group_cols or [])
    base = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    ).filter(F.col("_v").isNotNull() & F.col("_w").isNotNull())
    # negative weights: refuse loudly. The guard must be LOAD-BEARING —
    # a dropped assert_true column gets pruned by Catalyst and never
    # evaluates — so the weight itself is routed through the check:
    # assert_true returns NULL on success, raises on violation.
    base = base.select(
        *group_cols,
        "_v",
        F.when(
            F.assert_true(
                F.col("_w") >= 0, F.lit("weighted_quantile: negative weight")
            ).isNull(),
            F.col("_w"),
        ).alias("_w"),
    ).filter(F.col("_w") > 0)
    dv = base.groupBy(*group_cols, "_v").agg(F.sum("_w").alias("_wsum"))
    cum = partitioned_prefix_sum(
        dv,
        ["_v"],
        "_wsum",
        ["_cw"],
        group_cols=group_cols or None,
        inclusive=True,
    )
    totals = dv.groupBy(*group_cols).agg(F.sum("_wsum").alias("_W"))
    if group_cols:
        joined = cum.join(F.broadcast(totals), group_cols)
    else:
        joined = cum.crossJoin(F.broadcast(totals))
    # ALL qs from ONE aggregate (round-16 optimization): the previous
    # form ran filter + min-aggregate once per q and unioned the
    # results, so the whole CDF lineage (collapse + prefix pass) was
    # replicated — and re-executed — |qs| times per call (measured: a
    # 9-q call over the same relation carried 9 copies of the prefix
    # pass in the plan; qq_drift's two calls made it 18). A conditional
    # min per q over the SAME prefix relation is the identical
    # left-continuous inverse CDF — min over {v : cw ≥ q·W} — computed
    # in one pass, then unpivoted to the same (group..., q, value) rows.
    agg = joined.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("_cw") >= F.lit(float(q)) * F.col("_W"), F.col("_v")
                )
            ).alias(f"_q_{i}")
            for i, q in enumerate(qs)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"), F.col(f"_q_{i}").alias("value")
            )
            for i, q in enumerate(qs)
        ]
    )
    return agg.select(*group_cols, F.explode(pairs).alias("_p")).select(
        *group_cols, F.col("_p.q").alias("q"), F.col("_p.value").alias("value")
    )
