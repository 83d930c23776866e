"""Extra queries beyond the declared 44 — LLM-data-pipeline operators.

Most are oracle-checked (deterministic, SQL-expressible) — including X06,
whose MinHash-LSH output equals the exact all-pairs Jaccard ≥ 0.8 result
because the exact-verify stage makes it deterministic given recall (and
recall is property-tested at both SFs). X07/X08/X11/X15 use seeded
xxhash64 / LSH / sketch internals DuckDB cannot replay — the driver
records a rows-only check; their quality guarantees (recall vs the exact
oracles) are asserted by tests/test_llm_operators.py instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from swivel_spark_prep_spark.catalog import load_table
from swivel_spark_prep_spark.operators import dedup, multimodal, similarity, textstats

QueryFn = Callable[[SparkSession, str], DataFrame]

EXTRA_QUERIES: dict[str, QueryFn] = {}
EXTRA_ORACLES: dict[str, str] = {}


def _declare(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        EXTRA_QUERIES[name] = fn
        if oracle is not None:
            EXTRA_ORACLES[name] = oracle
        return fn

    return deco


def _stop_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang]) + "]"


@_declare(
    "X01_lang_id",
    f"""WITH s AS (
  SELECT lang,
         len(list_intersect(string_split(text,' '), {_stop_list_sql('en')})) AS s_en,
         len(list_intersect(string_split(text,' '), {_stop_list_sql('fr')})) AS s_fr,
         len(list_intersect(string_split(text,' '), {_stop_list_sql('es')})) AS s_es,
         len(list_intersect(string_split(text,' '), {_stop_list_sql('de')})) AS s_de,
         len(list_intersect(string_split(text,' '), {_stop_list_sql('zh')})) AS s_zh
  FROM documents),
g AS (SELECT *, greatest(s_en, s_fr, s_es, s_de, s_zh) AS g FROM s)
SELECT lang,
       CASE WHEN g = 0 THEN 'und'
            WHEN s_en = g THEN 'en' WHEN s_fr = g THEN 'fr'
            WHEN s_es = g THEN 'es' WHEN s_de = g THEN 'de'
            ELSE 'zh' END AS pred_lang,
       COUNT(*) AS n
FROM g GROUP BY lang, pred_lang ORDER BY lang, pred_lang;""",
)
def x01(spark, sf_dir):
    # Stopword-overlap language ID (operators/textstats.py); the first
    # language in LANG_ORDER reaching the max score wins, 'und' when no
    # stopword matches.
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.language_id(docs)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


@_declare(
    "X02_quality_score",
    """SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok,
       ROUND((length(text) - (len(string_split(text,' ')) - 1))::DOUBLE / len(string_split(text,' ')), 4) AS avg_tok_len,
       ROUND(length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE / length(text), 4) AS alpha_ratio,
       ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text), 4) AS digit_ratio,
       ROUND(CASE WHEN len(string_split(text,' ')) < 5 THEN 0.0
             ELSE least(100.0, greatest(0.0,
                  100.0 * length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE / length(text)
                  - 10.0 * length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text))) END, 4) AS quality
FROM documents ORDER BY doc_id;""",
)
def x02(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.quality_score(docs)
        .select("doc_id", "n_tok", "avg_tok_len", "alpha_ratio", "digit_ratio", "quality")
        .orderBy("doc_id")
    )


@_declare(
    "X03_token_counts",
    """SELECT doc_id, len(string_split(text,' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]'))::BIGINT AS re_tokens
FROM documents ORDER BY doc_id;""",
)
def x03(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.token_counts(docs)
        .select("doc_id", "ws_tokens", "re_tokens")
        .orderBy("doc_id")
    )


@_declare(
    "X04_fingerprint",
    """SELECT doc_id,
       md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp_md5,
       list_reduce(list_transform(string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ''),
                   c -> ascii(c)::BIGINT),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_rolling
FROM documents ORDER BY doc_id;""",
)
def x04(spark, sf_dir):
    # DuckDB list_reduce has no init accumulator (starts at element 0);
    # Spark aggregate starts at 0 — equivalent because 0*31+c0 = c0.
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.fingerprint(docs)
        .select("doc_id", "fp_md5", "fp_rolling")
        .orderBy("doc_id")
    )


@_declare(
    "X05_allpairs_topk",
    """SELECT a.vec_id AS i, b.vec_id AS j,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, i, j
LIMIT 20;""",
)
def x05(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.all_pairs_topk(emb, k=20)
        .select("i", "j", F.round("sim", 4).alias("sim"))
    )


@_declare(
    "X06_minhash_near_dups",
    # Exact all-pairs 3-shingle Jaccard ≥ 0.8 (Q41's oracle without the
    # df band) IS a valid oracle for the LSH path: the exact-verify stage
    # makes the output deterministic given recall, and with b=16, r=4 a
    # pair at jac = 0.8 is missed w.p. ≈ 3e-4 (the recall property test
    # at both SFs shows recall = 100% on the fixture).
    """WITH sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh)
         WHERE a.doc_id < b.doc_id)
SELECT d1, d2,
       ROUND(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
             (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))),4) AS jac
FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
WHERE len(list_intersect(x.shingles,y.shingles))::DOUBLE /
      (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.8
ORDER BY d1, d2;""",
)
def x06(spark, sf_dir):
    # MinHash-LSH near-dup pairs, exact-Jaccard verified at ≥ 0.8.
    # Recall vs the exact Q41 oracle asserted in tests/test_llm_operators.py.
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.minhash_near_dups(docs, jaccard_threshold=0.8)
        .select("d1", "d2", F.round("jac", 4).alias("jac"))
        .orderBy("d1", "d2")
    )


@_declare("X07_simhash_near_dups", None)  # xxhash64 — not DuckDB-replayable
def x07(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.simhash_near_dups(docs, max_hamming=16)
        .orderBy("d1", "d2")
    )


@_declare("X08_ann_topk", None)  # LSH hyperplanes — not DuckDB-replayable
def x08(spark, sf_dir):
    # Approximate nearest neighbours for vec_id 0; recall vs the exact
    # Q42 top-k asserted in tests/test_llm_operators.py.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(emb, query_id=0, k=5, dim=64).select(
        "vec_id", F.round("sim", 4).alias("sim")
    )


@_declare(
    "X10_embedding_near_dups",
    """SELECT a.vec_id AS i, b.vec_id AS j,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
ORDER BY i, j;""",
)
def x10(spark, sf_dir):
    # Exact embedding-cosine near-dup pairs via blocked matmul
    # (operators/similarity.py). The fixtures' embeddings are random
    # (max pairwise cosine ≈ 0.5), so τ=0.4 exercises a realistic sparse
    # near-dup band; the LSH variant's recall against this exact result is
    # asserted in tests/test_llm_operators.py.
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.cosine_near_dups(emb, threshold=0.4)
        .select("i", "j", F.round("sim", 4).alias("sim"))
        .orderBy("i", "j")
    )


@_declare("X11_ivf_topk", None)  # k-means centroids — not DuckDB-replayable
def x11(spark, sf_dir):
    # IVF ANN for vec_id 0 probing 4/16 lists; full-probe ≡ brute-force
    # exactness is property-tested in tests/test_llm_operators.py.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, k=5, nlist=16, nprobe=4).select(
        "vec_id", F.round("sim", 4).alias("sim")
    )


@_declare(
    "X12_grouping_sets",
    """SELECT r_name, c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal),2) AS bal
FROM customer JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST;""",
)
def x12(spark, sf_dir):
    # GROUPING SETS beyond ROLLUP/CUBE (Q15/Q16): the general form, via the
    # DataFrame groupingSets API (one expand + one hash aggregate — same
    # physical shape as rollup).
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    joined = cust.join(
        nat, cust.c_nationkey == nat.n_nationkey
    ).join(reg, nat.n_regionkey == reg.r_regionkey)
    return (
        joined.groupingSets(
            [["r_name", "c_mktsegment"], ["r_name"], ["c_mktsegment"]],
            "r_name",
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(),
            F.col("c_mktsegment").asc_nulls_first(),
        )
    )


@_declare(
    "X13_pivot",
    """SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS f_cnt,
       COUNT(*) FILTER (o_orderstatus = 'O') AS o_cnt,
       COUNT(*) FILTER (o_orderstatus = 'P') AS p_cnt,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 0), 2) AS f_sum,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 0), 2) AS o_sum,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 0), 2) AS p_sum
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority;""",
)
def x13(spark, sf_dir):
    # Pivot with an explicit value list (no extra pass to discover keys —
    # at scale always pin the pivot values). Aggregates compile to one
    # hash aggregate with conditional (FILTER) aggregation, no join.
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),  # count(*) is invalid inside pivot
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("sum"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("F_cnt", F.lit(0)).alias("f_cnt"),
        F.coalesce("O_cnt", F.lit(0)).alias("o_cnt"),
        F.coalesce("P_cnt", F.lit(0)).alias("p_cnt"),
        F.coalesce("F_sum", F.lit(0.0)).alias("f_sum"),
        F.coalesce("O_sum", F.lit(0.0)).alias("o_sum"),
        F.coalesce("P_sum", F.lit(0.0)).alias("p_sum"),
    ).orderBy("o_orderpriority")


@_declare(
    "X14_percentiles",
    """SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 4) AS p25,
       ROUND(quantile_cont(value, 0.50), 4) AS p50,
       ROUND(quantile_cont(value, 0.75), 4) AS p75,
       ROUND(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY event_type ORDER BY event_type;""",
)
def x14(spark, sf_dir):
    # Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    # quantile_cont — linear interpolation; NEVER percentile_approx here,
    # the approximate sketch is engine-specific and covered by X15).
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("q"))
        .select(
            "event_type",
            F.round(F.element_at("q", 1), 4).alias("p25"),
            F.round(F.element_at("q", 2), 4).alias("p50"),
            F.round(F.element_at("q", 3), 4).alias("p75"),
            F.round(F.element_at("q", 4), 4).alias("p95"),
        )
        .orderBy("event_type")
    )


@_declare("X15_approx_distinct", None)  # HLL++ sketch — engine-specific
def x15(spark, sf_dir):
    # approx_count_distinct (HyperLogLog++): deterministic for fixed data
    # but not DuckDB-replayable; bounded relative error vs the exact Q14
    # counts is property-tested in tests/test_operators_misc.py.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("nd_part_approx"),
            F.approx_count_distinct("l_suppkey", 0.02).alias("nd_supp_approx"),
        )
        .orderBy("l_returnflag")
    )


@_declare(
    "X16_win_range_frame",
    """SELECT event_id, user_id, COUNT(*) OVER w AS n_1h, ROUND(SUM(value) OVER w, 2) AS v_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id;""",
)
def x16(spark, sf_dir):
    # RANGE frame keyed on time (trailing 1 hour per user). Spark's
    # rangeBetween needs a numeric ordering column, so the frame is pinned
    # in epoch MICROseconds on both engines — truncating to seconds would
    # move frame boundaries for sub-second timestamps.
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("v_1h"),
    ).orderBy("event_id")


@_declare(
    "X17_win_ntile",
    """SELECT c_custkey, NTILE(4) OVER o AS quartile,
       ROUND(PERCENT_RANK() OVER o, 4) AS pr, ROUND(CUME_DIST() OVER o, 4) AS cd
FROM customer WINDOW o AS (ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_custkey;""",
)
def x17(spark, sf_dir):
    # Distribution window functions. The unpartitioned ORDER BY makes this
    # a single-task window at any scale — correct here by contract; the
    # 100 TB path for global quantile bucketing is X14's percentile /
    # approx_percentile, not a global window.
    cust = load_table(spark, sf_dir, "customer")
    o = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        F.ntile(4).over(o).alias("quartile"),
        F.round(F.percent_rank().over(o), 4).alias("pr"),
        F.round(F.cume_dist().over(o), 4).alias("cd"),
    ).orderBy("c_custkey")


@_declare(
    "X18_scalar_subquery",
    """SELECT l_orderkey, l_linenumber FROM lineitem l
WHERE l_quantity > 1.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
ORDER BY l_orderkey, l_linenumber;""",
)
def x18(spark, sf_dir):
    # Correlated scalar subquery, expressed directly as its decorrelated
    # plan: per-key aggregate + equi-join + filter — the same shape
    # Catalyst rewrites the subquery into, with map-side partial agg and a
    # shuffle on l_partkey only.
    li = load_table(spark, sf_dir, "lineitem")
    avg_q = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_avg_q"))
    return (
        li.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") > 1.5 * F.col("_avg_q"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@_declare(
    "X19_topk_revenue",
    """SELECT o_orderkey, ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10;""",
)
def x19(spark, sf_dir):
    # TPC-H Q3 shape: selective dimension filter → two equi-joins → agg →
    # global top-k (TakeOrderedAndProject, no full sort). Filters sit
    # before the joins so they push into the parquet scans.
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_declare(
    "X20_win_first_last",
    """SELECT o_orderkey, o_custkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_ok,
       LAST_VALUE(o_orderkey) OVER w AS last_ok,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderkey;""",
)
def x20(spark, sf_dir):
    # first/last/nth over an explicit full-partition frame (the default
    # frame would stop at CURRENT ROW and make last_value ≡ the row itself).
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    ).orderBy("o_orderkey")


@_declare(
    "X21_string_agg",
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name;""",
)
def x21(spark, sf_dir):
    # Ordered string aggregation: collect_list is order-nondeterministic
    # under parallel merge, so determinism comes from array_sort before the
    # join — never from assuming input order.
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        nat.join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
        .orderBy("r_name")
    )


@_declare(
    "X22_hash_split",
    """SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id FROM (
  SELECT doc_id,
         CASE WHEN b < 800000 THEN 'train' WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 1000000 AS b
        FROM documents))
GROUP BY split ORDER BY split;""",
)
def x22(spark, sf_dir):
    # Deterministic md5-bucket train/val/test split (operators/sampling.py):
    # membership is a pure function of the key, so splits stay disjoint and
    # stable as the corpus grows — no shuffle, map-side only.
    from swivel_spark_prep_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_id"))
        .orderBy("split")
    )


@_declare(
    "X23_higher_order_funcs",
    """SELECT doc_id,
       len(list_filter(string_split(text,' '), x -> length(x) > 3))::BIGINT AS n_long,
       list_reduce(list_transform(string_split(text,' '), x -> length(x)::BIGINT),
                   (a, b) -> a + b) AS sum_len,
       array_to_string(list_transform(string_split(text,' ')[1:3], x -> upper(x)), ' ') AS head_upper
FROM documents ORDER BY doc_id;""",
)
def x23(spark, sf_dir):
    # Higher-order array functions stay whole-stage-codegen'd JVM
    # expressions (lambdas compile to Catalyst LambdaFunction) — the
    # fast path for per-row array work that would otherwise tempt a UDF.
    # Token array materialized once for its three consumers.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    toks = F.col("_toks")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 3)).cast("long").alias("n_long"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("sum_len"),
        F.array_join(
            F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)), " "
        ).alias("head_upper"),
    ).orderBy("doc_id")


@_declare(
    "X24_pack_sequences",
    """WITH t AS (
  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok FROM documents),
c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
  FROM t)
SELECT doc_id, n_tok, (cum_before // 512)::BIGINT AS first_chunk,
       ((cum_before + n_tok - 1) // 512)::BIGINT AS last_chunk
FROM c ORDER BY doc_id;""",
)
def x24(spark, sf_dir):
    # Concat-and-chunk sequence packing (operators/packing.py): documents
    # laid end-to-end in doc_id order, cut every 512 tokens. The oracle is
    # the single-window formulation; the engine computes the same prefix
    # sum with the two-pass range-partitioned scheme (no global window).
    from swivel_spark_prep_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, chunk_tokens=512).orderBy("doc_id")


@_declare(
    "X25_clean_text",
    r"""SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
      '\d(?:[ \-.]?\d){6,}', '<number>', 'g'),
    '\s+', ' ', 'g')) AS text_clean
FROM documents ORDER BY doc_id;""",
)
def x25(spark, sf_dir):
    # Corpus normalization + PII masking (operators/textstats.clean_text):
    # one fused JVM regex projection; redaction unit-specs live in
    # tests/test_operators_misc.py (the fixture corpus itself is clean).
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.clean_text(docs)
        .select("doc_id", "text_clean")
        .orderBy("doc_id")
    )


@_declare(
    "X26_multi_query_topk",
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
s AS (SELECT qid, vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS sim
      FROM embeddings, q WHERE vec_id <> qid),
r AS (SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s)
SELECT qid, vec_id, ROUND(sim, 4) AS sim FROM r WHERE rn <= 5
ORDER BY qid, vec_id;""",
)
def x26(spark, sf_dir):
    # Batched retrieval: exact top-5 for 4 queries in ONE corpus scan
    # (operators/similarity.cosine_topk_many — per-Arrow-batch matmul
    # against the broadcast query matrix, block-local top-k, global
    # window re-rank).
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.cosine_topk_many(emb, [0, 1, 2, 3], k=5)
        .select("qid", "vec_id", F.round("sim", 4).alias("sim"))
        .orderBy("qid", "vec_id")
    )


@_declare(
    "X27_repetition_score",
    """SELECT doc_id,
       ROUND(CASE WHEN len(string_split(text,' ')) - 1 <= 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(list_transform(
                     range(len(string_split(text,' ')) - 1),
                     p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2])))::DOUBLE
                 / (len(string_split(text,' ')) - 1) END, 4) AS rep_ratio
FROM documents ORDER BY doc_id;""",
)
def x27(spark, sf_dir):
    # Gopher-style duplicate-bigram fraction (operators/textstats.py
    # repetition_score) — per-row JVM array expressions, no shuffle. The
    # engine hashes n-grams (xxhash64 tuples) where the oracle joins
    # strings: distinct-counts agree up to 64-bit collisions.
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.repetition_score(docs, n=2)
        .select("doc_id", F.round("rep_ratio", 4).alias("rep_ratio"))
        .orderBy("doc_id")
    )


@_declare(
    "X29_date_parts",
    """SELECT o_orderkey, quarter(o_orderdate) AS q, weekofyear(o_orderdate) AS w,
       isodow(o_orderdate) AS dw, epoch(o_orderdate)::BIGINT AS ep
FROM orders ORDER BY o_orderkey;""",
)
def x29(spark, sf_dir):
    # Calendar parts beyond Q27, conventions pinned across engines:
    # ISO weekday 1=Mon..7=Sun is Spark weekday()+1 (Spark's dayofweek()
    # counts 1=Sun); epoch seconds need the NTZ→TZ cast (UTC session) for
    # unix_timestamp.
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.weekofyear("o_orderdate").cast("long").alias("w"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("dw"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("ep"),
    ).orderBy("o_orderkey")


_LATERAL_SQL = """SELECT r_name, l.n_name, l.n FROM region,
LATERAL (SELECT n_name, COUNT(*) AS n
         FROM nation JOIN customer ON c_nationkey = n_nationkey
         WHERE n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY n DESC, n_name LIMIT 2) l
ORDER BY r_name, n DESC, n_name"""


@_declare("X28_lateral_topk", _LATERAL_SQL + ";")
def x28(spark, sf_dir):
    # Correlated LATERAL subquery in FROM (per-region top-2 nations) —
    # the same SQL text runs on both engines; Catalyst decorrelates the
    # lateral into a ranked join, no per-row re-execution.
    from swivel_spark_prep_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@_declare(
    "X09_multimodal_features",
    """SELECT doc_id, length(text)::BIGINT AS n_bytes,
       (length(text) // 1000 + 1)::BIGINT AS n_frames,
       ROUND(length(text)::DOUBLE, 4) AS feat_n
FROM documents ORDER BY doc_id;""",
)
def x09(spark, sf_dir):
    # Binary-column plumbing through mapInPandas (Arrow batches): payload
    # bytes → typed metadata + fake features. The byte-content features are
    # property-tested; the oracle pins the length-derived columns (ascii
    # text → n_bytes == length(text)).
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(media, decode_mode="fake")
    return feats.select(
        "doc_id",
        "n_bytes",
        "n_frames",
        F.round(F.element_at("features", 4), 4).alias("feat_n"),
    ).orderBy("doc_id")


@_declare(
    "X30_remove_common_lines",
    """WITH lines AS (
  SELECT doc_id, p::BIGINT AS pos, arr[p+1] AS line
  FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
       UNNEST(range(len(arr))) AS u(p)),
common AS (
  SELECT line FROM lines GROUP BY line
  HAVING COUNT(DISTINCT doc_id) >=
         CAST(ceil(0.79 * (SELECT COUNT(*) FROM documents)) AS BIGINT)),
kept AS (SELECT doc_id, pos, line FROM lines ANTI JOIN common USING (line)),
rebuilt AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY doc_id)
SELECT d.doc_id, COALESCE(r.clean, '') AS text
FROM documents d LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id;""",
)
def x30(spark, sf_dir):
    # Boilerplate (sub-document) dedup: drop every "line" appearing in
    # >= 79% of documents (operators/dedup.py remove_common_lines). The
    # fixture docs are single-line, so the separator is ' ' — the operator
    # is separator-generic; the posexplode -> df-count -> broadcast
    # anti-join -> ordered-reassemble plan is identical for '\n' corpora.
    # Threshold is relative to |docs| so the query stays non-degenerate at
    # every SF (the fixture vocab is ~31 tokens with ~80% doc-frequency);
    # min_df_frac folds the corpus size into the plan (1-row broadcast
    # aggregate), so no driver-side count() job runs before the main plan.
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.remove_common_lines(docs, min_df_frac=0.79, sep=" ")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


def _io_dir(sf_dir: str, leaf: str) -> str:
    """Per-process scratch dir for source/sink round-trip queries. The PID
    discriminator keeps two concurrent runs at the same SF (bench + pytest,
    pytest -n) from overwriting each other's round-trip data between one
    process's write and read. Scratch left by processes that no longer
    exist is swept opportunistically so repeated bench/test runs don't
    accumulate dead round-trip data in the system tempdir."""
    import contextlib
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "ssps_io")
    with contextlib.suppress(OSError):
        for d in os.listdir(root):
            pid = d.rsplit("-", 1)[-1]
            if pid.isdigit() and int(pid) != os.getpid():
                try:
                    os.kill(int(pid), 0)  # raises if the owner is gone
                except ProcessLookupError:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                except OSError:
                    pass  # alive but unsignalable — leave it
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(root, f"{tag}-{os.getpid()}", leaf)


@_declare(
    "X31_csv_roundtrip",
    """SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus;""",
)
def x31(spark, sf_dir):
    # CSV sink + source round-trip (sources.read_csv): write the slice,
    # read it back with an explicit schema (never inferSchema in a
    # production path), aggregate. Spark writes doubles via shortest
    # round-trip repr, so SUM over the re-read column is exact.
    from swivel_spark_prep_spark import sources

    path = _io_dir(sf_dir, "orders_csv")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    back = sources.read_csv(
        spark,
        path,
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@_declare(
    "X32_jsonl_roundtrip",
    """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity),2) AS qty,
       ROUND(SUM(l_extendedprice),2) AS ext
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag;""",
)
def x32(spark, sf_dir):
    # JSONL sink + source round-trip (sources.read_jsonl) — the ingest
    # format of most raw LLM corpora. Explicit schema on read.
    from swivel_spark_prep_spark import sources

    path = _io_dir(sf_dir, "lineitem_jsonl")
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .json(path)
    )
    back = sources.read_jsonl(
        spark,
        path,
        schema="l_orderkey bigint, l_returnflag string, l_quantity double, l_extendedprice double",
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("ext"),
        )
        .orderBy("l_returnflag")
    )


@_declare(
    "X33_partitioned_pruning",
    """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value),2) AS v
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id;""",
)
def x33(spark, sf_dir):
    # Hive-partitioned sink + pruned read (sinks.write_partitioned): the
    # equality filter on the partition column prunes directories before
    # any IO — tests/test_plans.py asserts PartitionFilters carries it.
    from swivel_spark_prep_spark import sinks

    path = _io_dir(sf_dir, "events_by_type")
    sinks.write_partitioned(
        load_table(spark, sf_dir, "events"), path, ["event_type"]
    )
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return (
        back.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .orderBy("user_id")
    )


@_declare(
    "X34_unpivot",
    """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal::DOUBLE AS val FROM customer
UNION ALL
SELECT c_custkey, 'c_nationkey' AS metric, c_nationkey::DOUBLE AS val FROM customer
ORDER BY c_custkey, metric;""",
)
def x34(spark, sf_dir):
    # Wide→long reshape: DataFrame.unpivot (single Expand node, no
    # N-way self-union scan).
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double"),
        F.col("c_nationkey").cast("double"),
    )
    return cust.unpivot(
        ids=["c_custkey"],
        values=["c_acctbal", "c_nationkey"],
        variableColumnName="metric",
        valueColumnName="val",
    ).orderBy("c_custkey", "metric")


@_declare(
    "X35_win_dist",
    """SELECT o_custkey, o_orderkey,
       ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),4) AS pr,
       ROUND(CUME_DIST()  OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),4) AS cd
FROM orders ORDER BY o_custkey, o_orderkey;""",
)
def x35(spark, sf_dir):
    # Distribution window functions (percent_rank, cume_dist) — the
    # ranking family Q18 doesn't cover; ties broken by o_orderkey.
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 4).alias("pr"),
            F.round(F.cume_dist().over(w), 4).alias("cd"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@_declare(
    "X36_regexp_funcs",
    """SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       len(regexp_extract_all(p_name, '[aeiou]'))::BIGINT AS n_vowels,
       split_part(p_name, ' ', 2) AS second_word,
       strpos(p_name, 'widget')::BIGINT AS widget_at,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
FROM part ORDER BY p_partkey;""",
)
def x36(spark, sf_dir):
    # Regexp scalar family beyond Q26: capture-group extract, match
    # count, split_part, substring position, global replace. Spark
    # regexp_replace is global by default (DuckDB needs the 'g' flag).
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_count("p_name", F.lit(r"[aeiou]")).alias("n_vowels"),
        F.split_part("p_name", F.lit(" "), F.lit(2)).alias("second_word"),
        F.instr("p_name", "widget").cast("long").alias("widget_at"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
    ).orderBy("p_partkey")


@_declare(
    "X37_orc_roundtrip",
    """SELECT p_type, COUNT(*) AS n, ROUND(AVG(p_retailprice),4) AS avg_price
FROM part GROUP BY p_type ORDER BY p_type;""",
)
def x37(spark, sf_dir):
    # ORC sink + source round-trip (sources.read_orc): Spark's second
    # native columnar format — same vectorized reader + pushdown family
    # as parquet.
    from swivel_spark_prep_spark import sources

    path = _io_dir(sf_dir, "part_orc")
    load_table(spark, sf_dir, "part").write.mode("overwrite").orc(path)
    return (
        sources.read_orc(spark, path)
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("p_type")
    )


@_declare(
    "X38_contamination",
    """WITH sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
b AS (SELECT doc_id AS bench_id, s.sh FROM sh, UNNEST(shingles) AS s(sh) WHERE doc_id < 20),
c AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh) WHERE doc_id >= 20)
SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
FROM c JOIN b USING (sh)
GROUP BY c.doc_id, b.bench_id
HAVING COUNT(*) >= 2
ORDER BY c.doc_id, b.bench_id;""",
)
def x38(spark, sf_dir):
    # Benchmark-contamination audit (operators/contamination.py): docs
    # sharing >= 2 distinct 3-gram shingles with the "benchmark" slice
    # (doc_id < 20 stands in for an eval suite). Benchmark side
    # broadcasts; the corpus is touched once, map-side.
    from swivel_spark_prep_spark.operators import contamination

    docs = load_table(spark, sf_dir, "documents")
    return (
        contamination.ngram_overlap(
            corpus=docs.filter(F.col("doc_id") >= 20),
            benchmark=docs.filter(F.col("doc_id") < 20),
            n=3,
            min_shared=2,
        )
        .orderBy("doc_id", "bench_id")
    )


@_declare(
    "X39_vocab_coverage",
    """WITH v AS (
  SELECT tok, COUNT(*) AS cnt
  FROM documents, UNNEST(string_split(text,' ')) AS t(tok) GROUP BY tok)
SELECT tok, cnt,
       ROUND((SUM(cnt) OVER (ORDER BY cnt DESC, tok))::DOUBLE
             / (SELECT SUM(cnt) FROM v), 6) AS cum_share
FROM v ORDER BY cnt DESC, tok;""",
)
def x39(spark, sf_dir):
    # Tokenizer-planning stat: cumulative corpus coverage of the
    # frequency-ranked vocabulary ("top-k tokens cover p% of the
    # corpus"). The global window runs over the VOCAB (|V| << corpus,
    # already aggregated), not the token stream — fine at scale; the
    # total is a 1-row broadcast cross join, not a collect.
    from swivel_spark_prep_spark.operators.swivel import tokenize

    docs = load_table(spark, sf_dir, "documents")
    v = tokenize(docs).groupBy("tok").agg(F.count("*").alias("cnt"))
    total = v.agg(F.sum("cnt").alias("_total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        v.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "cnt",
            F.round(
                F.sum("cnt").over(w).cast("double") / F.col("_total"), 6
            ).alias("cum_share"),
        )
        .orderBy(F.col("cnt").desc(), "tok")
    )


@_declare(
    "X40_dedup_clusters",
    # Transitive closure over the exact near-dup pair graph (jac >= 0.8,
    # same edge set as X06's oracle) via a recursive CTE: rep_id = min
    # reachable doc_id; singletons represent themselves.
    """WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh) WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT d1, d2 FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
  WHERE len(list_intersect(x.shingles,y.shingles))::DOUBLE /
        (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.8),
edges AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
rep AS (SELECT u AS doc_id, MIN(v) AS rep_id FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(r.rep_id, d.doc_id) AS rep_id,
       (COALESCE(r.rep_id, d.doc_id) = d.doc_id)::INT AS is_rep
FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
ORDER BY d.doc_id;""",
)
def x40(spark, sf_dir):
    # Fuzzy-dedup clustering, the full scale pipeline: MinHash-LSH
    # candidates → exact-Jaccard verify ≥ 0.8 (X06's pair set — equals
    # the oracle's exact all-pairs graph because recall is 100%,
    # property-tested at both SFs) → min-label connected components →
    # every doc mapped to its cluster representative. Survivors of the
    # dedup = filter(is_rep = 1). LSH banding keeps candidate generation
    # bucketed (never O(Σ df²) over hot shingles — the exact
    # ngram_jaccard_pairs path without a df band would be quadratic).
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, jaccard_threshold=0.8)
    return (
        dedup.fuzzy_dedup_clusters(docs, pairs)
        .select(
            "doc_id", "rep_id", F.col("is_rep").cast("int").alias("is_rep")
        )
        .orderBy("doc_id")
    )


@_declare(
    "X41_embedding_centroids",
    # Scalar range() + list_transform + UNNEST — DuckDB's posexplode
    # (range() as a table function rejects lateral column arguments).
    """WITH e AS (
  SELECT label,
         UNNEST(list_transform(range(1, len(embedding) + 1),
                               i -> {'i': i, 'v': embedding[i]})) AS u
  FROM embeddings)
SELECT label, (u.i - 1)::BIGINT AS dim,
       ROUND(AVG(u.v), 4) AS c, COUNT(*) AS n
FROM e GROUP BY label, dim ORDER BY label, dim;""",
)
def x41(spark, sf_dir):
    # Per-class centroid of an embedding column: posexplode to
    # (label, dim, value) then a hash aggregate — the distributed way to
    # element-wise-average vectors across rows (no driver-side matrix,
    # no collect; the result is |labels|×dims, tiny at any corpus scale).
    # Downstream of clustering/IVF this is the "recompute centroids" step.
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(F.round(F.avg("v"), 4).alias("c"), F.count("*").alias("n"))
        .orderBy("label", "dim")
    )


@_declare(
    "X42_chunk_documents",
    # toks[a:b] slices 1-based inclusive; range(0, n, 6) yields chunk
    # starts 0, 6, 12, … < n — stride 6, width 8 → 2-token overlap.
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, UNNEST(range(0, len(toks), 6)) AS st FROM t)
SELECT doc_id, (st // 6)::BIGINT AS chunk_idx,
       array_to_string(toks[st + 1 : st + 8], ' ') AS chunk,
       least(8, len(toks) - st)::BIGINT AS n_tok
FROM s ORDER BY doc_id, chunk_idx;""",
)
def x42(spark, sf_dir):
    # Fixed-width token chunking with overlap (context-window packing's
    # upstream): width 8, stride 6. Map-side only — sequence() generates
    # the chunk starts per document and one explode emits the chunks; no
    # shuffle anywhere, so the operator scales linearly with corpus bytes.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(6))
            ).alias("st"),
        )
        .select(
            "doc_id",
            F.floor(F.col("st") / 6).alias("chunk_idx"),
            F.concat_ws(" ", F.slice("toks", F.col("st") + 1, F.lit(8))).alias(
                "chunk"
            ),
            F.least(F.lit(8), F.size("toks") - F.col("st"))
            .cast("long")
            .alias("n_tok"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@_declare(
    "X43_tfidf_topk",
    # Rank on the UNROUNDED score in both engines (ties share identical
    # (tf, df) so the doubles agree exactly), round only for display.
    """WITH tok AS (SELECT doc_id, t.tok FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (SELECT doc_id, tok, tf * ln(n_docs::DOUBLE / df) AS s
           FROM tf JOIN df USING (tok) CROSS JOIN n),
r AS (SELECT doc_id, tok, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, tok) AS rk
      FROM scored)
SELECT doc_id, rk::BIGINT AS rk, tok, ROUND(s, 4) AS tfidf
FROM r WHERE rk <= 3 ORDER BY doc_id, rk;""",
)
def x43(spark, sf_dir):
    # TF-IDF salient terms, top-3 per document: the classic quality /
    # topicality signal. The doc-term matrix (tf) is persisted because it
    # feeds BOTH the df aggregate and the scoring join; the corpus count
    # folds in as a 1-row broadcast, and the per-doc top-k is a
    # hash-partitioned window (no global sort).
    from swivel_spark_prep_spark.cache import track_persist
    from swivel_spark_prep_spark.operators.swivel import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tf = track_persist(
        tokenize(docs).groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), "tok")
    return (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "s", F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "tok",
            F.round("s", 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rk")
    )


@_declare(
    "X44_orc_partitioned_pruning",
    """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
FROM events WHERE event_type = 'click'
GROUP BY user_id ORDER BY user_id;""",
)
def x44(spark, sf_dir):
    # X33's partition-pruning contract on the SECOND native columnar
    # format: Hive-partitioned ORC sink + equality-pruned read (the
    # pruning itself is plan-asserted in tests/test_plans.py).
    path = _io_dir(sf_dir, "events_orc_by_type")
    load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).orc(path)
    back = spark.read.orc(path).filter(F.col("event_type") == "click")
    return (
        back.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .orderBy("user_id")
    )


@_declare(
    "X45_quantile_band_filter",
    """WITH q AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                  quantile_cont(n_chars, 0.95) AS hi FROM documents)
SELECT doc_id, n_chars FROM documents, q
WHERE n_chars >= lo AND n_chars <= hi ORDER BY doc_id;""",
)
def x45(spark, sf_dir):
    # Length-outlier removal with data-derived thresholds: exact
    # interpolated percentiles (Spark `percentile` ≡ DuckDB
    # quantile_cont) folded into the plan as a 1-row broadcast — a
    # two-pass filter with no driver round-trip. At 100 TB swap the
    # first pass to approx_percentile (t-digest, one pass, mergeable);
    # the plan shape is unchanged.
    docs = load_table(spark, sf_dir, "documents")
    q = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(q))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@_declare(
    "X46_deterministic_shuffle",
    """SELECT ROW_NUMBER() OVER (ORDER BY md5('ep0' || doc_id::VARCHAR)) - 1 AS shuffle_rank,
       doc_id
FROM documents ORDER BY shuffle_rank;""",
)
def x46(spark, sf_dir):
    # Reproducible global training-order shuffle: rank by
    # md5(salt || key) via assign_ids — a prefix count over the ranks
    # kernel, whose one persist fixes the partition ids (no global
    # window, no driver collect; fetch before release_persisted()).
    # Changing the salt ("ep1", …) reshuffles per epoch, identically on
    # every engine and rerun.
    from swivel_spark_prep_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        sampling.deterministic_shuffle(docs, "doc_id", salt="ep0")
        .select("shuffle_rank", "doc_id")
        .orderBy("shuffle_rank")
    )


@_declare(
    "X47_upsert_snapshot",
    # MERGE core as a full-outer join: updates overwrite, inserts append,
    # delete-flagged keys drop. Change sets are key-disjoint (an upsert
    # batch has one action per key).
    """WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
upd AS (
  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
         'P' AS o_orderstatus, FALSE AS is_delete
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
ins AS (
  SELECT o_orderkey + 100000000 AS o_orderkey, 42.0 AS o_totalprice,
         'N' AS o_orderstatus, FALSE AS is_delete
  FROM orders WHERE o_orderkey % 97 = 0),
del AS (
  SELECT o_orderkey, NULL::DOUBLE AS o_totalprice,
         NULL::VARCHAR AS o_orderstatus, TRUE AS is_delete
  FROM orders WHERE o_orderkey % 13 = 0),
changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM del),
merged AS (
  SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         b.o_custkey,
         COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice,
         COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         COALESCE(c.is_delete, FALSE) AS is_delete
  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey)
SELECT o_orderstatus, COUNT(*) AS n,
       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS tot_cents,
       COUNT(o_custkey) AS with_cust
FROM merged WHERE NOT is_delete
GROUP BY o_orderstatus ORDER BY o_orderstatus;""",
)
def x47(spark, sf_dir):
    # Incremental-snapshot upsert (operators/upsert.py): one declarative
    # full-outer join; full-outer cannot broadcast (test_plans.py proves
    # it), so the scale lever is bucketed co-location (upsert.py:10),
    # which removes both exchanges. Summarized per status so the result
    # stays driver-sized.
    from swivel_spark_prep_spark.operators.upsert import upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("P").alias("o_orderstatus"),
        F.lit(False).alias("is_delete"),
    )
    ins = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit(42.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(False).alias("is_delete"),
    )
    dels = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(True).alias("is_delete"),
    )
    changes = upd.unionByName(ins).unionByName(dels)
    merged = upsert(orders, changes, ["o_orderkey"], delete_col="is_delete")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            # integer-cents checksum via floor(x*100 + .5): pure FP,
            # bit-identical across engines (ROUND(double, n) is not —
            # Spark rounds the shortest-decimal string, DuckDB the
            # scaled binary; a double SUM's last digit is
            # summation-order-dependent besides)
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("tot_cents"),
            F.count("o_custkey").alias("with_cust"),
        )
        .orderBy("o_orderstatus")
    )


@_declare(
    "X48_training_pipeline",
    # The end-to-end training-data flow, composed from the individually
    # proven fragments: quality filter (X02's expression) -> exact dedup
    # (Q40) -> decontaminate vs the doc_id<20 "benchmark" slice (X38) ->
    # deterministic split (X22) -> per (split, lang) accounting.
    """WITH scored AS (
  SELECT doc_id, text, lang,
         ROUND(CASE WHEN len(string_split(text,' ')) < 5 THEN 0.0
               ELSE least(100.0, greatest(0.0,
                    100.0 * length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE / length(text)
                    - 10.0 * length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text))) END, 4) AS quality
  FROM documents),
q AS (SELECT doc_id, text, lang FROM scored WHERE quality >= 40),
d AS (
  SELECT doc_id, text, lang FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
  WHERE rn = 1),
corpus AS (SELECT * FROM d WHERE doc_id >= 20),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
    p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3])) AS shingles
  FROM documents),
csh AS (SELECT s.doc_id, u.sh FROM sh s, UNNEST(shingles) AS u(sh)
        WHERE s.doc_id IN (SELECT doc_id FROM corpus)),
bsh AS (SELECT s.doc_id AS bench_id, u.sh FROM sh s, UNNEST(shingles) AS u(sh)
        WHERE s.doc_id < 20),
flagged AS (
  SELECT DISTINCT doc_id FROM (
    SELECT c.doc_id, b.bench_id FROM csh c JOIN bsh b USING (sh)
    GROUP BY c.doc_id, b.bench_id HAVING COUNT(*) >= 2)),
clean AS (SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
parts AS (
  SELECT *, CASE WHEN b < 800000 THEN 'train' WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 1000000 AS b
        FROM clean))
SELECT split, lang, COUNT(*) AS n,
       SUM(len(string_split(text,' ')))::BIGINT AS toks
FROM parts GROUP BY split, lang ORDER BY split, lang;""",
)
def x48(spark, sf_dir):
    # Flagship composition: every stage is the library operator itself
    # (textstats.quality_score -> dedup.exact_dedup ->
    # contamination.decontaminate -> sampling.hash_split). Each stage is
    # map-side or hash-partitioned; the benchmark side broadcasts; no
    # stage collects data — the chain scales like its widest shuffle
    # (the dedup window), not its length.
    from swivel_spark_prep_spark.operators import contamination, sampling

    docs = load_table(spark, sf_dir, "documents")
    q = (
        textstats.quality_score(docs)
        .filter(F.col("quality") >= 40)
        .select("doc_id", "text", "lang")
    )
    d = dedup.exact_dedup(q)
    corpus = d.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    clean = contamination.decontaminate(corpus, bench, n=3, min_shared=2)
    parts = sampling.hash_split(
        clean, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        parts.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("toks"),
        )
        .orderBy("split", "lang")
    )


@_declare(
    "X49_recursive_cte",
    # Binary "referral" hierarchy: custkey k's parent is k // 2; depth =
    # distance from the root. DuckDB's // is integer division.
    """WITH RECURSIVE chain AS (
  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, p.depth + 1
  FROM customer c JOIN chain p ON c.c_custkey // 2 = p.c_custkey
  WHERE c.c_custkey > 1)
SELECT depth, COUNT(*) AS n, MIN(c_custkey) AS lo, MAX(c_custkey) AS hi
FROM chain GROUP BY depth ORDER BY depth;""",
)
def x49(spark, sf_dir):
    # Recursive CTE (Spark 4 WITH RECURSIVE — iterative in-engine, the
    # SQL twin of operators/dedup.connected_components' loop): each
    # recursion step is a hash join of the frontier against the base
    # relation, so depth ~ log2(|customers|) rounds. `div` is Spark
    # SQL's integer division (DuckDB spells it //).
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "x49_customer"
    )
    return spark.sql(
        """WITH RECURSIVE chain AS (
  SELECT c_custkey, 0 AS depth FROM x49_customer WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, p.depth + 1
  FROM x49_customer c JOIN chain p ON c.c_custkey div 2 = p.c_custkey
  WHERE c.c_custkey > 1)
SELECT depth, COUNT(*) AS n, MIN(c_custkey) AS lo, MAX(c_custkey) AS hi
FROM chain GROUP BY depth ORDER BY depth"""
    )


@_declare(
    "X50_quantize_error",
    # Exact integer-unit error accounting for int8 quantization: floor
    # rounding + micro-unit floors keep every value reproducible across
    # engines (no double ROUND, no order-dependent double SUM).
    """WITH s AS (
  SELECT label, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
  FROM embeddings),
e AS (
  SELECT label,
         UNNEST(list_transform(embedding, x ->
           CASE WHEN scale = 0 THEN 0.0
                ELSE abs(x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale)
           END)) AS err
  FROM s)
SELECT label, COUNT(*) AS n_dims,
       CAST(FLOOR(MAX(err) * 1000000 + 0.5) AS BIGINT) AS max_err_u,
       SUM(CAST(FLOOR(err * 1000000 + 0.5) AS BIGINT))::BIGINT AS sum_err_u
FROM e GROUP BY label ORDER BY label;""",
)
def x50(spark, sf_dir):
    # int8 quantization reconstruction error per label
    # (operators/similarity.quantize_int8 → dequantize): max and summed
    # per-dimension error in exact micro-units. The flow quantizes,
    # dequantizes, and accounts — all map-side until the final tiny agg.
    emb = load_table(spark, sf_dir, "embeddings")
    qd = similarity.dequantize(similarity.quantize_int8(emb))
    err = qd.select(
        "label",
        F.explode(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                "deq",
                lambda v, d: F.abs(v - d),
            )
        ).alias("err"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count("*").alias("n_dims"),
            F.floor(F.max("err") * 1e6 + 0.5).cast("long").alias("max_err_u"),
            F.sum(F.floor(F.col("err") * 1e6 + 0.5).cast("long")).alias(
                "sum_err_u"
            ),
        )
        .orderBy("label")
    )


@_declare(
    "X51_conversion_funnel",
    # Event-sequence funnel: first signup per user, first purchase AT OR
    # AFTER it, conversion accounting per nation. Elapsed seconds =
    # floor(epoch(p−s)): tz-independent interval arithmetic on both
    # sides (Spark casts the NTZ interval to long seconds, truncating;
    # DuckDB's epoch() keeps the microsecond fraction, floored off).
    """WITH su AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
pu AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
  GROUP BY e.user_id),
f AS (SELECT su.user_id, s_ts, p_ts FROM su LEFT JOIN pu ON su.user_id = pu.user_id)
SELECT c_nationkey, COUNT(*) AS n_signed, COUNT(p_ts) AS n_converted,
       SUM(CASE WHEN p_ts IS NOT NULL THEN
           CAST(FLOOR(FLOOR(epoch(p_ts - s_ts)) / 60) AS BIGINT)
           END)::BIGINT AS tot_mins
FROM f JOIN customer ON f.user_id = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey;""",
)
def x51(spark, sf_dir):
    # Funnel/sequence analytics over the event stream: two hash
    # aggregates keyed on user_id (the purchase scan joins the signup
    # mins to enforce the ordering constraint), then a dimension join.
    # All joins/aggs share the user_id hash partitioning, so the chain
    # re-uses one exchange layout; the nation dim broadcasts.
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    f = su.join(pu, "user_id", "left")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    mins = F.floor(
        F.expr("cast((p_ts - s_ts) as long)") / 60
    ).cast("long")
    return (
        f.join(F.broadcast(cust), "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_signed"),
            F.count("p_ts").alias("n_converted"),
            F.sum(F.when(F.col("p_ts").isNotNull(), mins)).alias("tot_mins"),
        )
        .orderBy("c_nationkey")
    )


# -- BPE subword tokenizer (operators/bpe.py) --------------------------------
# The oracle SQL is GENERATED from the same DEMO_MERGES table the Spark
# side uses (bpe.bpe_oracle_expr) — the replace chain is byte-for-byte
# the same computation in both engines, so parity pins the tokenizer
# contract (rank-order, single pass per merge), not just this fixture.

from swivel_spark_prep_spark.operators import bpe as _bpe  # noqa: E402

_BPE_S = _bpe.bpe_oracle_expr(_bpe.DEMO_MERGES, col="text")


@_declare(
    "X52_bpe_tokenize",
    f"""WITH m AS (SELECT doc_id, {_BPE_S} AS s FROM documents)
SELECT doc_id,
       (length(s) - length(replace(s, '<', '')))::BIGINT AS n_tok,
       array_to_string(regexp_extract_all(s, '<([a-z0-9]+)>', 1)[1:4], ' ') AS head
FROM m ORDER BY doc_id;""",
)
def x52(spark, sf_dir):
    # Deterministic subword (BPE) tokenization with a fixed 10-merge
    # table: per-document token count + the first 4 tokens. Entirely
    # whole-stage codegen (two regexp_replace + 10 literal replaces) —
    # no Python; linear in corpus bytes at 100 TB. Trained merge tables
    # come from bpe.train_bpe (bounded-driver word table); the fixed
    # table keeps the oracle replayable. fan_out before the replace
    # chain (round 16, guide §2.5): the single-split fixture scan pinned
    # the whole codegen chain to one core; the round-robin exchange
    # moves only (doc_id, text) rows. Interleaved A/B: 1.44 -> 0.72 s.
    from swivel_spark_prep_spark.cache import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        _bpe.bpe_encode(docs, _bpe.DEMO_MERGES)
        .select(
            "doc_id",
            "n_tok",
            F.concat_ws(" ", F.slice("tokens", 1, 4)).alias("head"),
        )
        .orderBy("doc_id")
    )


@_declare(
    "X53_pack_bpe_sequences",
    f"""WITH m AS (SELECT doc_id, {_BPE_S} AS s FROM documents),
t AS (SELECT doc_id,
             (length(s) - length(replace(s, '<', '')))::BIGINT AS n_tok FROM m),
c AS (SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
      FROM t)
SELECT doc_id, n_tok, (cum_before // 256)::BIGINT AS first_chunk,
       ((cum_before + n_tok - 1) // 256)::BIGINT AS last_chunk
FROM c ORDER BY doc_id;""",
)
def x53(spark, sf_dir):
    # Token-accurate sequence packing: X24's concat-and-chunk layout
    # driven by the BPE token count instead of the whitespace proxy
    # (pack_sequences token_count_col= seam). Oracle = the same
    # single-window prefix sum over the same generated token counts;
    # the engine keeps the two-pass range-partitioned scheme (no global
    # window) — token-accurate packing costs nothing extra at scale.
    from swivel_spark_prep_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_n = docs.withColumn(
        "bpe_n_tok", _bpe.bpe_token_count_expr("text", _bpe.DEMO_MERGES)
    )
    return pack_sequences(
        with_n, chunk_tokens=256, token_count_col="bpe_n_tok"
    ).orderBy("doc_id")


@_declare(
    "X54_normalize_two_pass",
    """SELECT event_id, ROUND((value - AVG(value) OVER (PARTITION BY user_id)) /
       STDDEV_SAMP(value) OVER (PARTITION BY user_id), 4) AS v_norm
FROM events ORDER BY event_id;""",
)
def x54(spark, sf_dir):
    # The skew-proof twin of Q44 (operators/normalize.py): per-user
    # moments via hash aggregate (map-side combine absorbs Zipf-hot
    # users), joined back, applied as a projection — no Python, no
    # single task ever holds a whole key. Same oracle as Q44; equality
    # with the grouped-map form is pinned by
    # tests/test_operators_misc.py::test_normalize_two_pass_equals_q44.
    from swivel_spark_prep_spark.operators.normalize import normalize_per_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    return (
        normalize_per_key(ev, "user_id", "value")
        .select("event_id", F.round("v_norm", 4).alias("v_norm"))
        .orderBy("event_id")
    )


@_declare(
    "X55_multimodal_decode_real",
    # The REAL decode path, oracle-checked end-to-end: attach_binary
    # renders each document's first 64 text bytes into an actual 8x8
    # 24-bpp BMP; extract_features(decode_mode="real") parses the BMP
    # back with the pure-Python codec. The oracle recomputes what the
    # decoded pixels must be (ascii codes, zero-padded to 64) straight
    # from the text — so encode→decode→features is pinned bit-exact.
    # n_bytes = 54 header + 8 rows x 24 bytes = 246 for every 8x8 BMP.
    """WITH px AS (
  SELECT doc_id,
         list_transform(range(1, 65),
           i -> CASE WHEN i <= length(text)
                     THEN ascii(substr(text, i, 1)) ELSE 0 END) AS p
  FROM documents)
SELECT doc_id, 246::BIGINT AS n_bytes, 1::BIGINT AS n_frames,
       ROUND(list_aggregate(p, 'avg'), 4) AS f_mean,
       list_aggregate(p, 'min')::DOUBLE AS f_min,
       list_aggregate(p, 'max')::DOUBLE AS f_max,
       64.0 AS f_cnt
FROM px ORDER BY doc_id;""",
)
def x55(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, codec="bmp")
    feats = multimodal.extract_features(media, decode_mode="real")
    return feats.select(
        "doc_id",
        "n_bytes",
        "n_frames",
        F.round(F.element_at("features", 1), 4).alias("f_mean"),
        F.element_at("features", 2).alias("f_min"),
        F.element_at("features", 3).alias("f_max"),
        F.element_at("features", 4).alias("f_cnt"),
    ).orderBy("doc_id")


@_declare(
    "X56_bpe_vocab",
    # BPE-token vocabulary with dense ids — the subword twin of the
    # reference pipeline's word vocab (Q32/Q33). Oracle assigns ids with
    # one global window; the engine reuses swivel.assign_ids (a prefix
    # count over the ranks kernel: no single-task stage, partition ids
    # fixed by its one persist, valid until release_persisted()).
    f"""WITH tok AS (
  SELECT unnest(regexp_extract_all({_BPE_S}, '<([a-z0-9]+)>', 1)) AS tok
  FROM documents),
v AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
SELECT (ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) - 1)::BIGINT AS id,
       tok, cnt
FROM v ORDER BY id LIMIT 100;""",
)
def x56(spark, sf_dir):
    from swivel_spark_prep_spark.cache import fan_out
    from swivel_spark_prep_spark.operators.swivel import assign_ids

    # fan_out before the tokenize+explode (round 16, guide §2.5): the
    # single-split fixture scan pinned the BPE replace chain and the
    # explode to one core. Interleaved A/B: 2.17 -> 1.36 s.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(
            F.explode(
                _bpe.bpe_tokens_expr("text", _bpe.DEMO_MERGES)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        assign_ids(vocab, [F.desc("cnt"), F.asc("tok")], id_col="id")
        .select("id", "tok", "cnt")
        .orderBy("id")
        .limit(100)
    )


@_declare(
    "X57_length_batching",
    # Length-bucketed inference batching: docs walked in (n_tok DESC,
    # doc_id) order, a new batch every 4096 cumulative tokens; summary
    # reports the padding-to-max waste per batch (the number this
    # operator exists to minimize). Oracle = single-window cumsum; the
    # engine reuses packing's two-pass prefix sum (no global window).
    """WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM t),
b AS (SELECT doc_id, n_tok, (cum_before // 4096)::BIGINT AS batch_id FROM c)
SELECT batch_id, COUNT(*) AS n_docs, MAX(n_tok) AS max_tok,
       SUM(n_tok)::BIGINT AS sum_tok,
       (COUNT(*) * MAX(n_tok) - SUM(n_tok))::BIGINT AS padding
FROM b GROUP BY batch_id ORDER BY batch_id;""",
)
def x57(spark, sf_dir):
    from swivel_spark_prep_spark.operators.packing import length_bucketed_batches

    docs = load_table(spark, sf_dir, "documents")
    batches = length_bucketed_batches(docs, token_budget=4096)
    return (
        batches.groupBy("batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("sum_tok"),
        )
        .withColumn(
            "padding", F.col("n_docs") * F.col("max_tok") - F.col("sum_tok")
        )
        .orderBy("batch_id")
    )


@_declare(
    "X58_temperature_mix",
    # Temperature-flattened (T=2) corpus balancing by language: stratum s
    # keeps fraction (n_min/n_s)^(1-1/T); smallest keeps all, natural
    # distribution flattens toward uniform. Membership = the same
    # deterministic md5 ppm bucket as X22, salted 'temp'.
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT MIN(cnt) AS cmin FROM c),
t AS (SELECT lang,
             CAST(FLOOR(POWER(cmin::DOUBLE / cnt, 0.5) * 1000000) AS BIGINT) AS thr
      FROM c, m),
k AS (SELECT d.doc_id, d.lang
      FROM documents d JOIN t USING (lang)
      WHERE CAST(('0x' || substr(md5('temp' || d.doc_id::VARCHAR), 1, 8)) AS BIGINT)
            % 1000000 < thr)
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id
FROM k GROUP BY lang ORDER BY lang;""",
)
def x58(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_resample(docs, "lang", "doc_id", temperature=2.0)
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.min("doc_id").alias("min_id"))
        .orderBy("lang")
    )


@_declare(
    "X59_incremental_near_dups",
    # Incremental near-dup detection: corpus = doc_id % 5 != 0 (indexed
    # once), batch = doc_id % 5 == 0 (new arrivals). The oracle is X06's
    # exact all-pairs Jaccard restricted to pairs touching the batch —
    # valid for the same reason X06's is: the exact-verify stage makes
    # the LSH output deterministic given recall (recall property at both
    # SFs in tests/test_llm_operators.py).
    """WITH sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh)
         WHERE a.doc_id < b.doc_id)
SELECT d1, d2,
       ROUND(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
             (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))),4) AS jac
FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
WHERE (d1 % 5 = 0 OR d2 % 5 = 0)
  AND len(list_intersect(x.shingles,y.shingles))::DOUBLE /
      (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.8
ORDER BY d1, d2;""",
)
def x59(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    bands, shingles = dedup.minhash_index(corpus)
    return (
        dedup.minhash_near_dups_incremental(batch, bands, shingles)
        .select("d1", "d2", F.round("jac", 4).alias("jac"))
        .orderBy("d1", "d2")
    )


@_declare(
    "X60_rolling_range_window",
    # RANGE-interval frame — the window class Q20's ROWS frame cannot
    # express: per user, aggregates over all events in the trailing
    # 3 DAYS by timestamp VALUE (peer rows at the frame edge included,
    # however many there are). Both engines frame over integral epoch
    # seconds so the boundary arithmetic is exact.
    """WITH e AS (
  SELECT user_id, event_id, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events)
SELECT event_id,
       COUNT(*) OVER w AS n_3d,
       ROUND(SUM(value) OVER w, 4) AS sum_3d
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)
ORDER BY event_id;""",
)
def x60(spark, sf_dir):
    # Trailing-window user features (sessionless "activity in the last N
    # days" — the standard feature-engineering shape). Hash-partitioned
    # by user_id; the range frame sorts within partitions only — no
    # global sort, no shuffle beyond the user_id exchange.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("sec"))
        .rangeBetween(-259200, Window.currentRow)
    )
    # NTZ has no direct long cast; subtracting the epoch yields a
    # day-time interval whose long cast is whole seconds — tz-free on
    # both sides (same pattern as X51's interval arithmetic).
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.expr(
            "cast((ts - TIMESTAMP_NTZ '1970-01-01 00:00:00') as long)"
        ).alias("sec"),
    )
    return (
        ev.select(
            "event_id",
            F.count("*").over(w).alias("n_3d"),
            F.round(F.sum("value").over(w), 4).alias("sum_3d"),
        )
        .orderBy("event_id")
    )


@_declare(
    "X61_zipf_fit",
    # Corpus power-law diagnostics: least-squares slope/intercept of
    # log(freq) on log(rank) over the top-1000 words — Zipf's law says
    # slope ≈ -1; a far-off slope flags synthetic or degenerate corpora.
    # Exercises the regression-aggregate class (regr_slope/intercept/r2),
    # present in both engines with identical least-squares definitions.
    """WITH wc AS (
  SELECT t.tok AS w, COUNT(*) AS c
  FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(tok)
  GROUP BY t.tok),
r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM wc
      ORDER BY rk LIMIT 1000)
SELECT ROUND(regr_slope(ln(c::DOUBLE), ln(rk::DOUBLE)), 4) AS slope,
       ROUND(regr_intercept(ln(c::DOUBLE), ln(rk::DOUBLE)), 4) AS icept,
       ROUND(regr_r2(ln(c::DOUBLE), ln(rk::DOUBLE)), 4) AS r2,
       COUNT(*) AS n FROM r;""",
)
def x61(spark, sf_dir):
    # Rank via the global-sort TakeOrdered cap (top-1000 is driver-safe);
    # the regression aggregates are single-pass JVM hash aggs.
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = (
        wc.orderBy(F.desc("c"), "w")
        .limit(1000)
        .select("c", F.row_number().over(
            Window.orderBy(F.desc("c"), "w")
        ).alias("rk"))
    )
    lc, lr = F.log(F.col("c").cast("double")), F.log(F.col("rk").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lc, lr), 4).alias("slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("icept"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"),
        F.count("*").alias("n"),
    )


@_declare(
    "X62_value_histogram",
    # Fixed-range histogram of event values per type via width_bucket —
    # the binning primitive behind quality-score and length
    # distributions. Bucket 0 / n+1 are the underflow/overflow bins.
    # DuckDB has no width_bucket; the oracle spells out the same
    # arithmetic (10 buckets of width 50 over [0, 500)).
    """SELECT event_type,
       (CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 11
             ELSE FLOOR(value / 50) + 1 END)::BIGINT AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS tot
FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket;""",
)
def x62(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.width_bucket("value", F.lit(0.0), F.lit(500.0), F.lit(10))
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("tot"))
        .orderBy("event_type", "bucket")
    )


@_declare(
    "X63_snapshot_diff",
    # CDC generation: diff two order snapshots into a change feed with
    # op I/U/D (operators/upsert.snapshot_diff — the inverse of X47's
    # MERGE; the round-trip law upsert(old, diff) == new is pinned in
    # tests/test_operators_misc.py). Summarized per op with a key
    # checksum so the result stays driver-sized.
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
n AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', 42.0
  FROM orders WHERE o_orderkey % 97 = 0),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'I'
              WHEN n.o_orderkey IS NULL THEN 'D'
              WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
              THEN 'U' END AS op
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
SELECT op AS _op, COUNT(*) AS n, SUM(k)::BIGINT AS key_sum
FROM d WHERE op IS NOT NULL GROUP BY op ORDER BY op;""",
)
def x63(spark, sf_dir):
    from swivel_spark_prep_spark.operators.upsert import snapshot_diff

    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(42.0).alias("o_totalprice"),
            )
        )
    )
    return (
        snapshot_diff(old, new, ["o_orderkey"])
        .groupBy("_op")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("_op")
    )


@_declare(
    "X64_quality_expectations",
    # Declarative data-quality expectations (operators/quality.py): four
    # named constraints over orders, pass/fail stats in ONE scan (one
    # conditional sum per rule). NULL conditions count as failures.
    """WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p_pos,
         SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS p_st,
         SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS p_ck,
         SUM(CASE WHEN o_orderdate >= DATE '1992-01-01' THEN 1 ELSE 0 END) AS p_dt
  FROM orders)
SELECT rule, n AS n_rows, p::BIGINT AS n_pass, (n - p)::BIGINT AS n_fail,
       ROUND(p::DOUBLE / n, 4) AS pass_rate
FROM s, (VALUES ('custkey_not_null'), ('orderdate_modern'),
                ('positive_price'), ('valid_status')) AS r(rule),
     LATERAL (SELECT CASE rule WHEN 'positive_price' THEN p_pos
                               WHEN 'valid_status' THEN p_st
                               WHEN 'custkey_not_null' THEN p_ck
                               ELSE p_dt END AS p)
ORDER BY rule;""",
)
def x64(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import check_expectations

    orders = load_table(spark, sf_dir, "orders")
    rules = {
        "positive_price": "o_totalprice > 0",
        "valid_status": "o_orderstatus IN ('O','F','P')",
        "custkey_not_null": "o_custkey IS NOT NULL",
        "orderdate_modern": "o_orderdate >= DATE '1992-01-01'",
    }
    return check_expectations(orders, rules).orderBy("rule")


# Generated z-order expression (operators/zorder.py) — identical SQL text
# evaluated by both engines, so parity pins the Morton bit layout itself.
from swivel_spark_prep_spark.operators.zorder import zorder_sql as _zorder_sql  # noqa: E402

_Z8 = _zorder_sql(["(l_orderkey % 256)", "(l_partkey % 256)"], 8)


@_declare(
    "X65_zorder_value",
    # Morton interleave of two bucketized dims (8 bits each): the
    # data-layout key behind zorder_layout's multi-dimensional file
    # skipping. Summed per z-bucket so the result stays driver-sized
    # while still covering every row's z-value.
    f"""SELECT ({_Z8} // 4096)::BIGINT AS z_bucket,
       COUNT(*) AS n, SUM({_Z8})::BIGINT AS z_sum
FROM lineitem GROUP BY z_bucket ORDER BY z_bucket;""",
)
def x65(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    z = F.expr(_Z8).cast("long")
    return (
        li.groupBy(F.floor(z / 4096).cast("long").alias("z_bucket"))
        .agg(F.count("*").alias("n"), F.sum(z).cast("long").alias("z_sum"))
        .orderBy("z_bucket")
    )


@_declare(
    "X66_versioned_read_changes",
    # CDC *reader* on the versioned table (operators/versioned.py
    # read_changes): build v1 from an orders slice, commit one MERGE
    # batch (updates + inserts + deletes) as v2, then read the I/U/D
    # feed from the beginning — v1 surfaces as all-I, v2 as its diff,
    # each step tagged with its _version. The oracle replays the same
    # feed relationally. Summarized per (_version, _op) with key and
    # integer-cents checksums so the result stays driver-sized.
    """WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 3 = 0),
upd AS (
  SELECT o_orderkey, 'P' AS o_orderstatus,
         o_totalprice + 5.0 AS o_totalprice
  FROM v1 WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
ins AS (
  SELECT o_orderkey, 'N' AS o_orderstatus, 42.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 31 = 0),
del AS (SELECT o_orderkey FROM v1 WHERE o_orderkey % 13 = 0),
feed AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         'I' AS _op, 1 AS _version FROM v1
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'U', 2 FROM upd
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'I', 2 FROM ins
  UNION ALL
  SELECT v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice, 'D', 2
  FROM v1 JOIN del USING (o_orderkey))
SELECT _version, _op, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS key_sum,
       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
         AS price_cents
FROM feed GROUP BY _version, _op ORDER BY _version, _op;""",
)
def x66(spark, sf_dir):
    # The versioned table's change-feed reader: the API an incremental
    # downstream consumer calls instead of re-diffing snapshots itself.
    # Table lives in per-process scratch (fresh per call — create()
    # rejects an existing table); commits are real parquet snapshots
    # through the put-if-absent log.
    import shutil

    from swivel_spark_prep_spark.operators.versioned import VersionedTable

    path = _io_dir(sf_dir, "x66_versioned")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = orders.filter(F.col("o_orderkey") % 3 == 0)
    t = VersionedTable(path)
    t.create(v1)
    upd = v1.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        F.lit(False).alias("is_delete"),
    )
    ins = orders.filter(
        (F.col("o_orderkey") % 3 != 0) & (F.col("o_orderkey") % 31 == 0)
    ).select(
        "o_orderkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(42.0).alias("o_totalprice"),
        F.lit(False).alias("is_delete"),
    )
    dels = v1.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(True).alias("is_delete"),
    )
    t.commit_upsert(
        upd.unionByName(ins).unionByName(dels),
        ["o_orderkey"],
        delete_col="is_delete",
    )
    feed = t.read_changes(spark, ["o_orderkey"], v_from=0)
    return (
        feed.groupBy("_version", "_op")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("price_cents"),
        )
        .orderBy("_version", "_op")
    )


_BPE_BC = _bpe.bpe_oracle_expr(
    _bpe.DEMO_MERGES_BYTES, col="ptext", byte_complete=True
)


@_declare(
    "X67_bpe_byte_complete",
    # Byte-complete BPE (operators/bpe.py byte_complete mode): nothing
    # dropped — non-alnum runs become escaped #hh byte symbols, merges
    # include punctuation pairs (", " ". " "--"), and
    # detokenize(tokens) == lower(text) exactly (hypothesis-pinned in
    # tests/test_kernel_properties.py). The fixture corpus is pure
    # words+spaces, so punctuation is INJECTED first with the same two
    # literal replaces on both engines (", " between words, "--" inside
    # "ta" words) — the ", " demo merge then fires corpus-wide. The
    # oracle SQL is GENERATED from the same merge table + escape spec,
    # so parity pins the byte layout itself. Per-doc token count +
    # byte-token share + first 4 tokens.
    f"""WITH p AS (
  SELECT doc_id, replace(replace(text, ' ', ', '), 'ta', 't--a') AS ptext
  FROM documents),
m AS (SELECT doc_id, {_BPE_BC} AS s FROM p),
t AS (SELECT doc_id,
             (length(s) - length(replace(s, '<', '')))::BIGINT AS n_tok,
             regexp_extract_all(s, '<([a-z0-9#]+)>', 1) AS toks
      FROM m)
SELECT doc_id, n_tok,
       len(list_filter(toks, x -> x LIKE '#%'))::BIGINT AS n_byte_tok,
       array_to_string(toks[1:4], ' ') AS head
FROM t ORDER BY doc_id;""",
)
def x67(spark, sf_dir):
    # The byte-complete twin of X52: same codegen replace-chain shape
    # (piece transform + literal replaces — no Python, linear in corpus
    # bytes), now over the FULL byte stream. n_byte_tok counts escape
    # tokens, proving punctuation genuinely lands in the token stream
    # instead of vanishing at the pre-tokenizer. fan_out before the
    # chain (round 16, guide §2.5): the byte-complete chain is the
    # longest codegen span in the registry and the single-split fixture
    # scan pinned all of it to one core. Interleaved A/B:
    # 3.73 -> 0.74 s.
    from swivel_spark_prep_spark.cache import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" "), F.lit(", ")),
            F.lit("ta"),
            F.lit("t--a"),
        ).alias("ptext"),
    )
    enc = _bpe.bpe_encode(
        docs, _bpe.DEMO_MERGES_BYTES, text_col="ptext", byte_complete=True
    )
    return enc.select(
        "doc_id",
        "n_tok",
        F.size(
            F.filter(F.col("tokens"), lambda x: x.startswith("#"))
        ).cast("long").alias("n_byte_tok"),
        F.concat_ws(" ", F.slice("tokens", 1, 4)).alias("head"),
    ).orderBy("doc_id")


@_declare(
    "X68_semantic_dedup",
    # SemDeDup composition (similarity.semantic_dedup): cluster → intra-
    # cluster cosine near-dups → keep the vector farthest from its
    # cluster centroid per duplicate neighborhood. For oracle replay the
    # clustering is the deterministic sign-bucket of the first two
    # dims (the operator's default IVF assignment is seeded k-means —
    # not SQL-replayable; its parity with THIS exact survivor rule is
    # what the oracle pins, and the IVF path shares every line below
    # the assignment). Centroid = spherical mean (position-wise avg of
    # unit vectors); priority = (round(cent_sim,6), vec_id).
    """WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END +
          CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END)::BIGINT AS list_id,
         CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
              THEN 1.0
              ELSE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         END AS nrm
  FROM embeddings),
pos AS (
  SELECT list_id, r.i AS pos, emb[r.i] / nrm AS val
  FROM e, UNNEST(range(1, len(emb) + 1)) AS r(i)),
cent AS (
  SELECT list_id, pos, AVG(val) AS cv FROM pos GROUP BY list_id, pos),
centv AS (
  SELECT list_id, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY list_id),
cs AS (
  SELECT e.vec_id, e.emb, e.list_id,
         list_cosine_similarity(e.emb, c.centroid) AS cent_sim,
         ROUND(list_cosine_similarity(e.emb, c.centroid), 6) AS pri
  FROM e JOIN centv c USING (list_id)),
dom AS (
  SELECT DISTINCT x.vec_id
  FROM cs x JOIN cs y ON x.list_id = y.list_id AND x.vec_id <> y.vec_id
  WHERE (y.pri < x.pri OR (y.pri = x.pri AND y.vec_id < x.vec_id))
    AND list_cosine_similarity(x.emb, y.emb) >= 0.4)
SELECT vec_id, list_id, ROUND(cent_sim, 4) AS cent_sim
FROM cs WHERE vec_id NOT IN (SELECT vec_id FROM dom)
ORDER BY vec_id;""",
)
def x68(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.with_double_embedding(emb).select(
        F.col("vec_id").alias("id"),
        "_emb",
        (
            F.when(F.element_at("embedding", 1) >= 0, F.lit(2)).otherwise(
                F.lit(0)
            )
            + F.when(F.element_at("embedding", 2) >= 0, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("list_id"),
    )
    return (
        similarity.semantic_dedup(emb, threshold=0.4, assigned=assigned)
        .select("vec_id", "list_id", F.round("cent_sim", 4).alias("cent_sim"))
        .orderBy("vec_id")
    )


@_declare(
    "X69_lm_perplexity",
    # CCNet-style LM quality scoring (operators/lm.py): train a stupid-
    # backoff bigram LM on the even-doc_id half, score EVERY document —
    # held-out docs exercise the backoff path (unseen bigrams, OOV
    # floor c(w2):=1). avg_lp = mean ln-likelihood per bigram,
    # ppl = exp(-avg_lp). Docs with <2 tokens drop out (none in the
    # fixtures). Rounded to 4 dp: the Spark and DuckDB sums order terms
    # differently (double accumulation), identical to 1e-10 here.
    """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tr AS (SELECT t FROM toks WHERE doc_id % 2 = 0),
uni AS (
  SELECT u.w, COUNT(*) AS c FROM tr, UNNEST(t) AS u(w) GROUP BY u.w),
tot AS (SELECT SUM(c) AS n FROM uni),
trbi AS (
  SELECT t[r.i] AS w1, t[r.i + 1] AS w2
  FROM tr, UNNEST(range(1, len(t))) AS r(i)),
bic AS (SELECT w1, w2, COUNT(*) AS c FROM trbi GROUP BY w1, w2),
db AS (
  SELECT doc_id, t[r.i] AS w1, t[r.i + 1] AS w2, COUNT(*) AS k
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
  GROUP BY doc_id, w1, w2),
sc AS (
  SELECT d.doc_id, d.k,
         CASE WHEN bc.c IS NOT NULL THEN ln(bc.c::DOUBLE / u1.c)
              ELSE ln(0.4 * COALESCE(u2.c, 1)::DOUBLE / t.n) END AS lp
  FROM db d
  LEFT JOIN bic bc ON bc.w1 = d.w1 AND bc.w2 = d.w2
  LEFT JOIN uni u1 ON u1.w = d.w1
  LEFT JOIN uni u2 ON u2.w = d.w2
  CROSS JOIN tot t)
SELECT doc_id, SUM(k)::BIGINT AS n_bigrams,
       ROUND(SUM(k * lp) / SUM(k), 4) AS avg_lp,
       ROUND(exp(-(SUM(k * lp) / SUM(k))), 4) AS ppl
FROM sc GROUP BY doc_id ORDER BY doc_id;""",
)
def x69(spark, sf_dir):
    from swivel_spark_prep_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    uni, bi, total = lm.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return (
        lm.score_stupid_backoff(docs, uni, bi, total)
        .select(
            "doc_id",
            "n_bigrams",
            F.round("avg_lp", 4).alias("avg_lp"),
            F.round("ppl", 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


@_declare("X70_pq_topk", None)  # k-means codebooks — not DuckDB-replayable
def x70(spark, sf_dir):
    # Product-quantization ANN (similarity.pq_topk): m=8 subspaces,
    # 16 codes each (8-byte codes for 64-dim vectors), ADC scan +
    # exact re-rank of the top 4k candidates. Recall vs the exact
    # brute-force oracle and ADC-plumbing exactness are property-tested
    # in tests/test_llm_operators.py.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, query_id=0, k=5, m=8, ksub=16, rerank=4).select(
        "vec_id", F.round("sim", 4).alias("sim")
    )


@_declare(
    "X71_heavy_hitters",
    # Exact top-10 frequent words via the Misra-Gries two-pass
    # (operators/heavyhitters.py): per-partition bounded sketches →
    # candidate superset → exact recount. The result is certified exact
    # (k-th count > N/(cap+1) is checked at runtime), so the oracle is
    # the plain GROUP BY top-k with the same count-desc/word-asc
    # tie-break. The sketch's pruning + certification-failure paths are
    # pinned by tests/test_operators_misc.py on synthetic Zipf data.
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
u AS (SELECT w.x AS word, COUNT(*) AS n FROM t, UNNEST(t.t) AS w(x) GROUP BY 1)
SELECT word, n FROM u ORDER BY n DESC, word LIMIT 10;""",
)
def x71(spark, sf_dir):
    from swivel_spark_prep_spark.operators.heavyhitters import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return heavy_hitters(words, "word", k=10, capacity=64)


@_declare(
    "X72_dup_ngram_spans",
    # Lee-et-al-style duplicated-substring detection at 4-gram
    # granularity (dedup.duplicate_ngram_spans): 4-grams seen in >= 2
    # distinct docs mark spans; covered_tokens = union of [pos, pos+3]
    # intervals via the lead()-difference trick. The operator defaults
    # to shuffling xxhash64 fingerprints; the oracle uses raw grams —
    # hash-path == raw-path equality is pinned in
    # tests/test_llm_operators.py.
    """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n_tok
  FROM documents),
g AS (
  SELECT doc_id, n_tok, r.i AS pos, array_to_string(t[r.i:r.i+3], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 4 + 2)) AS r(i)),
d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (SELECT doc_id, pos FROM g JOIN d USING (gram)),
c AS (
  SELECT doc_id, pos,
         LEAST(4, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 4)) AS contrib
  FROM dp),
pd AS (
  SELECT doc_id, COUNT(*) AS dup_positions, SUM(contrib) AS covered_tokens
  FROM c GROUP BY doc_id)
SELECT t.doc_id, t.n_tok::BIGINT AS n_tok,
       COALESCE(pd.dup_positions, 0)::BIGINT AS dup_positions,
       COALESCE(pd.covered_tokens, 0)::BIGINT AS covered_tokens,
       ROUND(COALESCE(pd.covered_tokens, 0)::DOUBLE / t.n_tok, 4) AS dup_frac
FROM toks t LEFT JOIN pd ON t.doc_id = pd.doc_id
ORDER BY t.doc_id;""",
)
def x72(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_ngram_spans(docs, n=4).orderBy("doc_id")


@_declare(
    "X73_bloom_semi_join",
    # Bloom-runtime-filtered semi join (operators/bloom.py): lineitem
    # rows whose order is a high-value order (o_totalprice > 150000).
    # The Bloom pre-filter only prunes — the final left_semi decides —
    # so the oracle is the plain IN-subquery; no-false-negative and
    # real-pruning behavior are property-tested.
    """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS rev
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
GROUP BY l_returnflag ORDER BY l_returnflag;""",
)
def x73(spark, sf_dir):
    from swivel_spark_prep_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    hi = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, hi, "l_orderkey", n_bits=1 << 18)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
        .orderBy("l_returnflag")
    )


@_declare(
    "X74_winnow_near_dups",
    # Winnowing (MOSS) fingerprint near-dups, k=4 w=4 (dedup.winnow_
    # fingerprints / winnow_near_dups): md5 hex is the hash (its
    # lexicographic min is a total order both engines share), leftmost
    # tie-break via zero-padded position suffix, stop-fingerprints
    # dropped at doc-freq > 20, pairs sharing >= 2 distinct fingerprint
    # hashes. Finds the fixture's planted near-dup pairs — the same 25
    # X06 (MinHash) recovers, via a position-robust local algorithm.
    """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, r.i AS pos,
         md5(array_to_string(t[r.i:r.i+3], ' ')) || lpad(r.i::VARCHAR, 12, '0') AS sel_key
  FROM toks, UNNEST(range(1, len(t) - 4 + 2)) AS r(i)),
s AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
         MIN(sel_key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
  FROM g),
fp AS (
  SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp_hash
  FROM s WHERE pos <= GREATEST(n_grams - 4 + 1, 1)),
freq AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 20)
SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*)::BIGINT AS n_shared
FROM fp a JOIN freq USING (fp_hash) JOIN fp b USING (fp_hash)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY i, j;""",
)
def x74(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_near_dups(
        docs, k=4, w=4, min_shared=2, max_doc_freq=20
    ).orderBy("i", "j")


@_declare(
    "X75_cdc_chunk_dedup",
    # Content-defined chunking + chunk-level dedup report (operators/
    # chunking.py): Rabin-style rolling boundary (window 3, divisor 8,
    # Horner polynomial of md5-prefix token hashes mod 2^31-1), chunk
    # hash = md5(chunk text), a chunk instance counts as duplicated
    # when its hash occurs in >= 2 docs. The hex->int arithmetic is
    # engine-shared (Spark conv(,16,10) == DuckDB ('0x'||h)::BIGINT);
    # boundary-realignment (the CDC property) is unit-pinned.
    """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents),
h AS (
  SELECT doc_id, t, n,
         list_transform(t, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
  FROM toks),
cuts AS (
  SELECT doc_id, t, n,
         CASE WHEN n > 3 THEN
           list_filter(range(3, n),
             i -> (hs[i-2] * 66049 + hs[i-1] * 257 + hs[i]) % 2147483647 % 8 = 0)
         ELSE [] END AS cuts
  FROM h),
b AS (
  SELECT doc_id, t, list_concat(list_concat([0], cuts), [n]) AS bounds FROM cuts),
ch AS (
  SELECT doc_id, r.j AS chunk_idx,
         md5(array_to_string(t[bounds[r.j] + 1: bounds[r.j + 1]], ' ')) AS chunk_hash
  FROM b, UNNEST(range(1, len(bounds))) AS r(j)),
dup AS (SELECT chunk_hash FROM ch GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (SELECT doc_id, COUNT(*) AS dup_chunks FROM ch JOIN dup USING (chunk_hash) GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
SELECT t.doc_id, t.n_chunks::BIGINT AS n_chunks,
       COALESCE(p.dup_chunks, 0)::BIGINT AS dup_chunks,
       ROUND(COALESCE(p.dup_chunks, 0)::DOUBLE / t.n_chunks, 4) AS dup_frac
FROM tot t LEFT JOIN per p USING (doc_id) ORDER BY t.doc_id;""",
)
def x75(spark, sf_dir):
    from swivel_spark_prep_spark.operators.chunking import cdc_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return cdc_dedup_stats(docs, window=3, divisor=8).orderBy("doc_id")


@_declare("X76_kmeans_clusters", None)  # k-means — not DuckDB-replayable
def x76(spark, sf_dir):
    # Distributed full-corpus spherical k-means (similarity.kmeans_fit_
    # distributed): per-cluster membership count and mean cosine to the
    # centroid. Equality-with-driver-kmeans and objective-improvement
    # are property-tested in tests/test_llm_operators.py.
    import numpy as np

    from swivel_spark_prep_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_fit_distributed(emb, k=8, iters=3)
    assigned = sim.ivf_assign(emb, cents)
    qc = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    return (
        assigned.withColumn("c", F.element_at(qc, F.col("list_id").cast("int") + 1))
        .withColumn(
            "sim",
            F.aggregate(
                F.zip_with("_emb", "c", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.sqrt(
                F.aggregate("_emb", F.lit(0.0), lambda a, v: a + v * v)
            ),
        )
        .groupBy("list_id")
        .agg(F.count("*").alias("n_members"), F.round(F.avg("sim"), 4).alias("avg_sim"))
        .orderBy("list_id")
    )


@_declare(
    "X77_avro_roundtrip",
    # Avro sink + source round-trip (sinks.write_avro / sources.read_
    # avro — the pure-Python Avro 1.11 container implementation, deflate
    # codec): write the orders slice as .avro part files, read them back
    # distributedly (binaryFile + spec-kernel parse, sync-verified),
    # aggregate. Kernel golden-bytes + hypothesis round-trip +
    # corruption-detection tests live in tests/test_kernel_properties.py.
    """SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus;""",
)
def x77(spark, sf_dir):
    from swivel_spark_prep_spark.sinks import write_avro
    from swivel_spark_prep_spark.sources import read_avro

    path = _io_dir(sf_dir, "orders_avro")
    write_avro(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        path,
    )
    return (
        read_avro(spark, path)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@_declare(
    "X78_incremental_agg_refresh",
    # Incremental materialized-view maintenance (upsert.refresh_agg):
    # a deterministic change load against orders — delete keys %7=3,
    # double totalprice on keys %5=0 (delete wins on overlap), insert
    # +10M-shifted clones of keys %11=4 — is diffed with snapshot_diff
    # and folded into the OLD aggregate as a pure delta (O(changes),
    # the base is touched only by one semi-join on the update keys).
    # The oracle recomputes the aggregate from scratch over the same
    # new snapshot: incremental == direct.
    """WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
nw AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM old WHERE o_orderkey % 7 <> 3
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice + 1000 FROM old WHERE o_orderkey % 11 = 4)
SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice
FROM nw GROUP BY o_orderstatus ORDER BY o_orderstatus;""",
)
def x78(spark, sf_dir):
    from swivel_spark_prep_spark.operators.upsert import refresh_agg, snapshot_diff

    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 7 != 3)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 4).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderstatus",
                (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            )
        )
    )
    changes = snapshot_diff(old, new, ["o_orderkey"])
    agg_old = old.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("sum_o_totalprice")
    )
    return (
        refresh_agg(
            agg_old,
            old,
            changes,
            key_cols=["o_orderkey"],
            group_cols=["o_orderstatus"],
            sum_cols=["o_totalprice"],
        )
        .select(
            "o_orderstatus",
            "n",
            F.round("sum_o_totalprice", 2).alias("sum_o_totalprice"),
        )
        .orderBy("o_orderstatus")
    )


@_declare(
    "X79_drift_psi",
    # Population-Stability-Index drift report (quality.drift_report):
    # baseline = orders, current = orders with o_totalprice scaled 1.3x
    # (drifts past the 0.25 threshold) while o_custkey is unchanged
    # (psi 0, stable). Equal-width bins over baseline min/max, edge-bin
    # clamping, eps-floored log ratios — the oracle replays the exact
    # arithmetic (explicit floor twin of Spark's bucketing, as X62).
    """WITH b AS (
  SELECT col, val FROM (
    SELECT 'o_totalprice' AS col, o_totalprice::DOUBLE AS val FROM orders
    UNION ALL SELECT 'o_custkey', o_custkey::DOUBLE FROM orders)
  WHERE val IS NOT NULL),
c AS (
  SELECT col, val FROM (
    SELECT 'o_totalprice' AS col, (o_totalprice * 1.3)::DOUBLE AS val FROM orders
    UNION ALL SELECT 'o_custkey', o_custkey::DOUBLE FROM orders)
  WHERE val IS NOT NULL),
stats AS (SELECT col, MIN(val) mn, MAX(val) mx FROM b GROUP BY col),
bb AS (
  SELECT b.col, LEAST(10, GREATEST(1,
    CASE WHEN (mx-mn)/10 = 0 THEN 1 ELSE FLOOR((val-mn)/((mx-mn)/10))+1 END))::BIGINT AS bin,
    COUNT(*) nb
  FROM b JOIN stats USING (col) GROUP BY 1, 2),
cc AS (
  SELECT c.col, LEAST(10, GREATEST(1,
    CASE WHEN (mx-mn)/10 = 0 THEN 1 ELSE FLOOR((val-mn)/((mx-mn)/10))+1 END))::BIGINT AS bin,
    COUNT(*) nc
  FROM c JOIN stats USING (col) GROUP BY 1, 2),
tb AS (SELECT col, COUNT(*) tb FROM b GROUP BY col),
tc AS (SELECT col, COUNT(*) tc FROM c GROUP BY col),
j AS (
  SELECT COALESCE(bb.col, cc.col) AS col,
         COALESCE(nb, 0)::DOUBLE / tb.tb AS pb,
         COALESCE(nc, 0)::DOUBLE / tc.tc AS pc
  FROM bb FULL OUTER JOIN cc ON bb.col = cc.col AND bb.bin = cc.bin
  JOIN tb ON tb.col = COALESCE(bb.col, cc.col)
  JOIN tc ON tc.col = COALESCE(bb.col, cc.col)),
p AS (
  SELECT col, SUM((pc - pb) * ln(GREATEST(pc, 1e-6) / GREATEST(pb, 1e-6))) AS psi
  FROM j GROUP BY col)
SELECT col, ROUND(psi, 4) AS psi,
       CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate'
            ELSE 'drifted' END AS verdict
FROM p ORDER BY col;""",
)
def x79(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import drift_report

    orders = load_table(spark, sf_dir, "orders")
    current = orders.withColumn("o_totalprice", F.col("o_totalprice") * 1.3)
    return drift_report(
        orders, current, ["o_totalprice", "o_custkey"], bins=10
    ).orderBy("col")


@_declare("X80_phash_near_dups", None)  # DCT floats — not DuckDB-replayable
def x80(spark, sf_dir):
    # Perceptual-hash image dedup (multimodal.phash_near_dups) over the
    # real-BMP fixture images: 63-bit DCT pHash, pigeonhole banding
    # (max_hamming+1 bands), exact bit_count(xor) verify. Banding
    # recall == driver all-pairs Hamming is property-tested.
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, codec="bmp")
    return multimodal.phash_near_dups(media, max_hamming=3).orderBy("i", "j")


@_declare(
    "X81_skew_hybrid_join",
    # Hybrid skew join (operators/skewjoin.py): events enriched with a
    # per-user aggregate dim; the top-10 hottest user_ids (detected by
    # the certified Misra-Gries pass) route through a broadcast join,
    # the rest shuffle normally; union == the plain join, which is the
    # oracle. Plan shape (hot path broadcasts) is plan-tested.
    """WITH dim AS (
  SELECT user_id, COUNT(*) AS n_ev, ROUND(SUM(value), 2) AS tot
  FROM events GROUP BY user_id)
SELECT e.event_type, COUNT(*)::BIGINT AS n,
       ROUND(SUM(e.value), 2) AS sum_value,
       SUM(d.n_ev)::BIGINT AS sum_user_events
FROM events e JOIN dim d USING (user_id)
GROUP BY e.event_type ORDER BY e.event_type;""",
)
def x81(spark, sf_dir):
    from swivel_spark_prep_spark.operators.skewjoin import skew_hybrid_join

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(
        F.count("*").alias("n_ev"), F.round(F.sum("value"), 2).alias("tot")
    )
    joined = skew_hybrid_join(
        events.select("event_id", "user_id", "event_type", "value"),
        dim,
        "user_id",
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum("n_ev").alias("sum_user_events"),
        )
        .orderBy("event_type")
    )


@_declare(
    "X82_prefix_filter_jaccard",
    # Prefix-filtered EXACT shingle-set Jaccard join (dedup.prefix_
    # filter_jaccard_join): rarest-first canonical order, prefix length
    # |s|-ceil(t|s|)+1, candidates from per-prefix-token joins, exact
    # verify. The oracle is the brute-force all-pairs scan — parity
    # proves the prefix theorem's recall-1 on this data. Finds the
    # same 25 planted pairs as X06/X74 via the third (exact,
    # deterministic) set-similarity algorithm family. Scale framing:
    # at sf0.1 the Spark plan (int64 hash domain end-to-end) runs in
    # ~7 s while this brute-force oracle exceeds 600 s in DuckDB —
    # the oracle is run only at the small parity SFs.
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks WHERE len(t) >= 3)
SELECT a.doc_id AS i, b.doc_id AS j,
       ROUND(len(list_intersect(a.s,b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s,b.s))), 4) AS jac
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s,b.s))::DOUBLE
      / len(list_distinct(list_concat(a.s,b.s))) >= 0.6
ORDER BY i, j;""",
)
def x82(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_jaccard_join(docs, threshold=0.6, shingle=3).orderBy(
        "i", "j"
    )


@_declare(
    "X83_gopher_rules",
    # The Gopher quality-rule bundle (textstats.gopher_quality — Rae et
    # al. 2021 A1.1 defaults) aggregated by flag combination: any
    # per-doc rule flip changes a combo count, so the aggregate pins
    # every rule. On this fixture the word-count rule splits the corpus
    # (223/277 at sf0.01) and the stopword rule fails everywhere (the
    # synthetic vocabulary contains only 'the' from the paper's list).
    """WITH g AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
           / len(string_split(text, ' ')) AS mean_wl,
         (length(text) - length(replace(text, '#', ''))
          + (length(text) - length(replace(text, '...', ''))) / 3.0)
           / len(string_split(text, ' ')) AS symbol_ratio,
         len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^[-*•]')))::DOUBLE
           / len(string_split(text, chr(10))) AS bullet_frac,
         len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '\\.\\.\\.$')))::DOUBLE
           / len(string_split(text, chr(10))) AS ellipsis_frac,
         len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
           / len(string_split(text, ' ')) AS alpha_frac,
         len(list_intersect(list_distinct(string_split(text, ' ')),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM documents),
f AS (
  SELECT doc_id,
         n_words BETWEEN 50 AND 100000 AS ok_word_count,
         mean_wl BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
         symbol_ratio <= 0.1 AS ok_symbol_ratio,
         bullet_frac <= 0.9 AS ok_bullet,
         ellipsis_frac <= 0.3 AS ok_ellipsis,
         alpha_frac >= 0.8 AS ok_alpha,
         n_stop >= 2 AS ok_stopwords
  FROM g)
SELECT ok_word_count, ok_mean_word_len, ok_stopwords,
       (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet
        AND ok_ellipsis AND ok_alpha AND ok_stopwords) AS gopher_pass,
       COUNT(*)::BIGINT AS n
FROM f GROUP BY 1,2,3,4 ORDER BY 1,2,3,4;""",
)
def x83(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality(docs)
    return (
        g.groupBy("ok_word_count", "ok_mean_word_len", "ok_stopwords", "gopher_pass")
        .agg(F.count("*").alias("n"))
        .orderBy("ok_word_count", "ok_mean_word_len", "ok_stopwords", "gopher_pass")
    )


@_declare(
    "X84_join_diagnosis",
    # Pre-flight join health report (skewjoin.join_diagnosis) for
    # orders ⋈ customer on custkey: key-overlap split, exact inner-join
    # cardinality Σ lc·rc, worst per-key fanout both sides, null keys —
    # all from the two key-count tables, never the join itself.
    """WITH lc AS (SELECT o_custkey k, COUNT(*) lc FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
rc AS (SELECT c_custkey k, COUNT(*) rc FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
j AS (SELECT * FROM lc FULL OUTER JOIN rc USING (k))
SELECT SUM(lc)::BIGINT left_rows, SUM(rc)::BIGINT right_rows,
       COUNT(lc)::BIGINT left_keys, COUNT(rc)::BIGINT right_keys,
       SUM(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 ELSE 0 END)::BIGINT matched_keys,
       SUM(CASE WHEN rc IS NULL THEN 1 ELSE 0 END)::BIGINT left_only_keys,
       SUM(CASE WHEN lc IS NULL THEN 1 ELSE 0 END)::BIGINT right_only_keys,
       COALESCE(SUM(lc*rc),0)::BIGINT inner_join_rows,
       COALESCE(MAX(lc),0)::BIGINT max_left_fanout,
       COALESCE(MAX(rc),0)::BIGINT max_right_fanout,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)::BIGINT left_null_keys,
       (SELECT COUNT(*) FROM customer WHERE c_custkey IS NULL)::BIGINT right_null_keys
FROM j;""",
)
def x84(spark, sf_dir):
    from swivel_spark_prep_spark.operators.skewjoin import join_diagnosis

    return join_diagnosis(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


@_declare("X85_audio_near_dups", None)  # FFT floats — not DuckDB-replayable
def x85(spark, sf_dir):
    # Spectral-fingerprint audio dedup (multimodal.audio_near_dups)
    # over the real-WAV fixture audio: per-frame top-2 rFFT bins →
    # distinct frame-hash set → pairs sharing >= 4 hashes. Amplitude
    # invariance + identity/separation are property-tested.
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, codec="wav")
    return multimodal.audio_near_dups(media, min_shared=4).orderBy("i", "j")


@_declare("X86_compression_signal", None)  # zlib — not DuckDB-replayable
def x86(spark, sf_dir):
    # zlib compression-ratio quality signal (textstats.compression_
    # signal): deterministic at a fixed level; monotonicity properties
    # (repetitive << prose < noise) are unit-pinned.
    docs = load_table(spark, sf_dir, "documents")
    from swivel_spark_prep_spark.operators.textstats import compression_signal

    return compression_signal(docs).orderBy("doc_id")


@_declare(
    "X87_interval_overlap_join",
    # Bucketized interval-overlap join (asof.interval_overlap_join):
    # even-user sessions × odd-user sessions that temporally intersect
    # (half-open [start, end)). The operator explodes intervals to
    # 30-min bucket indexes and equi-joins on the bucket — never the
    # raw theta BNLJ the oracle runs (the oracle IS the plain theta
    # join, so parity proves the bucket rewrite exact).
    """WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events),
sess0 AS (
  SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks),
sess AS (
  SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end
  FROM sess0 GROUP BY user_id, sid),
a AS (SELECT * FROM sess WHERE user_id % 2 = 0),
b AS (SELECT * FROM sess WHERE user_id % 2 = 1)
SELECT a.user_id AS a_user, COUNT(*)::BIGINT AS n_overlaps
FROM a JOIN b ON a.s_start < b.s_end AND b.s_start < a.s_end
GROUP BY 1 ORDER BY 1;""",
)
def x87(spark, sf_dir):
    from swivel_spark_prep_spark.operators.asof import interval_overlap_count
    from swivel_spark_prep_spark.streaming import session_agg

    from swivel_spark_prep_spark.cache import track_persist

    # sessionization (per-user window over the full events table) feeds
    # BOTH sweep sides — persist it once or the window runs twice.
    # Counting goes through the SWEEP-LINE operator (two order statistics
    # per session via partitioned_prefix_sum), NOT the pair-materializing
    # bucket join: the pair relation is quadratic in concurrent sessions
    # and measured 75× for a 10× input (440 s at sf1); the sweep is
    # linear and parity with the pair join is pinned in
    # tests/test_round11_ops.py.
    sess = track_persist(
        session_agg(load_table(spark, sf_dir, "events"), "30 minutes")
    )
    a = sess.filter(F.col("user_id") % 2 == 0)
    b = sess.filter(F.col("user_id") % 2 == 1)
    return (
        interval_overlap_count(a, b)
        .groupBy(F.col("user_id").alias("a_user"))
        .agg(F.sum("n_overlaps").alias("n_overlaps"))
        .filter(F.col("n_overlaps") > 0)
        .orderBy("a_user")
    )


@_declare(
    "X88_weighted_sample",
    # Efraimidis-Spirakis weighted sampling without replacement
    # (sampling.weighted_sample): key = u^(1/w) with u a deterministic
    # md5-uniform, top-50 by key (TakeOrdered, no global sort), weight
    # = token count. The oracle replays the identical arithmetic, so
    # the selected set (and key values to 6 dp) match exactly.
    """WITH w AS (
  SELECT doc_id, len(string_split(text,' '))::DOUBLE AS wt,
         (('0x' || substr(md5(doc_id::VARCHAR),1,8))::BIGINT + 1) / 4294967296.0 AS u
  FROM documents),
k AS (SELECT doc_id, wt, pow(u, 1.0/wt) AS es_key FROM w WHERE wt > 0)
SELECT doc_id, ROUND(es_key, 6) AS es_key
FROM k ORDER BY es_key DESC, doc_id LIMIT 50;""",
)
def x88(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "wt", F.size(F.split("text", " ")).cast("double")
    )
    return weighted_sample(docs, "wt", 50).select(
        "doc_id", F.round("es_key", 6).alias("es_key")
    )


@_declare(
    "X89_bm25_topk",
    # BM25 top-10 for a 3-term query (search.bm25_topk): the Spark plan
    # filters the token stream to the query terms BEFORE aggregating, so
    # every shuffled relation is sized by the query's posting lists; the
    # oracle replays the same Lucene-parametrized BM25 arithmetic
    # (idf = ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75) corpus-wide.
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term FROM documents),
qtf AS (SELECT term, doc_id, COUNT(*)::DOUBLE AS tf FROM toks
        WHERE term IN ('spark','join','vector') GROUP BY 1,2),
qdf AS (SELECT term, COUNT(*)::DOUBLE AS df FROM qtf GROUP BY 1),
dl AS (SELECT doc_id, len(string_split(lower(text),' '))::DOUBLE AS dl FROM documents),
st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM dl),
sc AS (SELECT qtf.doc_id AS doc_id,
              SUM( ln(1 + (n_docs - df + 0.5)/(df + 0.5))
                   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) ) AS score_raw
       FROM qtf JOIN qdf USING(term) JOIN dl ON qtf.doc_id = dl.doc_id CROSS JOIN st
       GROUP BY 1)
SELECT doc_id, ROUND(score_raw, 4) AS score
FROM sc ORDER BY score_raw DESC, doc_id LIMIT 10;""",
)
def x89(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "join", "vector"], k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


@_declare(
    "X90_sorted_neighborhood",
    # Sorted-neighborhood near-dup pairs (dedup.sorted_neighborhood_pairs):
    # block by sorting on the first 12 chars of lower(text), compare each
    # record against its next 5 neighbours only, verify with distinct-token
    # Jaccard >= 0.9. The Spark rank comes from the two-pass
    # range-partitioned prefix sum (no global window); the oracle realizes
    # the identical total order with ROW_NUMBER, so parity proves the
    # distributed rank exact.
    """WITH r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY substr(lower(text),1,12), doc_id) - 1 AS rnk,
         list_distinct(string_split(lower(text),' ')) AS toks
  FROM documents),
cand AS (
  SELECT LEAST(a.doc_id,b.doc_id) AS d1, GREATEST(a.doc_id,b.doc_id) AS d2,
         a.toks AS ta, b.toks AS tb
  FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 5),
j AS (SELECT d1, d2,
        len(list_intersect(ta,tb))::DOUBLE / (len(ta)+len(tb)-len(list_intersect(ta,tb))) AS jac
      FROM cand)
SELECT d1, d2, ROUND(jac,4) AS jac FROM j WHERE jac >= 0.9 ORDER BY d1, d2;""",
)
def x90(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import sorted_neighborhood_pairs

    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(docs, window=5, threshold=0.9)


@_declare(
    "X91_resample_ffill",
    # Dense 6-hour resample with forward fill (timeseries.resample_ffill):
    # epoch-aligned integer buckets (floor(epoch/21600)) make bucket
    # assignment a pure projection; the grid is sequence(lo, hi) exploded
    # per user and gaps carry the last observed bucket MEAN. The oracle
    # replays the identical arithmetic with generate_series +
    # last_value IGNORE NULLS.
    """WITH b AS (
  SELECT user_id, floor(epoch(ts)/21600)::BIGINT AS bidx, value FROM events),
obs AS (SELECT user_id, bidx, AVG(value) AS obs FROM b GROUP BY 1,2),
spans AS (SELECT user_id, MIN(bidx) AS lo, MAX(bidx) AS hi FROM obs GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_idx FROM spans),
f AS (SELECT g.user_id, g.bucket_idx, obs.obs,
        last_value(obs.obs IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket_idx
          ROWS UNBOUNDED PRECEDING) AS fill
      FROM grid g LEFT JOIN obs ON g.user_id = obs.user_id AND g.bucket_idx = obs.bidx)
SELECT user_id, bucket_idx, ROUND(fill, 4) AS value, obs IS NULL AS is_gap
FROM f ORDER BY user_id, bucket_idx;""",
)
def x91(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return (
        resample_ffill(ev, 21600)
        .select(
            "user_id", "bucket_idx", F.round("value", 4).alias("value"), "is_gap"
        )
        .orderBy("user_id", "bucket_idx")
    )


@_declare(
    "X92_mad_outliers",
    # Robust per-type outlier stats (quality.mad_outliers): exact medians
    # via two grouped aggregates broadcast back, |x-med| > 3*1.4826*MAD.
    # The oracle replays the same two-level median and threshold.
    """WITH med AS (SELECT event_type, median(value) AS m FROM events GROUP BY 1),
dev AS (SELECT e.event_type, e.value, abs(e.value - m) AS ad, m FROM events e JOIN med USING(event_type)),
mad AS (SELECT event_type, median(ad) AS md FROM dev GROUP BY 1)
SELECT d.event_type, COUNT(*)::BIGINT AS n,
       SUM(CASE WHEN d.ad > 3.0*1.4826*mad.md THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       ROUND(MAX(d.m),4) AS med, ROUND(MAX(mad.md),4) AS mad
FROM dev d JOIN mad USING(event_type) GROUP BY 1 ORDER BY 1;""",
)
def x92(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    flagged = mad_outliers(ev, "value", ["event_type"], k=3.0)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("_outlier").cast("long")).alias("n_outliers"),
            F.round(F.max("_median"), 4).alias("med"),
            F.round(F.max("_mad"), 4).alias("mad"),
        )
        .orderBy("event_type")
    )


def _x93_oracle() -> str:
    numeric = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    other = ["l_returnflag", "l_linestatus", "l_shipdate"]
    parts = []
    for c in numeric + other:
        lo = f"MIN({c})::DOUBLE" if c in numeric else "NULL::DOUBLE"
        hi = f"MAX({c})::DOUBLE" if c in numeric else "NULL::DOUBLE"
        parts.append(
            f"SELECT '{c}' AS \"column\", "
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, "
            f"COUNT(DISTINCT {c})::BIGINT AS n_distinct, "
            f"{lo} AS min_value, {hi} AS max_value FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY \"column\";"


@_declare(
    # Single-scan table profiler (profile.profile_table): every column's
    # null count / NDV / numeric range from ONE aggregate, pivoted long
    # via an in-row struct explode. exact_ndv=True here for cross-engine
    # parity; the scale default is HLL. The oracle rescans per column —
    # the Spark plan is the one-pass one.
    "X93_profile_table",
    _x93_oracle(),
)
def x93(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(li, exact_ndv=True).orderBy("column")


@_declare(
    "X94_warc_roundtrip",
    # WARC sink + source round-trip (sinks.write_warc / sources.read_warc
    # — pure-Python ISO 28500 kernel, record-at-time gzip members per the
    # Common Crawl layout): write documents as .warc.gz part files, read
    # them back distributedly (binaryFile + kernel parse), reconstruct
    # (doc_id from the record id, text from the payload, lang/source from
    # X-Meta headers) and compare against the source table.
    """SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id;""",
)
def x94(spark, sf_dir):
    from swivel_spark_prep_spark.sinks import write_warc
    from swivel_spark_prep_spark.sources import read_warc

    path = _io_dir(sf_dir, "documents_warc")
    write_warc(
        load_table(spark, sf_dir, "documents"),
        path,
        meta_cols=["lang", "source"],
    )
    return (
        read_warc(spark, path)
        .select(
            F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("payload").cast("string").alias("text"),
            F.col("headers").getItem("X-Meta-lang").alias("lang"),
            F.col("headers").getItem("X-Meta-source").alias("source"),
        )
        .orderBy("doc_id")
    )


@_declare(
    "X95_file_provenance",
    # Row-level file lineage (sources.read_parquet_with_provenance):
    # write lineitem partitioned by l_returnflag, read it back with the
    # scan-side _metadata.file_path column, and recover each row's
    # partition purely from its FILE PATH. Per-path counts equaling the
    # per-flag counts proves the provenance mapping exact.
    """SELECT l_returnflag, COUNT(*)::BIGINT AS n FROM lineitem
GROUP BY 1 ORDER BY 1;""",
)
def x95(spark, sf_dir):
    from swivel_spark_prep_spark.sources import read_parquet_with_provenance

    path = _io_dir(sf_dir, "lineitem_by_flag")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(path)
    return (
        read_parquet_with_provenance(spark, path)
        .select(
            F.regexp_extract("_file_path", r"l_returnflag=([^/]+)/", 1).alias(
                "l_returnflag"
            )
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


@_declare(
    "X96_stratified_split",
    # Exactly-proportional per-stratum split (sampling.stratified_split):
    # rank inside each lang stratum by a deterministic md5-uniform of
    # doc_id, cut at floor(0.8n)/floor(0.9n)/n. Unlike the ~proportional
    # X22 hash split, every stratum is within one row of its target. The
    # oracle replays the identical rank-and-cut arithmetic.
    """WITH u AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(doc_id::VARCHAR),1,8))::BIGINT) / 4294967296.0 AS u
  FROM documents),
r AS (SELECT lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM u)
SELECT lang,
       CASE WHEN rn <= floor(0.8*n + 1e-9) THEN 'train'
            WHEN rn <= floor(0.9*n + 1e-9) THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*)::BIGINT AS n_rows
FROM r GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x96(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import stratified_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_split(
            docs, ["lang"], {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("lang", "split")
    )


@_declare(
    "X97_nfc_normalize",
    # Unicode NFC canonical composition (textstats.nfc_normalize, Arrow
    # pandas UDF over unicodedata): append a decomposed accent
    # (e + U+0301) to every text; NFC must compose it to a single
    # precomposed character, shrinking the codepoint length by exactly
    # one. The oracle is DuckDB's nfc_normalize — two independent
    # Unicode implementations agreeing byte-for-byte.
    """SELECT doc_id,
       length(text || 'e' || chr(769)) AS len_raw,
       length(nfc_normalize(text || 'e' || chr(769))) AS len_nfc
FROM documents ORDER BY doc_id;""",
)
def x97(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import nfc_normalize

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_aug", F.concat("text", F.lit("e"), F.lit("́"))
    )
    return (
        nfc_normalize(docs, "_aug", "_nfc")
        .select(
            "doc_id",
            F.length("_aug").alias("len_raw"),
            F.length("_nfc").alias("len_nfc"),
        )
        .orderBy("doc_id")
    )


@_declare(
    "X98_retention_cohorts",
    # Weekly retention matrix (timeseries.retention_cohorts): users
    # cohorted by the epoch-aligned week of their first event, counted
    # once per (cohort, week-offset). The oracle replays the same
    # first-seen + offset arithmetic.
    """WITH acts AS (
  SELECT DISTINCT user_id, floor(epoch(ts)/604800)::BIGINT AS p FROM events),
f AS (SELECT user_id, MIN(p) AS cohort FROM acts GROUP BY 1)
SELECT cohort AS cohort_period, (p - cohort)::BIGINT AS period_offset,
       COUNT(*)::BIGINT AS n_active
FROM acts JOIN f USING(user_id) GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x98(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev).orderBy("cohort_period", "period_offset")


@_declare("X99_hll_rollup", None)  # HLL estimates — not DuckDB-replayable;
# error bounds vs exact counts are property-tested in tests/test_llm_operators.py
def x99(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import approx_distinct_rollup

    docs = load_table(spark, sf_dir, "documents")
    return approx_distinct_rollup(docs, "lang", "text").orderBy("g")


@_declare(
    "X100_equidepth_histogram",
    # Equi-depth histogram (profile.equidepth_histogram): exact decile
    # cuts from one 1-row percentile aggregate broadcast back; bin =
    # number of cuts strictly below the value (codegen comparison
    # chain, no window). The oracle replays the identical linear-
    # interpolation percentiles and comparison binning.
    """WITH cuts AS (
  SELECT quantile_cont(o_totalprice,
         [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c FROM orders),
b AS (SELECT len(list_filter(c, x -> o_totalprice > x))::BIGINT AS bin, c
      FROM orders, cuts WHERE o_totalprice IS NOT NULL)
SELECT bin, COUNT(*)::BIGINT AS n_rows,
       ROUND(MAX(CASE WHEN bin > 0 THEN c[bin::INT] END), 4) AS lo,
       ROUND(MAX(CASE WHEN bin < 9 THEN c[bin::INT + 1] END), 4) AS hi
FROM b GROUP BY bin ORDER BY bin;""",
)
def x100(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import equidepth_histogram

    orders = load_table(spark, sf_dir, "orders")
    return (
        equidepth_histogram(orders, "o_totalprice", 10)
        .select(
            "bin",
            "n_rows",
            F.round("lo", 4).alias("lo"),
            F.round("hi", 4).alias("hi"),
        )
        .orderBy("bin")
    )


@_declare(
    "X101_novelty_scores",
    # Per-doc novelty vs a reference corpus (contamination.novelty_
    # scores): fraction of distinct 8-gram shingles unseen in the
    # reference (sources src0-src9) for each candidate (src10-src19).
    # Spark hashes token tuples (xxhash64, no string shingle ever
    # materialized); the oracle builds the string shingles — equality
    # up to 64-bit collisions, the same contract Q41 pins.
    """WITH sh AS (
  SELECT doc_id, source,
    CASE WHEN len(string_split(text,' ')) >= 8 THEN
      list_distinct(list_transform(range(len(string_split(text,' ')) - 7),
        p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3] || ' ' || string_split(text,' ')[p+4] || ' ' || string_split(text,' ')[p+5] || ' ' || string_split(text,' ')[p+6] || ' ' || string_split(text,' ')[p+7] || ' ' || string_split(text,' ')[p+8]))
    ELSE []::VARCHAR[] END AS shingles
  FROM documents),
ref AS (SELECT DISTINCT s.x AS g FROM sh, UNNEST(shingles) AS s(x)
        WHERE CAST(substr(source, 4) AS INT) < 10),
cand AS (SELECT doc_id, shingles FROM sh WHERE CAST(substr(source, 4) AS INT) >= 10),
cnt AS (SELECT c.doc_id, COUNT(*) AS n_seen
        FROM cand c, UNNEST(c.shingles) AS s(x) JOIN ref ON s.x = ref.g
        GROUP BY 1)
SELECT c.doc_id, len(c.shingles)::BIGINT AS n_shingles,
       COALESCE(cnt.n_seen, 0)::BIGINT AS n_seen,
       CASE WHEN len(c.shingles) > 0
            THEN ROUND(1.0 - COALESCE(cnt.n_seen, 0)::DOUBLE / len(c.shingles), 4)
       END AS novelty
FROM cand c LEFT JOIN cnt USING (doc_id) ORDER BY c.doc_id;""",
)
def x101(spark, sf_dir):
    from swivel_spark_prep_spark.operators.contamination import novelty_scores

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    ref = docs.filter(src_num < 10)
    cand = docs.filter(src_num >= 10)
    return (
        novelty_scores(cand, ref, n=8)
        .select(
            "doc_id",
            "n_shingles",
            "n_seen",
            F.round("novelty", 4).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@_declare(
    "X102_rolling_stats",
    # Trailing-window smoothing + anomaly flags (timeseries.rolling_
    # stats): last-10 ROWS frame ending at the predecessor (the current
    # value never smooths itself) — rolling mean / sample stddev /
    # exact median + a 3-sigma flag, all over ONE per-key window (the
    # single-exchange Q19/Q20 shape). The oracle replays the identical
    # frame with quantile_cont. Comparable projection = the exactly-
    # reproducible columns: the median interpolates two order statistics
    # (no accumulation — byte-stable across engines) and the flag pins
    # mean/std transitively because the oracle RECOMPUTES them
    # independently inside the comparison; the raw mean itself differs
    # across engines at ~1e-8 (window-aggregate accumulation order), so
    # a rounded copy would flip at rounding boundaries.
    """SELECT event_id,
       ROUND(quantile_cont(value, 0.5) OVER w, 4) AS roll_median,
       COALESCE(ABS(value - AVG(value) OVER w)
                > 3.0 * STDDEV_SAMP(value) OVER w, FALSE) AS is_anomaly
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
ORDER BY event_id;""",
)
def x102(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rolling_stats

    ev = load_table(spark, sf_dir, "events")
    return (
        rolling_stats(ev, 10, order_tiebreak="event_id")
        .select(
            "event_id",
            F.round("roll_median", 4).alias("roll_median"),
            "is_anomaly",
        )
        .orderBy("event_id")
    )


@_declare("X103_pca_project", None)  # eigendecomposition — not DuckDB-
# replayable; orthonormality/variance/reconstruction properties are
# pinned in tests/test_llm_operators.py
def x103(spark, sf_dir):
    from swivel_spark_prep_spark.operators.pca import pca_fit, pca_transform

    embs = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(embs, k=8)
    return pca_transform(embs, mean, comps).select("vec_id", "proj").orderBy(
        "vec_id"
    )


def _ipf_sql(iters: int = 40) -> str:
    """Unrolled-iteration DuckDB twin for X104 (round-13 verdict
    Next #4): each IPF sweep is a row pass then a column pass, both
    set-wise (within a pass every category's factor reads only its own
    cells, so the Python per-category loop and the windowed SQL are the
    same map). raking_weights early-stops at delta < 1e-12; the twin
    just runs 40 fixed sweeps — past convergence every factor is
    1 ± 1e-12, invisible at ROUND(,6). MATERIALIZED stops DuckDB
    inlining the chain exponentially."""
    srcs = "[" + ", ".join(f"'src{i}'" for i in range(20)) + "]"
    s = f"""WITH cells AS (SELECT lang AS a, source AS b, COUNT(*)::DOUBLE AS n
       FROM documents GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS t FROM cells),
ta AS (SELECT unnest(['de', 'en', 'es', 'fr', 'zh']) AS a,
       CAST(0.2 AS DOUBLE) AS sa),
tb AS (SELECT unnest({srcs}) AS b, CAST(0.05 AS DOUBLE) AS sb),
w0 AS (SELECT a, b, n, 1.0 AS w FROM cells)"""
    prev = "w0"
    for i in range(1, iters + 1):
        s += f""",
r{i} AS MATERIALIZED (SELECT a, b, n,
         w * ((sa * t) / SUM(n * w) OVER (PARTITION BY a)) AS w
         FROM {prev} JOIN ta USING (a) CROSS JOIN tot),
c{i} AS MATERIALIZED (SELECT a, b, n,
         w * ((sb * t) / SUM(n * w) OVER (PARTITION BY b)) AS w
         FROM r{i} JOIN tb USING (b) CROSS JOIN tot)"""
        prev = f"c{i}"
    return s + f"""
SELECT a AS lang, b AS source, ROUND(w, 6) AS weight
FROM {prev} ORDER BY lang, source;"""


@_declare("X104_raking_weights", _ipf_sql())  # driver-side IPF on the
# bounded cell table; 40 unrolled set-wise sweeps as the DuckDB twin —
# marginal-match properties additionally pinned in tests/test_llm_operators.py
def x104(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import raking_weights

    docs = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    srcs = [f"src{i}" for i in range(20)]
    w = raking_weights(
        docs,
        "lang",
        "source",
        {l: 1 / len(langs) for l in langs},
        {s: 1 / len(srcs) for s in srcs},
    )
    return w.select(
        "lang", "source", F.round("weight", 6).alias("weight")
    ).orderBy("lang", "source")


@_declare(
    "X105_first_touch",
    # First-touch conversion attribution (timeseries.first_touch_
    # attribution): per-user argmin by (ts, event_id) via min_by — a
    # hash aggregate with map-side partials, no window, no sort — then
    # a per-channel rollup. The oracle realizes the identical first
    # touch with ROW_NUMBER.
    """WITH f AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
conv AS (SELECT user_id,
                MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
         FROM events GROUP BY 1)
SELECT f.event_type AS first_touch, COUNT(*)::BIGINT AS n_users,
       SUM(conv.c)::BIGINT AS n_converted,
       ROUND(SUM(conv.c)::DOUBLE / COUNT(*), 4) AS conv_rate
FROM f JOIN conv USING (user_id) WHERE rn = 1
GROUP BY 1 ORDER BY 1;""",
)
def x105(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        first_touch_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return first_touch_attribution(ev).orderBy("first_touch")


@_declare(
    "X106_dataset_card",
    # One-call dataset card (textstats.dataset_card): corpus totals,
    # exact-dup count, vocabulary size, type-token ratio, mean token
    # length as long-format (metric, value) — two map-side-partial
    # aggregates total. The oracle replays every metric definition.
    """WITH d AS (
  SELECT COUNT(*)::DOUBLE AS n_docs,
         SUM(len(string_split(text,' ')))::DOUBLE AS n_tokens,
         SUM(length(text))::DOUBLE AS n_chars,
         (COUNT(*) - COUNT(DISTINCT md5(text)))::DOUBLE AS exact_dup_docs
  FROM documents),
t AS (
  SELECT COUNT(DISTINCT tok)::DOUBLE AS vocab_size,
         AVG(length(tok)) AS mean_token_len,
         COUNT(*)::DOUBLE AS nn
  FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents)
  WHERE tok <> '')
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, ROUND(n_docs, 4) AS value FROM d
  UNION ALL SELECT 'n_tokens', ROUND(n_tokens, 4) FROM d
  UNION ALL SELECT 'n_chars', ROUND(n_chars, 4) FROM d
  UNION ALL SELECT 'avg_tokens_per_doc', ROUND(n_tokens / n_docs, 4) FROM d
  UNION ALL SELECT 'exact_dup_docs', ROUND(exact_dup_docs, 4) FROM d
  UNION ALL SELECT 'vocab_size', ROUND(vocab_size, 4) FROM t
  UNION ALL SELECT 'type_token_ratio', ROUND(vocab_size / nn, 4) FROM t
  UNION ALL SELECT 'mean_token_len', ROUND(mean_token_len, 4) FROM t
) ORDER BY metric;""",
)
def x106(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import dataset_card

    docs = load_table(spark, sf_dir, "documents")
    return dataset_card(docs).orderBy("metric")


@_declare(
    "X107_containment_pairs",
    # Asymmetric containment near-dups (dedup.containment_pairs):
    # |A∩B|/|A| >= 0.8 — the quote/inclusion detector symmetric Jaccard
    # structurally misses. Spark runs the Q41 pair-counting plan
    # (inverted index, ordered-pair explosion, df cap) over xxhash64
    # shingles; the oracle is the brute-force all-pairs twin on string
    # shingles — parity proves the pair-counting containment exact (the
    # fixture's max df, 7, is far under the 1000 cap).
    """WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
    p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3])) AS s
  FROM documents WHERE len(string_split(text,' ')) >= 3)
SELECT a.doc_id AS inner, b.doc_id AS outer,
       ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 4) AS containment
FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.8
ORDER BY 1, 2;""",
)
def x107(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.8).orderBy("inner", "outer")


@_declare(
    "X108_per_source_cap",
    # Per-source document cap (sampling.cap_per_group): keep the top-10
    # docs per source by quality (X02's formula), ties by doc_id — the
    # Common Crawl per-domain-cap curation rule. The oracle replays the
    # identical quality expression and rank-and-cap.
    """WITH q AS (
  SELECT doc_id, source,
         CASE WHEN len(string_split(text,' ')) < 5 THEN 0.0
              ELSE least(100.0, greatest(0.0,
                   100.0 * length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE / length(text)
                   - 10.0 * length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text))) END AS quality
  FROM documents),
r AS (SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
      FROM q)
SELECT source, COUNT(*)::BIGINT AS n_kept, ROUND(AVG(quality), 4) AS avg_quality
FROM r WHERE rn <= 10 GROUP BY source ORDER BY source;""",
)
def x108(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import cap_per_group
    from swivel_spark_prep_spark.operators.textstats import quality_score

    docs = quality_score(load_table(spark, sf_dir, "documents"))
    capped = cap_per_group(
        docs, "source", 10, F.desc("quality"), tiebreak_col="doc_id"
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


@_declare(
    "X109_arrow_roundtrip",
    # Arrow IPC (Feather v2) sink + source round-trip (sinks.write_
    # arrow_ipc / sources.read_arrow_ipc): one .arrow file per
    # partition, Arrow schema derived from the SPARK schema, record
    # batches streamed per Arrow batch; read back over binaryFile +
    # pyarrow file reader and aggregated against the source table.
    """SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus;""",
)
def x109(spark, sf_dir):
    from swivel_spark_prep_spark.sinks import write_arrow_ipc
    from swivel_spark_prep_spark.sources import read_arrow_ipc

    path = _io_dir(sf_dir, "orders_arrow")
    write_arrow_ipc(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        path,
    )
    return (
        read_arrow_ipc(
            spark, path, "o_orderkey long, o_orderstatus string, o_totalprice double"
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@_declare(
    "X110_nb_lang_confusion",
    # Trained naive-Bayes char-trigram language classifier (lm.nb_char_
    # trigram_classifier, the Cavnar-Trenkle family): train on the
    # labeled fixture, predict resubstitution, report the confusion
    # matrix. The oracle replays training counts, add-one smoothing,
    # priors and the argmax (ties by label asc) in SQL; parity pins the
    # ARGMAX, the engine-stable surface (raw ln-sums differ in the last
    # ulp).
    """WITH tg AS (SELECT doc_id, lang,
        unnest(list_transform(range(1, greatest(length(text)-2, 0) + 1),
                              i -> substr(text, i, 3))) AS t
  FROM documents),
counts AS (SELECT lang AS y, t, COUNT(*) AS c FROM tg GROUP BY 1, 2),
lt AS (SELECT lang AS y, COUNT(*) AS n FROM tg GROUP BY 1),
v AS (SELECT COUNT(DISTINCT t)::DOUBLE AS v FROM counts),
prior AS (SELECT SUM(n)::DOUBLE AS pn FROM lt),
scored AS (
  SELECT tg.doc_id, tg.lang AS true_lang, lt.y,
         SUM(ln((COALESCE(c.c, 0) + 1.0) / (lt.n + v.v))) + ln(lt.n / prior.pn) AS p
  FROM tg CROSS JOIN lt CROSS JOIN v CROSS JOIN prior
  LEFT JOIN counts c ON c.t = tg.t AND c.y = lt.y
  GROUP BY tg.doc_id, tg.lang, lt.y, lt.n, prior.pn),
pred AS (
  SELECT doc_id, true_lang, y AS pred,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p DESC, y) AS rn
  FROM scored)
SELECT true_lang AS lang, pred, COUNT(*)::BIGINT AS n
FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x110(spark, sf_dir):
    from swivel_spark_prep_spark.operators.lm import nb_char_trigram_classifier

    docs = load_table(spark, sf_dir, "documents")
    preds = nb_char_trigram_classifier(docs, docs)
    return (
        preds.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred")
    )


@_declare(
    "X111_feature_hash_embed",
    # Feature-hashing document vectors (similarity.feature_hash_embed,
    # the Vowpal hashing trick): bucket = md5(token) % 64, sign from an
    # independent md5 nibble — vocabulary-free fixed-k embeddings. The
    # oracle replays the identical md5 arithmetic; both sides compare
    # the NONZERO (doc, bucket, weight) triples (a zero can be a
    # missing bucket or an exact ±cancellation — both engines drop it).
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
h AS (SELECT doc_id,
        ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
        CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
             THEN 1.0 ELSE -1.0 END AS sgn
      FROM tok WHERE t <> '')
SELECT doc_id, bucket, SUM(sgn) AS w
FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0 ORDER BY 1, 2;""",
)
def x111(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import feature_hash_embed

    docs = load_table(spark, sf_dir, "documents")
    vecs = feature_hash_embed(docs, k=64)
    return (
        vecs.select("doc_id", F.posexplode("vec").alias("bucket", "w"))
        .filter(F.col("w") != 0.0)
        .orderBy("doc_id", "bucket")
    )


@_declare(
    "X112_edit_distance_pairs",
    # Exact edit-distance self-join (dedup.edit_distance_pairs) over
    # part names, ed <= 2: q-gram pigeonhole blocking (d edits destroy
    # <= d*q grams, so long-enough pairs MUST share one) + a
    # length-band explode for short strings — recall 1 by theorem. The
    # oracle is the brute-force all-pairs twin; parity proves it. The
    # entry pins a FIXED 2000-part slice (the full sf0.01 table): the
    # fixture's tiny name-template space makes the true answer
    # quadratic in input rows (5.5M pairs at sf0.1 — everything is a
    # near-duplicate of something), which is a property of the
    # synthetic names, not of the plan; real name spaces keep gram
    # buckets sparse.
    """SELECT a.p_partkey AS i, b.p_partkey AS j,
       levenshtein(a.p_name, b.p_name)::INT AS dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey < 2000 AND b.p_partkey < 2000
  AND levenshtein(a.p_name, b.p_name) <= 2
ORDER BY i, j;""",
)
def x112(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import edit_distance_pairs

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 2000)
    return edit_distance_pairs(
        part, "p_name", max_distance=2, id_col="p_partkey"
    ).orderBy("i", "j")


@_declare(
    "X113_decay_score",
    # Exponentially decayed per-user activity score (timeseries.decay_
    # weighted_score): sum of value * 0.5^(age/half_life) anchored at
    # the corpus's newest event, half-life 7 days. The oracle replays
    # the identical exp arithmetic.
    """WITH ref AS (SELECT MAX(floor(epoch(ts))) AS tref FROM events)
SELECT user_id,
       ROUND(SUM(value * exp(-(0.6931471805599453/604800.0)
                             * (tref - floor(epoch(ts))))), 4) AS decay_score
FROM events CROSS JOIN ref
GROUP BY user_id ORDER BY user_id;""",
)
def x113(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import decay_weighted_score

    ev = load_table(spark, sf_dir, "events")
    return (
        decay_weighted_score(ev, 604800.0)
        .select("user_id", F.round("decay_score", 4).alias("decay_score"))
        .orderBy("user_id")
    )


@_declare(
    "X114_transition_matrix",
    # First-order Markov transitions over per-user event sequences
    # (timeseries.transition_matrix): adjacent pairs from one per-key
    # lag window, P(to|from) by a tiny normalizer join. The oracle
    # replays LEAD + the same normalization.
    """WITH s AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
  FROM events),
c AS (SELECT from_state, to_state, COUNT(*) AS n FROM s
      WHERE to_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_state, SUM(n) AS tot FROM c GROUP BY 1)
SELECT c.from_state, c.to_state, c.n,
       ROUND(c.n::DOUBLE / t.tot, 4) AS p
FROM c JOIN t USING (from_state) ORDER BY 1, 2;""",
)
def x114(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev).orderBy("from_state", "to_state")


@_declare(
    "X115_nested_roundtrip",
    # Nested materialization round-trip: orders each carry their
    # lineitems as a ts-ordered array<struct> (the lakehouse
    # denormalization that kills the join at read time), then the
    # nested column is exploded BACK and checksummed — the
    # nest/unnest round-trip law. array_sort on (linenumber) keys the
    # struct order deterministically. The oracle is the plain join
    # aggregate the nested form must preserve.
    """SELECT o.o_orderstatus, COUNT(DISTINCT o.o_orderkey)::BIGINT AS n_orders,
       COUNT(l.l_orderkey)::BIGINT AS n_items,
       ROUND(SUM(l.l_extendedprice), 2) AS total
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1 ORDER BY 1;""",
)
def x115(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("l_linenumber", "l_extendedprice", "l_quantity")
                )
            ).alias("items")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    # unnest back and prove the aggregate is preserved
    return (
        nested.select("o_orderkey", "o_orderstatus", F.explode("items").alias("it"))
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.count("*").alias("n_items"),
            F.round(F.sum("it.l_extendedprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@_declare(
    "X116_ab_test_report",
    # Two-proportion A/B report: treatment = even user_id, control =
    # odd; conversion = any HIGH-VALUE purchase (value > 120, ~p90 of
    # the fixture's skewed purchase values — every user purchases
    # SOMETHING, so plain purchase is degenerate). Lift and the two-proportion
    # z-score (pooled variance) in one aggregate — the experiment
    # readout primitive; significance thresholds are the caller's
    # (|z| > 1.96 ~ p < .05). The oracle replays the identical pooled
    # arithmetic.
    """WITH u AS (
  SELECT user_id, user_id % 2 = 0 AS treat,
         MAX(CASE WHEN event_type = 'purchase' AND value > 120 THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
g AS (SELECT COUNT(*) FILTER (treat) AS nt, SUM(conv) FILTER (treat) AS ct,
             COUNT(*) FILTER (NOT treat) AS nc, SUM(conv) FILTER (NOT treat) AS cc
      FROM u)
SELECT nt::BIGINT AS n_treat, ct::BIGINT AS conv_treat,
       nc::BIGINT AS n_ctrl, cc::BIGINT AS conv_ctrl,
       ROUND(ct::DOUBLE/nt - cc::DOUBLE/nc, 6) AS lift,
       ROUND((ct::DOUBLE/nt - cc::DOUBLE/nc)
             / NULLIF(sqrt(((ct+cc)::DOUBLE/(nt+nc)) * (1 - (ct+cc)::DOUBLE/(nt+nc))
                           * (1.0/nt + 1.0/nc)), 0), 4) AS z_score
FROM g;""",
)
def x116(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 120))
            .cast("long")
        ).alias("conv")
    ).withColumn("treat", F.col("user_id") % 2 == 0)
    g = u.agg(
        F.sum(F.col("treat").cast("long")).alias("nt"),
        F.sum(F.when(F.col("treat"), F.col("conv")).otherwise(0)).alias("ct"),
        F.sum((~F.col("treat")).cast("long")).alias("nc"),
        F.sum(F.when(~F.col("treat"), F.col("conv")).otherwise(0)).alias("cc"),
    )
    p_pool = (F.col("ct") + F.col("cc")) / (F.col("nt") + F.col("nc"))
    lift = F.col("ct") / F.col("nt") - F.col("cc") / F.col("nc")
    # NULL z when the pooled variance is 0 (everyone or no one
    # converted) — the degenerate A/B readout has no defined z-score
    denom = F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("nt") + 1.0 / F.col("nc"))
    )
    z = lift / F.nullif(denom, F.lit(0.0))
    return g.select(
        F.col("nt").alias("n_treat"),
        F.col("ct").alias("conv_treat"),
        F.col("nc").alias("n_ctrl"),
        F.col("cc").alias("conv_ctrl"),
        F.round(lift, 6).alias("lift"),
        F.round(z, 4).alias("z_score"),
    )


@_declare(
    "X117_pmi_collocations",
    # Top-20 PMI collocations (swivel.pmi_collocations, Church & Hanks)
    # composed from the reference's own co-occurrence generator
    # (cooc_pairs, window 3, ordered pairs): pair counts with a
    # min_count=5 floor, unigram marginals and totals broadcast,
    # TakeOrdered top-k on the unrounded PMI. The oracle replays the
    # identical positional pairing and formula.
    """WITH toks AS (
  SELECT doc_id, arr[p + 1] AS tok, p::BIGINT AS pos
  FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
       UNNEST(range(len(arr))) AS u(p)),
pairs AS (
  SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_ab
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 3
  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
tot AS (SELECT (SELECT SUM(n)::DOUBLE FROM uni) AS nn,
               (SELECT SUM(n_ab)::DOUBLE FROM pairs) AS pp),
sc AS (
  SELECT p.w1, p.w2, p.n_ab,
         ln((p.n_ab / pp) / ((ua.n / nn) * (ub.n / nn))) AS pmi_raw
  FROM pairs p JOIN uni ua ON ua.tok = p.w1
               JOIN uni ub ON ub.tok = p.w2
               CROSS JOIN tot)
SELECT w1, w2, n_ab::BIGINT AS n_ab, ROUND(pmi_raw, 4) AS pmi
FROM sc ORDER BY pmi_raw DESC, w1, w2 LIMIT 20;""",
)
def x117(spark, sf_dir):
    from swivel_spark_prep_spark.operators.swivel import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, window=3, min_count=5, k=20)


@_declare(
    "X118_trend_slopes",
    # Per-user OLS value trend (timeseries.trend_slopes): closed-form
    # regression sums in ONE hash aggregate — a regression per key with
    # no per-key fitting. x = epoch days since 2024-01-01 (fixed anchor
    # keeps the squared sums in float range). The oracle replays the
    # identical sums.
    """WITH p AS (
  SELECT user_id, (floor(epoch(ts)) - 1704067200) / 86400.0 AS x, value AS y
  FROM events),
a AS (SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM p GROUP BY 1)
SELECT user_id, n::BIGINT AS n,
       ROUND((n*sxy - sx*sy) / NULLIF(n*sxx - sx*sx, 0), 4) AS slope_per_day
FROM a ORDER BY user_id;""",
)
def x118(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import trend_slopes

    ev = load_table(spark, sf_dir, "events")
    return (
        trend_slopes(ev)
        .select(
            "user_id", "n", F.round("slope_per_day", 4).alias("slope_per_day")
        )
        .orderBy("user_id")
    )


@_declare(
    "X119_churn_labels",
    # Churn labeling at the observation horizon (timeseries.churn_
    # labels): last activity vs the corpus's newest event, 3-day
    # threshold — one per-key max + a 1-row broadcast; the oracle
    # replays the horizon arithmetic.
    """WITH l AS (SELECT user_id, MAX(floor(epoch(ts)))::BIGINT AS last_seen_epoch
           FROM events GROUP BY 1),
h AS (SELECT MAX(floor(epoch(ts)))::BIGINT AS hz FROM events)
SELECT user_id, last_seen_epoch,
       (hz - last_seen_epoch)::BIGINT AS idle_seconds,
       hz - last_seen_epoch > 259200 AS churned
FROM l CROSS JOIN h ORDER BY user_id;""",
)
def x119(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import churn_labels

    ev = load_table(spark, sf_dir, "events")
    return churn_labels(ev, 259200).orderBy("user_id")


# -- PageRank (operators/graph.py) -------------------------------------------
# The oracle SQL is GENERATED by graph.pagerank_oracle_sql from the same
# (iterations, damping) parameters the Spark side runs with — the unrolled
# CTE chain replays the identical update rule (uniform dangling
# redistribution included), so parity pins the algorithm.

from swivel_spark_prep_spark.operators import graph as _graph  # noqa: E402

_PR_EDGES_SQL = (
    "SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem"
)


@_declare(
    "X120_pagerank",
    _graph.pagerank_oracle_sql(_PR_EDGES_SQL, iterations=5, damping=0.85),
)
def x120(spark, sf_dir):
    # Join-based power-iteration PageRank on the supplier→part ship
    # graph (every part node is dangling, so the uniform-redistribution
    # path carries real mass). Each iteration = one hash join on src +
    # one aggregate on dst; edges+outdeg persisted once; dangling mass
    # is a 1-row broadcast. 5 iterations, d=0.85 — the domain-ranking
    # primitive of web-corpus curation.
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    return (
        _graph.pagerank(edges, iterations=5, damping=0.85)
        .select("node", F.round("pagerank", 8).alias("pagerank"))
        .orderBy("node")
    )


@_declare(
    "X121_dsir_weights",
    # DSIR importance weights (sampling.dsir_weights, Xie et al. 2023):
    # hashed-bigram bag models for target (src0-3) vs raw, add-one
    # smoothing over the 4096-bucket space, per-doc log weight
    # Σ c_f·(ln p_t − ln p_r). The oracle replays the identical md5
    # bucketing (the X22 idiom) and arithmetic.
    """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS arr FROM documents),
grams AS (
  SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_t,
         ('0x' || substr(md5('dsir' || arr[p+1] || ' ' || arr[p+2]), 1, 8))::BIGINT % 4096 AS bucket
  FROM t, UNNEST(range(len(arr) - 1)) AS u(p)),
counts AS (SELECT bucket,
                  SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                  SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
           FROM grams GROUP BY 1),
tot AS (SELECT SUM(ct)::DOUBLE AS tt, SUM(cr)::DOUBLE AS tr FROM counts),
model AS (SELECT bucket,
                 ln((ct + 1.0) / (tt + 4096)) - ln((cr + 1.0) / (tr + 4096)) AS lr
          FROM counts CROSS JOIN tot),
df AS (SELECT doc_id, bucket, COUNT(*) AS c FROM grams GROUP BY 1, 2),
sc AS (SELECT doc_id, SUM(c) AS n_feats, SUM(c * lr) AS lw
       FROM df JOIN model USING (bucket) GROUP BY 1)
SELECT d.doc_id, COALESCE(n_feats, 0)::BIGINT AS n_feats,
       ROUND(COALESCE(lw, 0), 6) AS log_weight
FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id;""",
)
def x121(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return (
        dsir_weights(docs, F.col("source").isin("src0", "src1", "src2", "src3"))
        .select("doc_id", "n_feats", F.round("log_weight", 6).alias("log_weight"))
        .orderBy("doc_id")
    )


@_declare(
    "X122_mixture_divergence",
    # Per-source token-distribution divergence vs the corpus
    # (textstats.mixture_divergence): add-one-smoothed unigram KL and
    # JSD over the corpus vocabulary — the "which slice drifted"
    # diagnostic for training-mix composition. The oracle replays the
    # identical smoothing and sums over the same |sources|x|V| grid.
    """WITH toks AS (
  SELECT source AS g, w FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> ''),
vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
bg AS (SELECT g, w, COUNT(*) AS cg FROM toks GROUP BY 1, 2),
gt AS (SELECT g, COUNT(*) AS ng FROM toks GROUP BY 1),
sc AS (SELECT COUNT(*)::DOUBLE AS v, SUM(c)::DOUBLE AS n FROM vocab),
grid AS (
  SELECT gt.g, gt.ng, vocab.c, COALESCE(bg.cg, 0) AS cg, sc.v, sc.n
  FROM vocab CROSS JOIN gt
  LEFT JOIN bg ON bg.g = gt.g AND bg.w = vocab.w
  CROSS JOIN sc),
p AS (SELECT g, ng,
             (cg + 1.0) / (ng + v) AS pg,
             (c + 1.0) / (n + v) AS pc
      FROM grid)
SELECT g AS source, MAX(ng)::BIGINT AS n_tokens,
       ROUND(SUM(pg * ln(pg / pc)), 6) AS kl,
       ROUND(SUM(0.5 * pg * ln(2 * pg / (pg + pc))
                 + 0.5 * pc * ln(2 * pc / (pg + pc))), 6) AS jsd
FROM p GROUP BY 1 ORDER BY source;""",
)
def x122(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import mixture_divergence

    docs = load_table(spark, sf_dir, "documents")
    return mixture_divergence(docs, "source").select(
        "source",
        "n_tokens",
        F.round("kl", 6).alias("kl"),
        F.round("jsd", 6).alias("jsd"),
    ).orderBy("source")


@_declare(
    "X123_hybrid_rrf_search",
    # Hybrid retrieval: BM25 top-50 (lexical, X89's query) fused with
    # dense cosine top-50 against the label-0 centroid via reciprocal-
    # rank fusion (search.rrf_fuse, Cormack et al. 2009). doc_id and
    # vec_id share a domain in the fixtures, so the two lists fuse
    # directly. Ranks are (score desc, id asc) in both engines; the
    # oracle replays BM25 arithmetic, the per-dimension centroid mean,
    # list_cosine_similarity, and the same 1/(60+rank) sum.
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term FROM documents),
qtf AS (SELECT term, doc_id, COUNT(*)::DOUBLE AS tf FROM toks
        WHERE term IN ('spark','join','vector') GROUP BY 1,2),
qdf AS (SELECT term, COUNT(*)::DOUBLE AS df FROM qtf GROUP BY 1),
dl AS (SELECT doc_id, len(string_split(lower(text),' '))::DOUBLE AS dl FROM documents),
st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM dl),
lexsc AS (SELECT qtf.doc_id AS doc_id,
              SUM( ln(1 + (n_docs - df + 0.5)/(df + 0.5))
                   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) ) AS s
       FROM qtf JOIN qdf USING(term) JOIN dl ON qtf.doc_id = dl.doc_id CROSS JOIN st
       GROUP BY 1),
lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk
        FROM lexsc ORDER BY s DESC, doc_id LIMIT 50),
dims AS (SELECT vec_id, p, embedding[p+1]::DOUBLE AS v
         FROM embeddings, UNNEST(range(len(embedding))) AS u(p)),
cent AS (SELECT p, AVG(v) AS cv FROM dims
         WHERE vec_id IN (SELECT vec_id FROM embeddings WHERE label = 0)
         GROUP BY p),
centv AS (SELECT list(cv ORDER BY p) AS qv FROM cent),
den AS (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS s
        FROM embeddings CROSS JOIN centv),
dense AS (SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS rnk
          FROM den ORDER BY s DESC, vec_id LIMIT 50),
u AS (SELECT doc_id, rnk FROM lex UNION ALL SELECT doc_id, rnk FROM dense),
f AS (SELECT doc_id, SUM(1.0/(60 + rnk)) AS rrf, COUNT(*) AS n_lists FROM u GROUP BY 1)
SELECT doc_id, ROUND(rrf, 6) AS rrf, n_lists::BIGINT AS n_lists
FROM f ORDER BY rrf DESC, doc_id LIMIT 20;""",
)
def x123(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import bm25_topk, rrf_fuse
    from swivel_spark_prep_spark.operators.similarity import (
        _dot,
        _norm2,
        with_double_embedding,
    )

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_topk(docs, ["spark", "join", "vector"], k=50)
    emb = with_double_embedding(load_table(spark, sf_dir, "embeddings"))
    # label-0 centroid, built distributively: posexplode -> per-dim avg
    # -> one array row, broadcast back (never collected to the driver)
    cent = (
        emb.filter(F.col("label") == 0)
        .select(F.posexplode("_emb").alias("p", "v"))
        .groupBy("p")
        .agg(F.avg("v").alias("cv"))
        .agg(F.array_sort(F.collect_list(F.struct("p", "cv"))).alias("ps"))
        .select(F.transform("ps", lambda s: s.cv).alias("qv"))
    )
    dense = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn(
            "score", _dot("_emb", "qv") / F.sqrt(_norm2("_emb") * _norm2("qv"))
        )
        .select(F.col("vec_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )
    return (
        rrf_fuse({"lex": lex, "dense": dense}, k_rrf=60, k=20)
        .select("doc_id", F.round("rrf", 6).alias("rrf"), "n_lists")
    )


@_declare(
    "X124_kfold_assign",
    # Deterministic k-fold CV assignment (sampling.kfold_assign): fold =
    # md5 bucket of the key — disjoint, engine-reproducible, stable
    # under corpus growth; per-fold size + per-fold lang mix as the
    # accounting readout. The oracle replays the identical bucketing.
    """SELECT fold, COUNT(*) AS n,
       SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
       MIN(doc_id) AS min_id
FROM (SELECT doc_id, lang,
             ('0x' || substr(md5('kfold' || doc_id::VARCHAR), 1, 8))::BIGINT % 5 AS fold
      FROM documents)
GROUP BY fold ORDER BY fold;""",
)
def x124(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("fold")
    )


@_declare(
    "X125_count_min_sketch",
    # Count-min sketch point queries (heavyhitters.cms_build/estimate,
    # Cormode & Muthukrishnan 2005): 4x1024 md5-hashed counter cells —
    # O(depth*width) mergeable state however large the corpus — probed
    # for 5 tokens incl. an unseen one, with the exact counts and the
    # (always >= 0) overcount alongside. The oracle replays the
    # identical hashing, cells, and min.
    """WITH toks AS (
  SELECT tok FROM (SELECT unnest(string_split(lower(text),' ')) AS tok FROM documents)
  WHERE tok <> ''),
cells AS (
  SELECT d, ('0x' || substr(md5('cms' || d || '|' || tok), 1, 8))::BIGINT % 1024 AS col,
         COUNT(*) AS cnt
  FROM toks, UNNEST([0,1,2,3]) AS u(d) GROUP BY 1, 2),
q AS (SELECT unnest(['spark','join','the','a','zebra']) AS tok),
probes AS (
  SELECT q.tok, d, ('0x' || substr(md5('cms' || d || '|' || q.tok), 1, 8))::BIGINT % 1024 AS col
  FROM q, UNNEST([0,1,2,3]) AS u(d)),
est AS (SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS est
        FROM probes p LEFT JOIN cells c USING (d, col) GROUP BY 1),
ex AS (SELECT tok, COUNT(*) AS exact FROM toks GROUP BY 1)
SELECT e.tok AS token, est::BIGINT AS est, COALESCE(ex.exact, 0)::BIGINT AS exact,
       (est - COALESCE(ex.exact, 0))::BIGINT AS overcount
FROM est e LEFT JOIN ex ON ex.tok = e.tok ORDER BY token;""",
)
def x125(spark, sf_dir):
    from swivel_spark_prep_spark.cache import track_persist
    from swivel_spark_prep_spark.operators.heavyhitters import (
        cms_build,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the token stream feeds both the sketch and the exact recount —
    # one persisted explode instead of two
    toks = track_persist(
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("token")
        ).filter(F.col("token") != "")
    )
    cms = cms_build(toks, "token", width=1024, depth=4)
    queries = spark.createDataFrame(
        [("spark",), ("join",), ("the",), ("a",), ("zebra",)], "token string"
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("exact"))
    return (
        cms_estimate(cms, queries, "token", width=1024, depth=4)
        .join(exact, "token", "left")
        .select(
            "token",
            "est",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            (F.col("est") - F.coalesce("exact", F.lit(0))).alias("overcount"),
        )
        .orderBy("token")
    )


@_declare(
    "X126_xml_roundtrip",
    # XML sink + source round-trip (sinks.write_xml / sources.read_xml,
    # Spark 4's upstreamed spark-xml): write a documents slice as
    # element-per-row XML, read it back with an explicit schema,
    # aggregate — the legacy-feed interchange path. Oracle aggregates
    # the parquet directly.
    """SELECT lang, COUNT(*) AS n, SUM(n_chars)::BIGINT AS chars,
       MIN(doc_id) AS min_id
FROM documents GROUP BY lang ORDER BY lang;""",
)
def x126(spark, sf_dir):
    from swivel_spark_prep_spark import sinks, sources

    path = _io_dir(sf_dir, "documents_xml")
    sinks.write_xml(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        path,
        row_tag="doc",
        root_tag="docs",
    )
    back = sources.read_xml(
        spark, path, row_tag="doc", schema="doc_id bigint, lang string, n_chars bigint"
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("lang")
    )


@_declare(
    "X127_matryoshka_stats",
    # Matryoshka-truncation accounting (similarity.matryoshka_stats,
    # Kusupati et al. 2022): cos(zero-padded prefix, full) =
    # |e[:d]|/|e| per vector; per-(label, d) mean and min for
    # d in {8,16,32} — the "how small can stored embeddings get"
    # readout. Pure projection + one aggregate; oracle replays the
    # identical slice/norm arithmetic.
    """WITH b AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT label, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS fn FROM b),
l AS (SELECT label, d,
             sqrt(list_sum(list_transform(e[1:d], x -> x*x))) / fn AS ratio
      FROM n, UNNEST([8, 16, 32]) AS u(d))
SELECT label AS grp, d AS trunc_dim,
       ROUND(AVG(ratio), 6) AS mean_ratio, ROUND(MIN(ratio), 6) AS min_ratio
FROM l GROUP BY 1, 2 ORDER BY grp, trunc_dim;""",
)
def x127(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import matryoshka_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        matryoshka_stats(emb, [8, 16, 32])
        .select(
            "grp",
            "trunc_dim",
            F.round("mean_ratio", 6).alias("mean_ratio"),
            F.round("min_ratio", 6).alias("min_ratio"),
        )
        .orderBy("grp", "trunc_dim")
    )


@_declare(
    "X128_moment_aggs",
    # Aggregate-function breadth: population skewness / excess kurtosis
    # (Spark's formulas — the oracle computes the same g1/g2 from raw
    # power sums because DuckDB's builtins apply sample-bias
    # correction), plus count_if / bool_and / bool_or. Rounded to 3 dp:
    # the power-sum route loses ~2 digits to cancellation vs Spark's
    # streaming central-moment updates.
    """WITH a AS (
  SELECT event_type, COUNT(*)::DOUBLE AS n, SUM(value) AS s1,
         SUM(value*value) AS s2, SUM(value*value*value) AS s3,
         SUM(value*value*value*value) AS s4,
         SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)::BIGINT AS n_gt100,
         BOOL_AND(value >= 0) AS all_nonneg, BOOL_OR(value > 400) AS any_gt400
  FROM events GROUP BY 1),
m AS (SELECT event_type, n, n_gt100, all_nonneg, any_gt400,
             s2 - n*(s1/n)*(s1/n) AS m2,
             s3 - 3*(s1/n)*s2 + 2*n*pow(s1/n, 3) AS m3,
             s4 - 4*(s1/n)*s3 + 6*pow(s1/n, 2)*s2 - 3*n*pow(s1/n, 4) AS m4
      FROM a)
SELECT event_type, n::BIGINT AS n, n_gt100, all_nonneg, any_gt400,
       ROUND((m3/n) / pow(m2/n, 1.5), 3) AS skew,
       ROUND((m4/n) / pow(m2/n, 2) - 3, 3) AS kurt
FROM m ORDER BY event_type;""",
)
def x128(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("value") > 100).alias("n_gt100"),
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 400).alias("any_gt400"),
            F.round(F.skewness("value"), 3).alias("skew"),
            F.round(F.kurtosis("value"), 3).alias("kurt"),
        )
        .select(
            "event_type", "n", "n_gt100", "all_nonneg", "any_gt400", "skew", "kurt"
        )
        .orderBy("event_type")
    )


@_declare(
    "X129_scd2_history",
    # SCD type-2 dimension history from a change feed (upsert.scd2_build)
    # — the warehouse consumer of the X63/X66 CDC feeds. Feed derived
    # from orders (version = o_orderkey per customer; 'F' status plays
    # the delete): each I/U opens [v, next_v), any successor closes it,
    # D closes without opening. ONE lead() window on the dimension key.
    """WITH ch AS (SELECT o_custkey AS cust, o_orderkey AS v,
                   CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                   o_totalprice AS price FROM orders),
w AS (SELECT cust, v, op, price,
             LEAD(v) OVER (PARTITION BY cust ORDER BY v) AS nv FROM ch)
SELECT cust, v AS valid_from, nv AS valid_to, nv IS NULL AS is_current, price
FROM w WHERE op <> 'D' ORDER BY cust, valid_from;""",
)
def x129(spark, sf_dir):
    from swivel_spark_prep_spark.operators.upsert import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("v"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    return scd2_build(changes, ["cust"], "v", ["price"]).orderBy(
        "cust", "valid_from"
    )


@_declare(
    "X130_negative_samples",
    # Deterministic cross-label negative sampling for contrastive
    # training (sampling.negative_samples): 3 negatives per anchor from
    # a 50-per-label md5-ranked pool, chosen by md5(anchor|cand) rank —
    # reproducible, self-label excluded, pool BROADCAST so anchors
    # never join the whole corpus. The oracle replays both rankings.
    """WITH pool AS (
  SELECT neg_id, neg_label FROM (
    SELECT vec_id AS neg_id, label AS neg_label,
           ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY md5('neg' || vec_id::VARCHAR), vec_id) AS pr
    FROM embeddings) WHERE pr <= 50),
cand AS (
  SELECT a.vec_id, a.label, p.neg_id, p.neg_label,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
           ORDER BY md5('neg' || a.vec_id::VARCHAR || '|' || p.neg_id::VARCHAR), p.neg_id) AS rnk
  FROM embeddings a CROSS JOIN pool p WHERE a.label <> p.neg_label)
SELECT vec_id, label, neg_id, neg_label, rnk
FROM cand WHERE rnk <= 3 ORDER BY vec_id, rnk;""",
)
def x130(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import negative_samples

    emb = load_table(spark, sf_dir, "embeddings")
    return negative_samples(emb, k=3, pool_per_label=50).orderBy("vec_id", "rnk")


@_declare(
    "X131_span_corruption",
    # Deterministic T5-style span-corruption plan (chunking.
    # span_corruption_spec): one 3-token span per full 20-token block at
    # an md5 offset — non-overlapping by construction, 15% corruption
    # rate, placement a pure function of (doc, block). The oracle
    # replays the identical arithmetic (offset domain 20-3+1 = 18).
    """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents),
b AS (SELECT doc_id, p AS span_id FROM t, UNNEST(range(n // 20)) AS u(p)),
o AS (SELECT doc_id, span_id,
             ('0x' || substr(md5('spancorr' || doc_id::VARCHAR || '|' || span_id::VARCHAR), 1, 8))::BIGINT % 18 AS off
      FROM b)
SELECT doc_id, span_id::BIGINT AS span_id,
       (span_id * 20 + off)::BIGINT AS start, 3::BIGINT AS length
FROM o ORDER BY doc_id, span_id;""",
)
def x131(spark, sf_dir):
    from swivel_spark_prep_spark.operators.chunking import span_corruption_spec

    docs = load_table(spark, sf_dir, "documents")
    return (
        span_corruption_spec(docs, block=20, span_len=3)
        .select(
            "doc_id",
            F.col("span_id").cast("long").alias("span_id"),
            "start",
            "length",
        )
        .orderBy("doc_id", "span_id")
    )


@_declare(
    "X132_crossval_label_audit",
    # Cross-validated label-noise audit (lm.nb_crossval_audit): every
    # doc scored by the NB trigram classifier trained WITHOUT its own
    # md5 fold — one corpus aggregation + fold-difference algebra on
    # the count tables instead of k trainings. The oracle replays the
    # fold assignment, the leave-fold-out counts/vocab/priors and the
    # argmax (ties by label asc); parity pins the argmax, the
    # engine-stable surface.
    """WITH base AS (
  SELECT doc_id, lang, text,
         ('0x' || substr(md5('kfold' || doc_id::VARCHAR), 1, 8))::BIGINT % 5 AS fold
  FROM documents),
tg AS (
  SELECT doc_id, fold, lang AS y,
         unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                               i -> substr(text, i, 3))) AS t
  FROM base),
c_all AS (SELECT y, t, COUNT(*) AS ca FROM tg GROUP BY 1, 2),
c_fold AS (SELECT fold, y, t, COUNT(*) AS cf FROM tg GROUP BY 1, 2, 3),
n_all AS (SELECT y, COUNT(*) AS na FROM tg GROUP BY 1),
n_fold AS (SELECT fold, y, COUNT(*) AS nf FROM tg GROUP BY 1, 2),
spread AS (SELECT t, COUNT(DISTINCT fold) AS nfolds, MIN(fold) AS onef
           FROM tg GROUP BY 1),
v_all AS (SELECT COUNT(*)::DOUBLE AS va FROM spread),
v_excl AS (SELECT onef AS fold, COUNT(*) AS ve FROM spread
           WHERE nfolds = 1 GROUP BY 1),
folds AS (SELECT DISTINCT fold FROM base),
v_f AS (SELECT f.fold, va - COALESCE(ve, 0) AS vf
        FROM folds f LEFT JOIN v_excl x ON x.fold = f.fold CROSS JOIN v_all),
ly AS (SELECT f.fold, a.y, (a.na - COALESCE(nf.nf, 0))::DOUBLE AS nyf
       FROM folds f CROSS JOIN n_all a
       LEFT JOIN n_fold nf ON nf.fold = f.fold AND nf.y = a.y),
lyp0 AS (SELECT * FROM ly WHERE nyf > 0),
pri AS (SELECT fold, SUM(nyf) AS pn FROM lyp0 GROUP BY 1),
lyp AS (SELECT l.fold, l.y AS cand, l.nyf, ln(l.nyf / p.pn) AS lprior, v.vf
        FROM lyp0 l JOIN pri p ON p.fold = l.fold JOIN v_f v ON v.fold = l.fold),
doc_t AS (SELECT doc_id, fold, t, COUNT(*) AS cd FROM tg GROUP BY 1, 2, 3),
scored AS (
  SELECT d.doc_id, d.fold, m.cand,
         SUM(d.cd * ln((COALESCE(ca.ca, 0) - COALESCE(cf.cf, 0) + 1.0)
                        / (m.nyf + m.vf))) + ANY_VALUE(m.lprior) AS p
  FROM doc_t d
  JOIN lyp m ON m.fold = d.fold
  LEFT JOIN c_all ca ON ca.y = m.cand AND ca.t = d.t
  LEFT JOIN c_fold cf ON cf.fold = d.fold AND cf.y = m.cand AND cf.t = d.t
  GROUP BY d.doc_id, d.fold, m.cand),
no_tri AS (
  SELECT b.doc_id, b.fold, m.cand, m.lprior AS p
  FROM base b JOIN lyp m ON m.fold = b.fold
  WHERE b.doc_id NOT IN (SELECT DISTINCT doc_id FROM doc_t)),
allsc AS (SELECT * FROM scored UNION ALL SELECT * FROM no_tri),
pred AS (SELECT doc_id, fold, cand AS pred,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p DESC, cand) AS rn
         FROM allsc)
SELECT b.doc_id, b.lang AS label, pr.pred, b.fold, b.lang <> pr.pred AS mismatch
FROM pred pr JOIN base b ON b.doc_id = pr.doc_id
WHERE pr.rn = 1 ORDER BY b.doc_id;""",
)
def x132(spark, sf_dir):
    from swivel_spark_prep_spark.operators.lm import nb_crossval_audit

    docs = load_table(spark, sf_dir, "documents")
    return nb_crossval_audit(docs, k=5).orderBy("doc_id")


@_declare(
    "X133_hard_negatives",
    # Hard-negative mining (similarity.hard_negatives): for ~20 anchors
    # (label 0, vec_id % 5 = 0), the 5 most-cosine-similar DIFFERENT-
    # label vectors — one corpus scan, one (batch x anchors) BLAS
    # matmul per Arrow batch with the label mask inside the scan. The
    # oracle is the brute-force all-pairs twin.
    """WITH a AS (SELECT vec_id AS anchor_id, label AS ql, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE label = 0 AND vec_id % 5 = 0),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
s AS (SELECT a.anchor_id, c.vec_id, list_cosine_similarity(c.e, a.qe) AS sim
      FROM a JOIN c ON c.label <> a.ql),
r AS (SELECT anchor_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rnk
      FROM s)
SELECT anchor_id, vec_id AS neg_id, ROUND(sim, 4) AS sim, rnk::BIGINT AS rnk
FROM r WHERE rnk <= 5 ORDER BY anchor_id, rnk;""",
)
def x133(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        hard_negatives(
            emb,
            (F.col("label") == 0) & (F.col("vec_id") % 5 == 0),
            k=5,
        )
        .select(
            "anchor_id",
            "neg_id",
            F.round("sim", 4).alias("sim"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("anchor_id", "rnk")
    )


@_declare(
    "X134_token_budget_waterfill",
    # Token-budget waterfilling (sampling.token_budget_allocation):
    # alloc_s = min(n_s, λ·p_s) with Σ alloc = 20000 and temperature-2
    # shares p_s ∝ √n_s — λ in CLOSED FORM via prefix sums over the
    # saturation order (no iterative search), windows only on the
    # |sources|-row counts relation. The oracle replays the identical
    # prefix-sum construction.
    """WITH c AS (SELECT source, SUM(len(string_split(lower(text), ' ')))::DOUBLE AS n
           FROM documents GROUP BY 1),
b AS (SELECT source, n, pow(n, 0.5) AS p FROM c),
t AS (SELECT SUM(n) AS tn, SUM(p) AS tp FROM b),
r AS (SELECT b.*, tn, tp, n / p AS rr FROM b CROSS JOIN t),
w AS (SELECT *, SUM(n) OVER (ORDER BY rr, source) AS cn,
               SUM(p) OVER (ORDER BY rr, source) AS cp FROM r),
f AS (SELECT *, CASE WHEN tp - cp > 0 THEN rr <= (20000 - cn) / (tp - cp)
                     ELSE 20000 >= tn END AS sat_here FROM w),
g AS (SELECT *, MIN(CASE WHEN sat_here THEN 1 ELSE 0 END)
                  OVER (ORDER BY rr, source) = 1 AS sat FROM f),
l AS (SELECT (20000 - COALESCE(SUM(CASE WHEN sat THEN n END), 0))
             / NULLIF(ANY_VALUE(tp) - COALESCE(SUM(CASE WHEN sat THEN p END), 0), 0) AS lam
      FROM g)
SELECT source, n::BIGINT AS n_tokens, ROUND(p / tp, 6) AS weight,
       ROUND(CASE WHEN sat THEN n ELSE lam * p END, 2) AS alloc_tokens,
       sat AS saturated
FROM g CROSS JOIN l ORDER BY source;""",
)
def x134(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import token_budget_allocation

    docs = load_table(spark, sf_dir, "documents")
    return (
        token_budget_allocation(docs, budget=20000, temperature=2.0)
        .select(
            "source",
            "n_tokens",
            F.round("weight", 6).alias("weight"),
            F.round("alloc_tokens", 2).alias("alloc_tokens"),
            "saturated",
        )
        .orderBy("source")
    )


@_declare(
    "X135_retrieval_eval",
    # TREC-style retrieval evaluation (search.retrieval_metrics):
    # Recall@10 / MRR@10 / binary nDCG@10 per query, run = each
    # label-0 anchor's cosine top-10 (self excluded), qrels = same-
    # label membership. One (query, doc) join + two grouped
    # aggregates; the IDCG series is a codegen aggregate(sequence(..))
    # expression. The oracle replays run construction and metric
    # arithmetic.
    """WITH a AS (SELECT vec_id AS query_id, label AS ql, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE label = 0 AND vec_id % 5 = 0),
s AS (SELECT a.query_id, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], a.qe) AS sim
      FROM a JOIN embeddings e ON e.vec_id <> a.query_id),
r AS (SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
      FROM s),
res AS (SELECT * FROM r WHERE rnk <= 10),
q AS (SELECT a.query_id, e.vec_id FROM a
      JOIN embeddings e ON e.label = a.ql AND e.vec_id <> a.query_id),
tot AS (SELECT query_id, COUNT(*) AS n_rel FROM q GROUP BY 1),
h AS (SELECT res.query_id,
             SUM(CASE WHEN q.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
             MAX(CASE WHEN q.vec_id IS NOT NULL THEN 1.0 / rnk END) AS mrr,
             SUM(CASE WHEN q.vec_id IS NOT NULL THEN 1.0 / log2(rnk + 1.0) END) AS dcg
      FROM res LEFT JOIN q ON q.query_id = res.query_id AND q.vec_id = res.vec_id
      GROUP BY 1)
SELECT t.query_id, n_rel::BIGINT AS n_rel,
       ROUND(COALESCE(hits, 0)::DOUBLE / n_rel, 6) AS recall,
       ROUND(COALESCE(mrr, 0), 6) AS mrr,
       ROUND(COALESCE(dcg, 0)
             / list_sum(list_transform(range(1, least(n_rel, 10) + 1),
                                       i -> 1.0 / log2(i + 1.0))), 6) AS ndcg
FROM tot t LEFT JOIN h ON h.query_id = t.query_id ORDER BY t.query_id;""",
)
def x135(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import retrieval_metrics
    from swivel_spark_prep_spark.operators.similarity import (
        _dot,
        _norm2,
        with_double_embedding,
    )
    from pyspark.sql.window import Window

    emb = with_double_embedding(load_table(spark, sf_dir, "embeddings"))
    anchors = emb.filter(
        (F.col("label") == 0) & (F.col("vec_id") % 5 == 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("__ql"),
        F.col("_emb").alias("__qe"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "__sim",
            _dot("_emb", "__qe") / F.sqrt(_norm2("_emb") * _norm2("__qe")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("vec_id"))
    results = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "rank")
    )
    qrels = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .crossJoin(F.broadcast(anchors.select("query_id", "__ql")))
        .filter(
            (F.col("label") == F.col("__ql"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select("query_id", "vec_id", F.lit(1).alias("rel"))
    )
    return (
        retrieval_metrics(
            results, qrels, k=10, query_col="query_id", doc_col="vec_id",
            rank_col="rank", rel_col="rel",
        )
        .select(
            "query_id",
            "n_rel",
            F.round("recall", 6).alias("recall"),
            F.round("mrr", 6).alias("mrr"),
            F.round("ndcg", 6).alias("ndcg"),
        )
        .orderBy("query_id")
    )


@_declare(
    "X136_diversity_scores",
    # Distinct-n lexical diversity per source (textstats.diversity_
    # scores, Li et al. 2016): |distinct n-grams| / |n-grams| for
    # n in {1,3} — the template/repetition flag a diversity-aware mix
    # downweights. One exploded aggregate per n.
    """WITH tok AS (SELECT source, string_split(lower(text), ' ') AS arr FROM documents),
uni AS (SELECT source, t FROM (SELECT source, unnest(arr) AS t FROM tok) WHERE t <> ''),
tri AS (SELECT source, arr[p+1] || ' ' || arr[p+2] || ' ' || arr[p+3] AS g
        FROM tok, UNNEST(range(len(arr) - 2)) AS u(p)),
u1 AS (SELECT source, COUNT(*) AS n1, COUNT(DISTINCT t) AS d1 FROM uni GROUP BY 1),
u3 AS (SELECT source, COUNT(*) AS n3, COUNT(DISTINCT g) AS d3 FROM tri GROUP BY 1)
SELECT u1.source, n1::BIGINT AS n_tokens,
       ROUND(d1::DOUBLE / n1, 6) AS distinct1,
       ROUND(d3::DOUBLE / n3, 6) AS distinct3
FROM u1 LEFT JOIN u3 USING (source) ORDER BY source;""",
)
def x136(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import diversity_scores

    docs = load_table(spark, sf_dir, "documents")
    return (
        diversity_scores(docs, "source")
        .select(
            "source",
            "n_tokens",
            F.round("distinct1", 6).alias("distinct1"),
            F.round("distinct3", 6).alias("distinct3"),
        )
        .orderBy("source")
    )


@_declare(
    "X137_tfidf_cosine_pairs",
    # Exact TF-IDF cosine top-20 pairs over the df<=50-pruned vector
    # space (search.tfidf_cosine_pairs) — the VSM similarity family
    # next to MinHash shingles (X06) and dense embeddings (X05). The
    # df prune IS the vector space (near-zero-idf terms dropped), so
    # the posting self-join is bounded by rare-term df^2 and the score
    # is exact within the space. Oracle replays weights, norms, join.
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
tf AS (SELECT term, doc_id, COUNT(*)::DOUBLE AS tf FROM toks
       WHERE term <> '' GROUP BY 1, 2),
nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM documents),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 50),
w AS (SELECT tf.term, doc_id AS d, tf.tf * ln(n / df) AS w
      FROM tf JOIN dfr USING (term) CROSS JOIN nd),
nr AS (SELECT d, sqrt(SUM(w * w)) AS nn FROM w GROUP BY 1),
dots AS (SELECT a.d AS d1, b.d AS d2, SUM(a.w * b.w) AS dot
         FROM w a JOIN w b ON a.term = b.term AND a.d < b.d GROUP BY 1, 2),
s AS (SELECT d1, d2, dot / (x.nn * y.nn) AS sim
      FROM dots JOIN nr x ON x.d = d1 JOIN nr y ON y.d = d2)
SELECT d1, d2, ROUND(sim, 4) AS sim FROM s ORDER BY sim DESC, d1, d2 LIMIT 20;""",
)
def x137(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, k=20, max_df=50).select(
        "d1", "d2", F.round("sim", 4).alias("sim")
    )


@_declare(
    "X138_query_expansion_rm3",
    # Pseudo-relevance-feedback expansion (search.expand_query_rm3, the
    # RM3 idea): BM25 top-10 for X89's query, feedback terms scored
    # Σ tf·ln(N/df), query terms and df>390 ubiquity dropped, top 10
    # (the fixture vocabulary is ~31 terms with df 25..402 — 390 keeps
    # the discriminative half).
    # Everything past the BM25 stage is feedback-set-sized; the small
    # side is what broadcasts. The oracle replays the BM25 ranking and
    # the expansion arithmetic.
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term FROM documents),
qtf AS (SELECT term, doc_id, COUNT(*)::DOUBLE AS tf FROM toks
        WHERE term IN ('spark','join','vector') GROUP BY 1,2),
qdf AS (SELECT term, COUNT(*)::DOUBLE AS df FROM qtf GROUP BY 1),
dl AS (SELECT doc_id, len(string_split(lower(text),' '))::DOUBLE AS dl FROM documents),
st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM dl),
lexsc AS (SELECT qtf.doc_id AS doc_id,
              SUM( ln(1 + (n_docs - df + 0.5)/(df + 0.5))
                   * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) ) AS s
       FROM qtf JOIN qdf USING(term) JOIN dl ON qtf.doc_id = dl.doc_id CROSS JOIN st
       GROUP BY 1),
fb AS (SELECT doc_id FROM lexsc ORDER BY s DESC, doc_id LIMIT 10),
tf2 AS (SELECT term, t.doc_id, COUNT(*)::DOUBLE AS tf
        FROM toks t JOIN fb USING (doc_id)
        WHERE term NOT IN ('spark','join','vector') AND term <> ''
        GROUP BY 1, 2),
dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
        WHERE term <> '' GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM documents),
sc AS (SELECT tf2.term, SUM(tf * ln(n / df)) AS weight
       FROM tf2 JOIN dfr USING (term) CROSS JOIN nd
       WHERE df <= 390 GROUP BY 1)
SELECT term, ROUND(weight, 4) AS weight
FROM sc ORDER BY weight DESC, term LIMIT 10;""",
)
def x138(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import expand_query_rm3

    docs = load_table(spark, sf_dir, "documents")
    return expand_query_rm3(
        docs, ["spark", "join", "vector"], n_docs_fb=10, n_terms=10, max_df=390
    ).select("term", F.round("weight", 4).alias("weight"))


_PPR_SEEDS = ["s0", "s1", "s2", "s3", "s4", "s5"]


@_declare(
    "X139_personalized_pagerank",
    _graph.pagerank_oracle_sql(
        _PR_EDGES_SQL, iterations=5, damping=0.85, seeds=_PPR_SEEDS
    ),
)
def x139(spark, sf_dir):
    # Personalized PageRank (graph.pagerank with seeds, Haveliwala
    # 2002): teleport + dangling mass concentrate on suppliers s0–s5,
    # so ranks measure proximity to that seed set — the similarity /
    # recommendation reading. Same generated unrolled oracle, seeded
    # teleport CTE included.
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    return (
        _graph.pagerank(edges, iterations=5, damping=0.85, seeds=_PPR_SEEDS)
        .select("node", F.round("pagerank", 8).alias("pagerank"))
        .orderBy("node")
    )


@_declare(
    "X140_association_rules",
    # Pairwise association rules over per-user event-type baskets
    # (timeseries.association_rules, the market-basket classic):
    # support / confidence / lift per ordered pair — self-join fan-out
    # bounded by the ITEM VOCABULARY per basket, marginals broadcast.
    # The oracle replays the identical counting.
    """WITH items AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
nb AS (SELECT COUNT(DISTINCT b)::DOUBLE AS n FROM items),
marg AS (SELECT i, COUNT(*) AS m FROM items GROUP BY 1),
pairs AS (SELECT l.i AS antecedent, r.i AS consequent, COUNT(*) AS n_both
          FROM items l JOIN items r ON l.b = r.b AND l.i <> r.i GROUP BY 1, 2)
SELECT antecedent, consequent, n_both::BIGINT AS n_both,
       ROUND(n_both / n, 6) AS support,
       ROUND(n_both::DOUBLE / ma.m, 6) AS confidence,
       ROUND((n_both::DOUBLE / ma.m) / (mc.m / n), 6) AS lift
FROM pairs JOIN marg ma ON ma.i = antecedent JOIN marg mc ON mc.i = consequent
CROSS JOIN nb ORDER BY antecedent, consequent;""",
)
def x140(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import association_rules

    ev = load_table(spark, sf_dir, "events")
    return (
        association_rules(ev)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round("support", 6).alias("support"),
            F.round("confidence", 6).alias("confidence"),
            F.round("lift", 6).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


@_declare(
    "X141_trimmed_stats",
    # Per-type trimmed mean over the exact [p05, p95] band
    # (quality.trimmed_stats): two passes — grouped exact percentiles
    # broadcast back, then one conditional aggregate; no sort, no
    # window. Spark percentile() and DuckDB quantile_cont share the
    # interpolated-exact definition (the X45 equivalence).
    """WITH c AS (SELECT event_type,
                quantile_cont(value, 0.05) AS p_lo,
                quantile_cont(value, 0.95) AS p_hi
           FROM events GROUP BY 1)
SELECT e.event_type, ROUND(p_lo, 4) AS p_lo, ROUND(p_hi, 4) AS p_hi,
       ROUND(AVG(CASE WHEN value BETWEEN p_lo AND p_hi THEN value END), 4) AS trimmed_mean,
       SUM(CASE WHEN value BETWEEN p_lo AND p_hi THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN value BETWEEN p_lo AND p_hi THEN 0 ELSE 1 END)::BIGINT AS n_clipped
FROM events e JOIN c USING (event_type)
GROUP BY 1, p_lo, p_hi ORDER BY 1;""",
)
def x141(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import trimmed_stats

    ev = load_table(spark, sf_dir, "events")
    return (
        trimmed_stats(ev, "value", "event_type", 0.05, 0.95)
        .select(
            "event_type",
            F.round("p_lo", 4).alias("p_lo"),
            F.round("p_hi", 4).alias("p_hi"),
            F.round("trimmed_mean", 4).alias("trimmed_mean"),
            "n_kept",
            "n_clipped",
        )
        .orderBy("event_type")
    )


@_declare(
    "X142_resample_interpolate",
    # Dense 6-hour resample with LINEAR interpolation (timeseries.
    # resample_interpolate — X91's ffill twin): gaps take the straight
    # line between the surrounding observed bucket means, edges extend
    # flat. Two frames per key + pure-arithmetic lerp; the oracle
    # replays it with IGNORE NULLS frames both directions. Rounding is
    # epsilon-nudged (+1e-9) in BOTH engines: lerp midpoints land
    # EXACTLY on decimal ties (rational bucket means), where Spark's
    # string-decimal HALF_UP and DuckDB's binary rounding disagree —
    # the nudge moves every tie off the knife edge deterministically.
    """WITH b AS (
  SELECT user_id, floor(epoch(ts)/21600)::BIGINT AS bidx, value FROM events),
obs AS (SELECT user_id, bidx, AVG(value) AS m FROM b GROUP BY 1, 2),
spans AS (SELECT user_id, MIN(bidx) AS lo, MAX(bidx) AS hi FROM obs GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket_idx FROM spans),
g AS (SELECT gr.user_id, gr.bucket_idx, obs.m
      FROM grid gr LEFT JOIN obs ON gr.user_id = obs.user_id AND gr.bucket_idx = obs.bidx),
w AS (SELECT user_id, bucket_idx, m,
        last_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_idx
          ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN m IS NOT NULL THEN bucket_idx END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_idx
          ROWS UNBOUNDED PRECEDING) AS pb,
        first_value(m IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_idx
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN m IS NOT NULL THEN bucket_idx END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_idx
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM g)
SELECT user_id, bucket_idx,
       ROUND(CASE WHEN m IS NOT NULL THEN m
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (bucket_idx - pb) / (nb - pb) END + 1e-9, 3) AS value,
       m IS NULL AS interpolated
FROM w ORDER BY user_id, bucket_idx;""",
)
def x142(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    return (
        resample_interpolate(ev, 21600)
        .select(
            "user_id",
            "bucket_idx",
            F.round(F.col("value") + 1e-9, 3).alias("value"),
            "interpolated",
        )
        .orderBy("user_id", "bucket_idx")
    )


@_declare(
    "X143_tokenizer_fertility",
    # Per-language tokenizer fertility (tokens per word) and
    # compression (chars per token) under the fixed BPE merge table —
    # the multilingual diagnostic that decides whether a tokenizer
    # under-serves a language (high fertility = more tokens per word =
    # costlier training/inference for that slice). Composes the X52
    # codegen encoder; the oracle is GENERATED from the same merge
    # table, so parity pins the tokenizer contract.
    f"""WITH m AS (SELECT doc_id, lang, {_BPE_S} AS s,
                len(string_split(text, ' ')) AS n_words,
                length(text) AS n_chars
         FROM documents),
t AS (SELECT lang, (length(s) - length(replace(s, '<', ''))) AS n_tok,
             n_words, n_chars FROM m)
SELECT lang, SUM(n_tok)::BIGINT AS tokens, SUM(n_words)::BIGINT AS words,
       ROUND(SUM(n_tok)::DOUBLE / SUM(n_words), 4) AS fertility,
       ROUND(SUM(n_chars)::DOUBLE / SUM(n_tok), 4) AS chars_per_token
FROM t GROUP BY 1 ORDER BY 1;""",
)
def x143(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            _bpe.bpe_token_count_expr("text", _bpe.DEMO_MERGES).alias("n_tok"),
            F.size(F.split("text", " ")).alias("n_words"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.sum("n_tok").alias("tokens"),
            F.sum("n_words").alias("words"),
            F.round(F.sum("n_tok") / F.sum("n_words"), 4).alias("fertility"),
            F.round(F.sum("n_chars") / F.sum("n_tok"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


@_declare(
    "X144_ddsketch_quantiles",
    # Mergeable quantile sketch (profile.ddsketch_*, Masson et al. 2019
    # DDSketch): per-source p50/p90/p99 of n_chars from the relational
    # bucket-count sketch, plus the '__total__' row obtained by MERGING
    # the per-source sketches (cell-wise count addition — never
    # rescanning the corpus), the percentile twin of X99's HLL rollup.
    # The oracle REPLAYS the same deterministic bucket arithmetic
    # (ln-bucket with the shared 1e-11 ε-nudge and the exact double
    # literals for ln(gamma) / gamma at alpha=0.05), so parity pins the
    # sketch algebra, not a fixture by-product.
    """WITH v AS (SELECT source, n_chars::DOUBLE AS x FROM documents WHERE n_chars IS NOT NULL),
b AS (SELECT source AS g,
             CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sign,
             (CASE WHEN x = 0 THEN 0
                   ELSE CEIL(LN(ABS(x)) / 0.10008345855698263 - 1e-11) END)::BIGINT AS bucket
      FROM v),
s AS (SELECT g, sign, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
u AS (SELECT g, sign, bucket, cnt FROM s
      UNION ALL
      SELECT '__total__', sign, bucket, SUM(cnt) FROM s GROUP BY 2, 3),
c AS (SELECT g, sign, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY sign, sign*bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY g) AS n
      FROM u),
qs AS (SELECT UNNEST([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
hit AS (SELECT g, q, cum,
               CASE WHEN sign = 0 THEN 0.0
                    ELSE sign * 2 * POWER(1.105263157894737, bucket)
                         / 2.105263157894737 END AS est
        FROM c CROSS JOIN qs WHERE cum > FLOOR(q * (n - 1)))
SELECT g, q, ROUND(MIN_BY(est, cum), 4) AS est
FROM hit GROUP BY 1, 2 ORDER BY g, q;""",
)
def x144(spark, sf_dir):
    from swivel_spark_prep_spark.cache import track_persist
    from swivel_spark_prep_spark.operators.profile import (
        ddsketch_build,
        ddsketch_merge,
        ddsketch_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the per-source sketch feeds both the per-group read and the merge
    # — persist the (sources × ~40 buckets)-row grid, not the corpus
    sk = track_persist(ddsketch_build(docs, "n_chars", "source", alpha=0.05))
    both = sk.unionByName(ddsketch_merge(sk))
    return (
        ddsketch_quantiles(both, [0.5, 0.9, 0.99], alpha=0.05)
        .select("g", "q", F.round("est", 4).alias("est"))
        .orderBy("g", "q")
    )


@_declare(
    "X145_funnel",
    # Ordered funnel (timeseries.funnel): view -> click -> purchase
    # within 7 days of the first view — t_i = earliest step-i event at
    # or after t_{i-1}. One filtered per-key MIN per step joined to the
    # previous frontier (|keys|-row relations, hash-partitioned by
    # key); horizon compares with INTERVAL arithmetic on both engines
    # (exact — unix_timestamp truncation would disagree at sub-second
    # boundaries).
    """WITH f1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
f2 AS (SELECT e.user_id, MIN(f.t1) AS t1, MIN(e.ts) AS t2
       FROM events e JOIN f1 f USING (user_id)
       WHERE e.event_type = 'click' AND e.ts >= f.t1
         AND e.ts <= f.t1 + INTERVAL 604800 SECOND
       GROUP BY 1),
f3 AS (SELECT e.user_id, MIN(e.ts) AS t3
       FROM events e JOIN f2 f USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts >= f.t2
         AND e.ts <= f.t1 + INTERVAL 604800 SECOND
       GROUP BY 1)
SELECT 1 AS step, 'view' AS step_name, COUNT(*)::BIGINT AS n_keys FROM f1
UNION ALL
SELECT 2, 'click', COUNT(*)::BIGINT FROM f2
UNION ALL
SELECT 3, 'purchase', COUNT(*)::BIGINT FROM f3
ORDER BY step;""",
)
def x145(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(
        ev,
        ["view", "click", "purchase"],
        horizon_seconds=7 * 86400,
    )


@_declare(
    "X146_zipf_fit",
    # Zipf's-law fit per source (textstats.zipf_fit): least-squares
    # slope/intercept/R^2 of ln(freq) vs ln(rank) over each slice's
    # token frequency table — the template/degenerate-vocabulary flag
    # complementing X136. Rank window runs over per-group VOCABULARY
    # relations; the regression is the built-in regr_* aggregates on
    # both engines.
    """WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS t FROM documents),
c AS (SELECT source, t, COUNT(*)::DOUBLE AS cnt FROM tok WHERE t <> '' GROUP BY 1, 2),
r AS (SELECT source, cnt,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, t ASC) AS rnk
      FROM c)
SELECT source, COUNT(*)::BIGINT AS vocab_size,
       ROUND(REGR_SLOPE(LN(cnt), LN(rnk)), 4) AS slope,
       ROUND(REGR_INTERCEPT(LN(cnt), LN(rnk)), 4) AS intercept,
       ROUND(REGR_R2(LN(cnt), LN(rnk)), 4) AS r2
FROM r GROUP BY 1 ORDER BY 1;""",
)
def x146(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "source").select(
        "source",
        "vocab_size",
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 4).alias("r2"),
    )


@_declare(
    "X147_kmv_distinct_sketch",
    # KMV bottom-k distinct sketch (profile.kmv_build/_merge/_estimate,
    # Bar-Yossef et al. 2002): per-source distinct-token estimates from
    # the 64 smallest 60-bit md5 hashes, plus the '__total__' row whose
    # sketch is the MERGE of the per-source sketches (union, keep 64
    # smallest) — the bottom-k twin of the HLL/DDSketch rollups, with
    # exact counts alongside as the accuracy witness. Every step is
    # deterministic md5 arithmetic the oracle replays.
    """WITH tok AS (SELECT source AS g, unnest(string_split(lower(text), ' ')) AS t FROM documents),
tf AS (SELECT g, t FROM tok WHERE t <> ''),
h AS (SELECT DISTINCT g, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tf),
r AS (SELECT g, hv, ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS pos FROM h),
sk AS (SELECT g, pos, hv FROM r WHERE pos <= 64),
mh AS (SELECT DISTINCT hv FROM sk),
mr AS (SELECT '__total__' AS g, hv, ROW_NUMBER() OVER (ORDER BY hv) AS pos FROM mh),
allsk AS (SELECT g, pos, hv FROM sk UNION ALL SELECT g, pos, hv FROM mr WHERE pos <= 64),
est AS (SELECT g, COUNT(*) AS n, MAX(hv) AS hk FROM allsk GROUP BY 1),
exg AS (SELECT g, COUNT(DISTINCT t)::BIGINT AS n_exact FROM tf GROUP BY 1
        UNION ALL
        SELECT '__total__', COUNT(DISTINCT t)::BIGINT FROM tf)
SELECT e.g,
       (CASE WHEN e.n < 64 THEN e.n
             ELSE ROUND(63 / (e.hk / 1152921504606846976.0)) END)::BIGINT AS n_approx,
       x.n_exact
FROM est e JOIN exg x USING (g) ORDER BY g;""",
)
def x147(spark, sf_dir):
    from swivel_spark_prep_spark.cache import track_persist
    from swivel_spark_prep_spark.operators.profile import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("source").alias("g"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"),
    ).filter(F.col("t") != "")
    toks = track_persist(toks)  # feeds the sketch AND the exact witness
    sk = track_persist(kmv_build(toks, "t", "g", k=64))
    both = sk.unionByName(kmv_merge(sk, k=64))
    exact = (
        toks.groupBy("g")
        .agg(F.countDistinct("t").alias("n_exact"))
        .unionByName(
            toks.agg(
                F.lit("__total__").alias("g"),
                F.countDistinct("t").alias("n_exact"),
            )
        )
    )
    return (
        kmv_estimate(both, k=64)
        .join(exact, "g")
        .select("g", "n_approx", "n_exact")
        .orderBy("g")
    )


@_declare(
    "X148_skew_report",
    # Join-key skew pre-flight (profile.skew_report): the 10 heaviest
    # events.user_id keys with row shares, plus the '__stats__' row
    # (key count, max/mean straggler factor, p50/p99 key sizes) — all
    # computed on the (key, cnt) relation after ONE corpus aggregate.
    """WITH c AS (SELECT user_id::VARCHAR AS key, COUNT(*) AS cnt FROM events GROUP BY 1),
t AS (SELECT SUM(cnt)::DOUBLE AS tot, COUNT(*)::BIGINT AS nk, MAX(cnt)::DOUBLE AS mx,
             AVG(cnt) AS mean, quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
      FROM c),
hot AS (SELECT 'hot_key' AS kind, key, cnt::BIGINT AS cnt,
               ROUND(cnt / t.tot, 6) AS share,
               NULL::BIGINT AS n_keys, NULL::DOUBLE AS max_over_mean,
               NULL::DOUBLE AS p50, NULL::DOUBLE AS p99
        FROM c CROSS JOIN t ORDER BY c.cnt DESC, key ASC LIMIT 10),
st AS (SELECT '__stats__' AS kind, NULL::VARCHAR AS key, NULL::BIGINT AS cnt,
              NULL::DOUBLE AS share, nk AS n_keys,
              ROUND(mx / mean, 4) AS max_over_mean,
              ROUND(p50, 4) AS p50, ROUND(p99, 4) AS p99
       FROM t)
SELECT * FROM hot UNION ALL SELECT * FROM st ORDER BY kind DESC, cnt DESC, key;""",
)
def x148(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top=10).orderBy(
        F.desc("kind"), F.desc("cnt"), "key"
    )


@_declare(
    "X149_quantile_normalize",
    # Cross-source quantile normalization (quality.quantile_normalize):
    # each doc's n_chars becomes its percent_rank INSIDE its source, so
    # one global threshold keeps the same FRACTION of every slice —
    # contrasted per source against the raw global-p75 cut that keeps
    # whole verbose sources and drops terse ones. percent_rank and the
    # interpolating percentile are semantics-identical across engines.
    """WITH d AS (SELECT source, n_chars FROM documents),
t AS (SELECT quantile_cont(n_chars, 0.75) AS thr FROM d),
n AS (SELECT source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS q
      FROM d)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM((n_chars >= t.thr)::INT)::BIGINT AS kept_raw,
       SUM((q >= 0.75)::INT)::BIGINT AS kept_norm
FROM n CROSS JOIN t GROUP BY 1 ORDER BY 1;""",
)
def x149(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    normed = quantile_normalize(docs, "n_chars", "source")
    thr = docs.agg(F.expr("percentile(n_chars, 0.75)").alias("_thr"))
    return (
        normed.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_chars") >= F.col("_thr")).cast("long")).alias(
                "kept_raw"
            ),
            F.sum((F.col("q_norm") >= 0.75).cast("long")).alias("kept_norm"),
        )
        .orderBy("source")
    )


@_declare(
    "X150_binary_auc",
    # Tie-corrected Mann-Whitney AUC (evalmetrics.binary_auc): does doc
    # length rank English docs above the rest? Collapses the corpus to
    # per-distinct-score (n_pos, n_neg) counts; the only window runs
    # over that bounded relation. The oracle replays the identical
    # neg-below + half-ties formula.
    """WITH g AS (SELECT n_chars::DOUBLE AS s, (lang = 'en') AS y FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT s, SUM(y::INT)::BIGINT AS np, SUM((NOT y)::INT)::BIGINT AS nn
      FROM g GROUP BY 1),
cu AS (SELECT s, np, nn,
              COALESCE(SUM(nn) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
       FROM c)
SELECT SUM(np)::BIGINT AS n_pos, SUM(nn)::BIGINT AS n_neg,
       ROUND(SUM(np * (cnb + nn / 2.0)) / (SUM(np) * SUM(nn)), 6) AS auc
FROM cu;""",
)
def x150(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import binary_auc

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("score"), (F.col("lang") == "en").alias("y")
    )
    return binary_auc(scored, "score", "y").select(
        "n_pos", "n_neg", F.round("auc", 6).alias("auc")
    )


@_declare(
    "X151_cohens_kappa",
    # Cohen's kappa (evalmetrics.cohens_kappa) between two cheap length
    # heuristics (chars >= 300 vs tokens >= 45) — the agreement audit
    # before trusting a heuristic labeler. Marginal-product chance
    # correction replayed exactly by the oracle.
    """WITH g AS (SELECT (n_chars >= 300)::VARCHAR AS a,
                 (len(string_split(text, ' ')) >= 45)::VARCHAR AS b
          FROM documents),
b0 AS (SELECT COUNT(*)::BIGINT AS n, AVG((a = b)::INT::DOUBLE) AS po FROM g),
pe AS (SELECT SUM(COALESCE(ca, 0) * COALESCE(cb, 0) / (n::DOUBLE * n)) AS pe
       FROM (SELECT a AS k, COUNT(*) AS ca FROM g GROUP BY 1) ma
       FULL OUTER JOIN (SELECT b AS k, COUNT(*) AS cb FROM g GROUP BY 1) mb
         USING (k)
       CROSS JOIN b0)
SELECT n, ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
       ROUND((po - pe) / (1 - pe), 6) AS kappa
FROM b0 CROSS JOIN pe;""",
)
def x151(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        (F.col("n_chars") >= 300).alias("a"),
        (F.size(F.split("text", " ")) >= 45).alias("b"),
    )
    return cohens_kappa(labeled, "a", "b").select(
        "n",
        F.round("po", 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        F.round("kappa", 6).alias("kappa"),
    )


@_declare(
    "X152_calibration_ece",
    # Reliability diagram + ECE (evalmetrics.calibration_report): a
    # deterministic length-sigmoid pseudo-probability predicting
    # lang='en', bucketed into 10 bins — per-bin confidence vs observed
    # rate plus the '__ece__' summary row. The math, not the model, is
    # what parity pins.
    """WITH g AS (SELECT 1 / (1 + exp(-(n_chars - 350) / 60.0)) AS p, (lang = 'en') AS y
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
b AS (SELECT GREATEST(0, LEAST(9, FLOOR(p * 10)))::BIGINT AS bin, p, y FROM g),
per AS (SELECT bin, COUNT(*)::BIGINT AS n, AVG(p) AS conf,
               AVG(y::INT::DOUBLE) AS acc FROM b GROUP BY 1),
pg AS (SELECT 'bin' AS kind, bin, n, ROUND(conf, 6) AS conf,
              ROUND(acc, 6) AS acc, ROUND(ABS(acc - conf), 6) AS gap FROM per),
e AS (SELECT '__ece__' AS kind, NULL::BIGINT AS bin, SUM(n)::BIGINT AS n,
             NULL::DOUBLE AS conf, NULL::DOUBLE AS acc,
             ROUND(SUM(n * ABS(acc - conf)) / SUM(n), 6) AS gap FROM per)
SELECT * FROM pg UNION ALL SELECT * FROM e ORDER BY kind, bin;""",
)
def x152(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import calibration_report

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr("1 / (1 + exp(-(n_chars - 350) / 60.0))").alias("p"),
        (F.col("lang") == "en").alias("y"),
    )
    return (
        calibration_report(scored, "p", "y", bins=10)
        .select(
            "kind",
            "bin",
            "n",
            F.round("conf", 6).alias("conf"),
            F.round("acc", 6).alias("acc"),
            F.round("gap", 6).alias("gap"),
        )
        .orderBy("kind", "bin")
    )


@_declare(
    "X153_dup_span_burden",
    # Per-source duplicated-substring burden: the corpus-slice rollup
    # of X72's per-doc Lee-et-al ExactSubstr coverage (10-token grams,
    # COMPOSES dedup.duplicate_ngram_spans — no second span operator),
    # answering "which sources carry the boilerplate/memorization
    # weight" for mix decisions. The oracle is the X72 raw-gram twin
    # aggregated per source.
    """WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n_tok
  FROM documents),
g AS (
  SELECT doc_id, source, n_tok, r.i AS pos,
         array_to_string(t[r.i:r.i+9], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 10 + 2)) AS r(i)),
d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (SELECT doc_id, pos FROM g JOIN d USING (gram)),
c AS (
  SELECT doc_id, pos,
         LEAST(10, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 10)) AS contrib
  FROM dp),
pd AS (SELECT doc_id, SUM(contrib) AS covered FROM c GROUP BY doc_id)
SELECT t.source, SUM(t.n_tok)::BIGINT AS n_tok,
       SUM(COALESCE(pd.covered, 0))::BIGINT AS covered_tokens,
       ROUND(SUM(COALESCE(pd.covered, 0))::DOUBLE / SUM(t.n_tok), 6) AS dup_frac
FROM toks t LEFT JOIN pd ON t.doc_id = pd.doc_id
GROUP BY 1 ORDER BY 1;""",
)
def x153(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    per_doc = dedup.duplicate_ngram_spans(docs, n=10)
    src = docs.select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("n_tok"),
            F.sum("covered_tokens").alias("covered_tokens"),
            F.round(
                F.sum("covered_tokens") / F.sum("n_tok"), 6
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


@_declare(
    "X154_priority_sample",
    # Priority sampling (sampling.priority_sample, Duffield-Lund-Thorup
    # 2007): top-50 of documents by n_chars/u with the md5 uniform u,
    # estimator weight max(w, tau) from the 51st priority — the
    # weighted sample whose subset sums stay unbiasedly estimable.
    # Deterministic md5 arithmetic; both engines do bit-identical IEEE
    # division, so the oracle replays values exactly.
    """WITH g AS (SELECT doc_id AS key, n_chars::DOUBLE AS weight,
                 (('0x' || substr(md5('prio' || doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
                   / 1152921504606846976.0 AS u
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
p AS (SELECT key, weight, weight / u AS priority FROM g),
t1 AS (SELECT * FROM p ORDER BY priority DESC, key ASC LIMIT 51),
tau AS (SELECT MIN(priority) AS t FROM t1),
s AS (SELECT * FROM t1 ORDER BY priority DESC, key ASC LIMIT 50)
SELECT key, weight, ROUND(priority, 4) AS priority,
       ROUND(GREATEST(weight, tau.t), 4) AS est
FROM s CROSS JOIN tau ORDER BY key;""",
)
def x154(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        priority_sample(docs, "n_chars", 50, key_col="doc_id")
        .select(
            "key",
            "weight",
            F.round("priority", 4).alias("priority"),
            F.round("est", 4).alias("est"),
        )
        .orderBy("key")
    )


@_declare(
    "X155_fd_violations",
    # Functional-dependency audit (quality.fd_violations): sources
    # whose documents span more than one language — the CFD-style
    # invariant check ("source determines lang" is violated throughout
    # this fixture, which is exactly what the report shows), with
    # min/max witnesses so a repair crew sees concrete conflicts.
    """SELECT source, COUNT(*)::BIGINT AS n_rows,
       COUNT(DISTINCT COALESCE(lang, chr(1) || 'NULL'))::BIGINT AS n_distinct_rhs,
       MIN(lang) AS rhs_min, MAX(lang) AS rhs_max
FROM documents GROUP BY 1 HAVING COUNT(DISTINCT COALESCE(lang, chr(1) || 'NULL')) > 1
ORDER BY 1;""",
)
def x155(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import fd_violations

    docs = load_table(spark, sf_dir, "documents")
    return fd_violations(docs, ["source"], "lang").orderBy("source")


@_declare(
    "X156_benford_digits",
    # Benford first-digit audit (quality.benford_deviation) on
    # l_extendedprice: observed leading-digit shares vs log10(1+1/d)
    # plus the chi-square '__chi2__' summary row. TPC-H prices are
    # uniform-ish, NOT Benford — the large chi2 is the point: the audit
    # flags synthetic numerics loudly.
    """WITH v AS (SELECT l_extendedprice::DOUBLE AS x FROM lineitem WHERE l_extendedprice > 0),
d AS (SELECT FLOOR(x / POWER(10, FLOOR(LOG10(x))))::BIGINT AS digit FROM v),
obs AS (SELECT digit, COUNT(*)::BIGINT AS n FROM d GROUP BY 1),
e AS (SELECT * FROM (VALUES (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)) AS b(digit, exp_p)),
per AS (SELECT e.digit, COALESCE(obs.n, 0)::BIGINT AS n, e.exp_p
        FROM e LEFT JOIN obs USING (digit)),
t AS (SELECT SUM(n)::DOUBLE AS tot FROM per),
pg AS (SELECT per.digit, n, n / t.tot AS obs_p, per.exp_p
       FROM per CROSS JOIN t),
chi AS (SELECT SUM(n)::BIGINT AS n,
               SUM((obs_p - exp_p) * (obs_p - exp_p) / exp_p * t.tot) AS chi2
        FROM pg CROSS JOIN t GROUP BY t.tot)
SELECT 'digit' AS kind, digit, n, ROUND(obs_p, 6) AS obs_p,
       ROUND(exp_p, 6) AS exp_p, NULL::DOUBLE AS chi2 FROM pg
UNION ALL
SELECT '__chi2__', NULL::BIGINT, n, NULL::DOUBLE, NULL::DOUBLE, ROUND(chi2, 4) FROM chi
ORDER BY kind, digit;""",
)
def x156(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import benford_deviation

    li = load_table(spark, sf_dir, "lineitem")
    return (
        benford_deviation(li, "l_extendedprice")
        .select(
            "kind",
            "digit",
            "n",
            F.round("obs_p", 6).alias("obs_p"),
            F.round("exp_p", 6).alias("exp_p"),
            F.round("chi2", 4).alias("chi2"),
        )
        .orderBy("kind", "digit")
    )


@_declare(
    "X157_ks_test",
    # Two-sample Kolmogorov-Smirnov audit (quality.ks_test): are src0
    # and src1 drawn from the same n_chars distribution? D over the
    # per-distinct-value CDF relation (binning-free, unlike PSI), with
    # the Smirnov-scaled statistic alongside.
    """WITH g AS (SELECT n_chars AS v,
                 (source = 'src0')::INT AS a, (source = 'src1')::INT AS b
          FROM documents
          WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')),
c AS (SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM g GROUP BY 1),
cu AS (SELECT SUM(ca) OVER (ORDER BY v) AS cca,
              SUM(cb) OVER (ORDER BY v) AS ccb FROM c),
t AS (SELECT SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM c)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(MAX(ABS(cca / na - ccb / nb)), 6) AS d_stat,
       ROUND(MAX(ABS(cca / na - ccb / nb)) * SQRT(na * nb / (na + nb)), 4) AS ks_stat
FROM cu CROSS JOIN t GROUP BY na, nb;""",
)
def x157(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import ks_test

    docs = load_table(spark, sf_dir, "documents")
    return ks_test(docs, "n_chars", "source", "src0", "src1").select(
        "n_a",
        "n_b",
        F.round("d_stat", 6).alias("d_stat"),
        F.round("ks_stat", 4).alias("ks_stat"),
    )


@_declare(
    "X158_auc_by_source",
    # Per-slice AUC (evalmetrics.binary_auc group_col): does doc length
    # rank English docs above the rest WITHIN each source — the form a
    # curation pipeline actually audits ("is my quality score's ranking
    # power uniform across sources, or carried by one crawl"). The CDF
    # is the grouped two-pass prefix sum (operators/ranks) — no
    # unpartitioned window even though scores are near-continuous. The
    # oracle replays the per-source neg-below + half-ties formula, with
    # the empty-class guard mirrored as CASE.
    """WITH g AS (SELECT source, n_chars::DOUBLE AS s, (lang = 'en') AS y
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT source, s, SUM(y::INT)::BIGINT AS np,
             SUM((NOT y)::INT)::BIGINT AS nn
      FROM g GROUP BY 1, 2),
cu AS (SELECT source, s, np, nn,
              COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
       FROM c)
SELECT source, SUM(np)::BIGINT AS n_pos, SUM(nn)::BIGINT AS n_neg,
       CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
            THEN ROUND(SUM(np * (cnb + nn / 2.0)) / (SUM(np) * SUM(nn)), 6)
       END AS auc
FROM cu GROUP BY source ORDER BY source;""",
)
def x158(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import binary_auc

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(F.col("lang").isNotNull()).select(
        "source",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("y"),
    )
    return (
        binary_auc(scored, "score", "y", group_col="source")
        .select("source", "n_pos", "n_neg", F.round("auc", 6).alias("auc"))
        .orderBy("source")
    )


@_declare(
    "X159_ks_by_lang",
    # Per-slice two-sample KS (quality.ks_test slice_col): the src0-vs-
    # src1 n_chars distribution test REPEATED within every language —
    # "the two crawls agree overall, but do they agree per language?"
    # A slice where either side is empty has NO defined D: NULL stats
    # (CASE in the oracle), never a divide-by-zero. Running CDFs are
    # the grouped two-pass prefix sum (operators/ranks).
    """WITH g AS (SELECT lang, n_chars AS v,
                 (source = 'src0')::INT AS a, (source = 'src1')::INT AS b
          FROM documents
          WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            AND source IN ('src0', 'src1')),
c AS (SELECT lang, v, SUM(a) AS ca, SUM(b) AS cb FROM g GROUP BY 1, 2),
cu AS (SELECT lang,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cca,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS ccb
       FROM c),
t AS (SELECT lang, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb
      FROM c GROUP BY 1)
SELECT lang, na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(MAX(CASE WHEN na > 0 AND nb > 0
                      THEN ABS(cca / na - ccb / nb) END), 6) AS d_stat,
       ROUND(MAX(CASE WHEN na > 0 AND nb > 0
                      THEN ABS(cca / na - ccb / nb) END)
             * SQRT(na * nb / (na + nb)), 4) AS ks_stat
FROM cu JOIN t USING (lang) GROUP BY lang, na, nb ORDER BY lang;""",
)
def x159(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import ks_test

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    return (
        ks_test(docs, "n_chars", "source", "src0", "src1", slice_col="lang")
        .select(
            "lang",
            "n_a",
            "n_b",
            F.round("d_stat", 6).alias("d_stat"),
            F.round("ks_stat", 4).alias("ks_stat"),
        )
        .orderBy("lang")
    )


@_declare(
    "X160_chi2_independence",
    # Pearson chi-square independence + Cramér's V
    # (evalmetrics.chi2_independence) between lang and source — the
    # "are these labels related" audit before stratifying on a pair of
    # columns. Full-grid expected counts (absent cells contribute e —
    # the Benford absent-class lesson); the grid is
    # marginal-cross-marginal, label-cardinality-sized.
    """WITH g AS (SELECT lang::VARCHAR AS a, source::VARCHAR AS b FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL),
o AS (SELECT a, b, COUNT(*)::BIGINT AS o FROM g GROUP BY 1, 2),
ma AS (SELECT a, SUM(o)::BIGINT AS ra FROM o GROUP BY 1),
mb AS (SELECT b, SUM(o)::BIGINT AS cb FROM o GROUP BY 1),
t AS (SELECT SUM(o)::DOUBLE AS n FROM o),
cells AS (SELECT ra, cb, COALESCE(o.o, 0)::DOUBLE AS obs
          FROM ma CROSS JOIN mb LEFT JOIN o ON ma.a = o.a AND mb.b = o.b),
ka AS (SELECT COUNT(*)::BIGINT AS ka FROM ma),
kb AS (SELECT COUNT(*)::BIGINT AS kb FROM mb),
s AS (SELECT MAX(t.n) AS n,
             SUM(POWER(obs - ra * cb / t.n, 2) / (ra * cb / t.n)) AS chi2
      FROM cells CROSS JOIN t)
SELECT n::BIGINT AS n, ((ka - 1) * (kb - 1))::BIGINT AS dof,
       CASE WHEN (ka - 1) * (kb - 1) > 0 THEN ROUND(chi2, 6) END AS chi2,
       CASE WHEN (ka - 1) * (kb - 1) > 0
            THEN ROUND(SQRT(chi2 / (n * (LEAST(ka, kb) - 1))), 6)
       END AS cramers_v
FROM s CROSS JOIN ka CROSS JOIN kb;""",
)
def x160(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import chi2_independence

    docs = load_table(spark, sf_dir, "documents")
    return chi2_independence(docs, "lang", "source").select(
        "n",
        "dof",
        F.round("chi2", 6).alias("chi2"),
        F.round("cramers_v", 6).alias("cramers_v"),
    )


@_declare(
    "X161_mutual_information",
    # Mutual information + sqrt-normalized MI
    # (evalmetrics.mutual_information) between lang and source — the
    # label-redundancy audit (nmi near 1 = one label is a relabeling of
    # the other). Zero cells contribute exactly 0, so the observed-cell
    # relation IS the sum; everything is marginal-sized aggregates.
    """WITH g AS (SELECT lang::VARCHAR AS a, source::VARCHAR AS b FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL),
o AS (SELECT a, b, COUNT(*)::BIGINT AS o FROM g GROUP BY 1, 2),
ma AS (SELECT a, SUM(o)::BIGINT AS ra FROM o GROUP BY 1),
mb AS (SELECT b, SUM(o)::BIGINT AS cb FROM o GROUP BY 1),
t AS (SELECT SUM(o)::DOUBLE AS n FROM o),
ha AS (SELECT -SUM((ra / t.n) * LN(ra / t.n)) AS ha FROM ma CROSS JOIN t),
hb AS (SELECT -SUM((cb / t.n) * LN(cb / t.n)) AS hb FROM mb CROSS JOIN t),
mi AS (SELECT MAX(t.n) AS n,
              SUM((o / t.n) * LN((o / t.n) / ((ra / t.n) * (cb / t.n)))) AS mi
       FROM o JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t)
SELECT n::BIGINT AS n, ROUND(ha, 6) AS h_a, ROUND(hb, 6) AS h_b,
       ROUND(mi, 6) AS mi,
       CASE WHEN ha > 0 AND hb > 0 THEN ROUND(mi / SQRT(ha * hb), 6) END AS nmi
FROM mi CROSS JOIN ha CROSS JOIN hb;""",
)
def x161(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source").select(
        "n",
        F.round("h_a", 6).alias("h_a"),
        F.round("h_b", 6).alias("h_b"),
        F.round("mi", 6).alias("mi"),
        F.round("nmi", 6).alias("nmi"),
    )


@_declare(
    "X162_gini_by_source",
    # Per-source Gini coefficient of document length
    # (quality.gini_coefficient): the concentration audit behind
    # per-source caps — a source whose token mass sits in a few huge
    # docs needs different treatment than an even one. Exact
    # trapezoid-Lorenz over the per-distinct-value relation; the
    # running shares are the grouped two-pass prefix sum
    # (operators/ranks), one pass for both count and mass shares.
    """WITH g AS (SELECT source, n_chars::DOUBLE AS v FROM documents
          WHERE n_chars IS NOT NULL AND n_chars >= 0),
c AS (SELECT source, v, COUNT(*)::BIGINT AS c, SUM(v) AS s FROM g GROUP BY 1, 2),
cu AS (SELECT source, v, c, s,
              COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cc,
              COALESCE(SUM(s) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cs
       FROM c),
t AS (SELECT source, SUM(c)::DOUBLE AS n, SUM(s) AS tot FROM c GROUP BY 1)
SELECT source, n::BIGINT AS n, ROUND(tot, 4) AS total,
       CASE WHEN tot > 0 AND n >= 2 THEN
         ROUND(1 - SUM(((cc + c) / n - cc / n) * ((cs + s) / tot + cs / tot)), 6)
       END AS gini
FROM cu JOIN t USING (source)
GROUP BY source, n, tot ORDER BY source;""",
)
def x162(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import gini_coefficient

    docs = load_table(spark, sf_dir, "documents")
    return (
        gini_coefficient(docs, "n_chars", group_col="source")
        .select(
            "source",
            "n",
            F.round("total", 4).alias("total"),
            F.round("gini", 6).alias("gini"),
        )
        .orderBy("source")
    )


# Round 11 — PII scrub family (operators/pii.py). The driver corpus is
# deliberately PII-free, so both engines append the SAME deterministic
# PII tail (email keyed by doc_id, constant phone/ssn/card, doc_id-keyed
# ipv4) before scanning — the scan must then find EXACTLY the planted
# set, and the redactor must remove all of it. Patterns live in the
# Java∩RE2 regex subset so the oracle replays them verbatim.
_PII_AUG_SQL = """text
  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' ip 10.0.' || (doc_id % 256) || '.42' ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
  || CASE WHEN doc_id % 17 = 0 THEN ' card 4111111111111111' ELSE '' END"""


def _pii_augmented(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-867-5309")).otherwise(
                ""
            ),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ip 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".42"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                ""
            ),
            F.when(
                F.col("doc_id") % 17 == 0, F.lit(" card 4111111111111111")
            ).otherwise(""),
        ),
    )


@_declare(
    "X163_pii_scan",
    # Per-source PII burden over the planted corpus: per-category hit
    # totals + how many docs carry any PII. regexp_count ≡
    # len(regexp_extract_all) — same RE2/Java-portable patterns.
    f"""WITH aug AS (SELECT doc_id, source, {_PII_AUG_SQL} AS text FROM documents),
c AS (SELECT source,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::BIGINT AS e,
  len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))::BIGINT AS s,
  len(regexp_extract_all(text, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b'))::BIGINT AS p,
  len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))::BIGINT AS i,
  len(regexp_extract_all(text, '\\b\\d{{13,16}}\\b'))::BIGINT AS k
  FROM aug)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(e)::BIGINT AS n_email, SUM(s)::BIGINT AS n_ssn,
       SUM(p)::BIGINT AS n_phone, SUM(i)::BIGINT AS n_ipv4,
       SUM(k)::BIGINT AS n_card,
       SUM(CASE WHEN e + s + p + i + k > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii
FROM c GROUP BY source ORDER BY source;""",
)
def x163(spark, sf_dir):
    from swivel_spark_prep_spark.operators.pii import pii_scan

    scanned = pii_scan(_pii_augmented(spark, sf_dir))
    return (
        scanned.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("pii_email").alias("n_email"),
            F.sum("pii_ssn").alias("n_ssn"),
            F.sum("pii_phone").alias("n_phone"),
            F.sum("pii_ipv4").alias("n_ipv4"),
            F.sum("pii_card").alias("n_card"),
            F.sum((F.col("pii_total") > 0).cast("long")).alias("docs_with_pii"),
        )
        .orderBy("source")
    )


@_declare(
    "X164_pii_redact",
    # Redacted-corpus audit: md5 of every planted doc's scrubbed text
    # (placeholder substitution in PII_PATTERNS order) + the residual
    # PII count, which must be 0 everywhere. DuckDB needs the 'g' flag
    # for global regexp_replace (Java replaces all by default).
    f"""WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents),
r AS (SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
          '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
        '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
      '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IPV4>', 'g'),
    '\\b\\d{{13,16}}\\b', '<CARD>', 'g') AS red
  FROM aug WHERE doc_id % 5 = 0 OR doc_id % 7 = 0 OR doc_id % 11 = 0
            OR doc_id % 13 = 0 OR doc_id % 17 = 0)
SELECT doc_id, md5(red) AS redacted_md5,
  (len(regexp_extract_all(red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
   + len(regexp_extract_all(red, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))
   + len(regexp_extract_all(red, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b'))
   + len(regexp_extract_all(red, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
   + len(regexp_extract_all(red, '\\b\\d{{13,16}}\\b')))::BIGINT AS residual_pii
FROM r ORDER BY doc_id;""",
)
def x164(spark, sf_dir):
    from swivel_spark_prep_spark.operators.pii import pii_redact, pii_scan

    planted = _pii_augmented(spark, sf_dir).filter(
        (F.col("doc_id") % 5 == 0)
        | (F.col("doc_id") % 7 == 0)
        | (F.col("doc_id") % 11 == 0)
        | (F.col("doc_id") % 13 == 0)
        | (F.col("doc_id") % 17 == 0)
    )
    red = pii_redact(planted, out_col="red")
    rescanned = pii_scan(red, text_col="red", prefix="res_")
    return rescanned.select(
        "doc_id",
        F.md5(F.col("red")).alias("redacted_md5"),
        F.col("res_total").alias("residual_pii"),
    ).orderBy("doc_id")


@_declare(
    "X165_triangle_stats",
    # Triangle census of the parts-co-ordered-together graph (market-
    # basket co-occurrence): nodes, edges, wedges Σ C(d,2), triangles,
    # transitivity 3T/wedges. Spark runs the degree-ordered orientation
    # (every out-neighborhood O(√m), wedge relation O(m^1.5) worst-case);
    # the oracle counts the same triangles by the u<v<w 3-way self-join
    # DuckDB can afford at test SF. Parity proves the orientation exact.
    """WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (SELECT n, COUNT(*) AS d FROM (
  SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
tri AS (SELECT COUNT(*)::BIGINT AS n_triangles
  FROM e x JOIN e y ON y.u = x.u AND x.v < y.v
  JOIN e z ON z.u = x.v AND z.v = y.v),
s AS (SELECT COUNT(*)::BIGINT AS n_nodes, (SUM(d) / 2)::BIGINT AS n_edges,
             SUM(d * (d - 1) / 2)::BIGINT AS n_wedges FROM deg)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       ROUND(3.0 * n_triangles / n_wedges, 6) AS transitivity
FROM s, tri;""",
)
def x165(spark, sf_dir):
    from swivel_spark_prep_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    )
    return triangle_stats(edges).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round("transitivity", 6).alias("transitivity"),
    )


from swivel_spark_prep_spark.operators.graph import k_core_oracle_sql  # noqa: E402

_KCORE_EDGES_SQL = (
    "SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem"
)


@_declare(
    "X166_k_core",
    # 20-core of the supplier↔part ship graph by iterative peeling
    # (Seidman 1983): drop degree<20 nodes + their edges to fixpoint.
    # The oracle unrolls SIX peel rounds (converges in ≤2 at every test
    # SF; extra rounds are no-ops), so parity also proves the Spark loop
    # reached its fixpoint within the unroll budget.
    k_core_oracle_sql(_KCORE_EDGES_SQL, k=20, rounds=6),
)
def x166(spark, sf_dir):
    from swivel_spark_prep_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    return k_core(edges, k=20).orderBy("node")


@_declare(
    "X167_ndcg",
    # Ranking-quality audit: per-user NDCG@10 of the ranking induced by
    # the event `value` column against graded relevance derived from
    # event_type (purchase 3 > signup 2 > click 1 > view/error 0) —
    # the offline eval a recsys/search curation loop runs. Both
    # orderings tie-break on event_id (deterministic metric).
    """WITH base AS (
  SELECT user_id AS g, event_id AS item, value AS score,
         CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
              WHEN 'click' THEN 1 ELSE 0 END AS rel
  FROM events),
r AS (SELECT g, pow(2.0, rel) - 1 AS gain,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY score DESC, item ASC) AS rnk,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY rel DESC, item ASC) AS rnk_i
      FROM base),
a AS (SELECT g,
        SUM(CASE WHEN rnk <= 10 THEN gain / log2(rnk + 1) ELSE 0 END) AS dcg,
        SUM(CASE WHEN rnk_i <= 10 THEN gain / log2(rnk_i + 1) ELSE 0 END) AS idcg
      FROM r GROUP BY 1)
SELECT g AS user_id,
       CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 6) END AS ndcg
FROM a ORDER BY user_id;""",
)
def x167(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import ndcg_at_k

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("rel"),
    )
    return (
        ndcg_at_k(ev, "user_id", "event_id", "rel", "value", k=10)
        .select("user_id", F.round("ndcg", 6).alias("ndcg"))
        .orderBy("user_id")
    )


@_declare(
    "X168_acf",
    # Weekly-seasonality probe: sample ACF (lags 1..7) of the per-type
    # daily event-count series. Alignment is ONE hash join on
    # (type, day+lag) over the exploded lag axis — no window — and the
    # CORR aggregate replays exactly in DuckDB.
    """WITH s AS (
  SELECT event_type AS g, date_diff('day', DATE '2024-01-01', ts::DATE) AS t,
         COUNT(*)::DOUBLE AS x
  FROM events GROUP BY 1, 2),
p AS (SELECT a.g, l.lag, a.x AS x, b.x AS y
      FROM s a CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) l
      JOIN s b ON b.g = a.g AND b.t = a.t + l.lag)
SELECT g AS event_type, lag::BIGINT AS lag, COUNT(*)::BIGINT AS n_pairs,
       ROUND(CORR(x, y), 6) AS acf
FROM p GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x168(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import autocorrelation

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        )
        .agg(F.count("*").cast("double").alias("n"))
    )
    return autocorrelation(daily, "event_type", "day", "n", max_lag=7).select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.round("acf", 6).alias("acf"),
    )


@_declare(
    "X169_spearman",
    # Per-source Spearman rho between n_chars and whitespace word count
    # — the monotone-association audit (robust to the nonlinearity that
    # breaks Pearson). Midrank tie convention on both sides; Spark ranks
    # come from the two-pass prefix-sum primitive (value-cardinality
    # work, no global window), the oracle from RANK() + (tie_count-1)/2.
    """WITH base AS (
  SELECT source AS g, n_chars::DOUBLE AS a,
         len(string_split(text, ' '))::DOUBLE AS b
  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
r AS (SELECT g,
  RANK() OVER (PARTITION BY g ORDER BY a) + (COUNT(*) OVER (PARTITION BY g, a) - 1) / 2.0 AS ra,
  RANK() OVER (PARTITION BY g ORDER BY b) + (COUNT(*) OVER (PARTITION BY g, b) - 1) / 2.0 AS rb
FROM base)
SELECT g AS source, COUNT(*)::BIGINT AS n, ROUND(CORR(ra, rb), 6) AS rho
FROM r GROUP BY 1 ORDER BY 1;""",
)
def x169(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import spearman_corr

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("text").isNotNull())
        .select(
            "source",
            F.col("n_chars").cast("double").alias("a"),
            F.size(F.split("text", " ")).cast("double").alias("b"),
        )
    )
    return (
        spearman_corr(docs, "a", "b", group_col="source")
        .select("source", "n", F.round("rho", 6).alias("rho"))
        .orderBy("source")
    )


# Round 11 — URL/domain curation axis (operators/urls.py). The fixture
# has no URL column, so both engines derive the SAME deterministic URL
# per doc (subdomain/site/tld keyed off doc_id, one malformed shape) —
# the PII-family planting idiom. Host extraction is one Java∩RE2 regex,
# replayed verbatim by the oracle.
_URL_SQL = """CASE WHEN doc_id % 89 = 0 THEN 'no-scheme.site0.com/path'
  ELSE 'https://' ||
       CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.' ELSE '' END ||
       'site' || (doc_id % 97) || '.' ||
       CASE WHEN doc_id % 3 = 0 THEN 'org' ELSE 'com' END || '/p/' || doc_id END"""

_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def _url_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn(
        "url",
        F.when(
            F.col("doc_id") % 89 == 0, F.lit("no-scheme.site0.com/path")
        ).otherwise(
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 4 == 0, F.lit("www."))
                .when(F.col("doc_id") % 4 == 1, F.lit("cdn."))
                .otherwise(""),
                F.lit("site"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit("."),
                F.when(F.col("doc_id") % 3 == 0, F.lit("org")).otherwise("com"),
                F.lit("/p/"),
                F.col("doc_id").cast("string"),
            )
        ),
    )


@_declare(
    "X170_domain_stats",
    # Per-registered-domain corpus footprint (count + share), NULL
    # bucket kept visible for unparseable URLs. Registered domain =
    # last two host labels (the PSL-free approximation, documented).
    f"""WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
h AS (SELECT NULLIF(lower(regexp_extract(url, '{_URL_HOST_RE}', 1)), '') AS host FROM u),
d AS (SELECT CASE WHEN host IS NULL THEN NULL
         WHEN len(string_split(host, '.')) >= 2 THEN
           string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         ELSE host END AS domain FROM h),
per AS (SELECT domain, COUNT(*)::BIGINT AS n_docs FROM d GROUP BY 1),
t AS (SELECT SUM(n_docs)::DOUBLE AS tot FROM per)
SELECT domain, n_docs, ROUND(n_docs / tot, 6) AS share
FROM per, t ORDER BY domain NULLS FIRST;""",
)
def x170(spark, sf_dir):
    from swivel_spark_prep_spark.operators.urls import domain_stats

    return (
        domain_stats(_url_docs(spark, sf_dir))
        .select("domain", "n_docs", F.round("share", 6).alias("share"))
        .orderBy(F.col("domain").asc_nulls_first())
    )


@_declare(
    "X171_blocklist_filter",
    # Broadcast anti-join blocklist pass: drop docs whose registered
    # domain is site(10k+3).com; NULL-domain docs survive by anti-join
    # NULL semantics (pinned on both sides). One summary row.
    f"""WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
h AS (SELECT doc_id, NULLIF(lower(regexp_extract(url, '{_URL_HOST_RE}', 1)), '') AS host FROM u),
d AS (SELECT doc_id, CASE WHEN host IS NULL THEN NULL
         WHEN len(string_split(host, '.')) >= 2 THEN
           string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         ELSE host END AS domain FROM h),
bl AS (SELECT 'site' || (10 * i + 3) || '.com' AS domain
       FROM (SELECT UNNEST(range(10)) AS i)),
surv AS (SELECT * FROM d WHERE domain IS NULL
          OR domain NOT IN (SELECT domain FROM bl))
SELECT COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN domain IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_domain,
       COUNT(DISTINCT domain)::BIGINT AS n_domains
FROM surv;""",
)
def x171(spark, sf_dir):
    from swivel_spark_prep_spark.operators.urls import blocklist_filter, extract_domain

    docs = _url_docs(spark, sf_dir)
    bl = (
        spark.range(10)
        .select(
            F.concat(
                F.lit("site"), (F.col("id") * 10 + 3).cast("string"), F.lit(".com")
            ).alias("domain")
        )
    )
    surv = blocklist_filter(docs, bl).withColumn("domain", extract_domain("url"))
    return surv.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("domain").isNull().cast("long")).alias("n_null_domain"),
        F.count_distinct("domain").alias("n_domains"),
    )


@_declare(
    "X172_cusum_drift",
    # Two-sided CUSUM drift statistic (Page 1954) over the per-type
    # daily event-count series — localizes WHEN a mean shift happened,
    # the complement of the PSI/KS "did it drift" audits. The
    # sequential recursion is rewritten to its closed window form
    # (prefix path minus its running extremum), so both engines compute
    # it with per-series windows; slack=0 makes P=Q and the oracle
    # carries one path column.
    """WITH s AS (
  SELECT event_type AS g, date_diff('day', DATE '2024-01-01', ts::DATE) AS t,
         COUNT(*)::DOUBLE AS x
  FROM events GROUP BY 1, 2),
m AS (SELECT g, AVG(x) AS mu FROM s GROUP BY 1),
pq AS (SELECT s.g, t, x,
  SUM(x - mu) OVER (PARTITION BY s.g ORDER BY t ROWS UNBOUNDED PRECEDING) AS p
  FROM s JOIN m USING (g))
SELECT g AS event_type, t AS day, x::BIGINT AS n,
  ROUND(p - LEAST(0, MIN(p) OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING)), 4) AS cusum_pos,
  ROUND(GREATEST(0, MAX(p) OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING)) - p, 4) AS cusum_neg
FROM pq ORDER BY 1, 2;""",
)
def x172(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import cusum

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        )
        .agg(F.count("*").cast("double").alias("n"))
    )
    return cusum(daily, "event_type", "day", "n").select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.round("cusum_pos", 4).alias("cusum_pos"),
        F.round("cusum_neg", 4).alias("cusum_neg"),
    )


@_declare(
    "X173_domain_coverage",
    # Head-coverage selection: the smallest weight-desc set of
    # registered domains accounting for >= 80% of documents (planted
    # URL corpus, NULL bucket excluded) — the "which domains are the
    # corpus" report. Spark's running total is the two-pass prefix sum
    # (no global window, plan-pinned in tests); the oracle replays it
    # with an exclusive running-sum window.
    f"""WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
h AS (SELECT NULLIF(lower(regexp_extract(url, '{_URL_HOST_RE}', 1)), '') AS host FROM u),
d AS (SELECT CASE WHEN host IS NULL THEN NULL
         WHEN len(string_split(host, '.')) >= 2 THEN
           string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         ELSE host END AS domain FROM h),
per AS (SELECT domain, COUNT(*)::DOUBLE AS w FROM d WHERE domain IS NOT NULL GROUP BY 1),
t AS (SELECT SUM(w) AS tot FROM per),
c AS (SELECT domain, w,
  COALESCE(SUM(w) OVER (ORDER BY w DESC, domain
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM per)
SELECT domain, w::BIGINT AS n_docs, ROUND((bef + w) / tot, 6) AS cum_share
FROM c, t WHERE bef / tot < 0.8 ORDER BY n_docs DESC, domain;""",
)
def x173(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import coverage_select
    from swivel_spark_prep_spark.operators.urls import domain_stats

    per = (
        domain_stats(_url_docs(spark, sf_dir))
        .filter(F.col("domain").isNotNull())
        .select("domain", "n_docs")
    )
    return coverage_select(per, "n_docs", 0.8, key_cols=["domain"]).select(
        "domain",
        "n_docs",
        F.round("cum_share", 6).alias("cum_share"),
    )


from swivel_spark_prep_spark.operators.linear import logreg_oracle_sql  # noqa: E402

# Model-in-the-loop curation (operators/linear.py). The synthetic corpus
# carries NO natural text-label signal (unigram distributions are
# identical across lang and source — measured: every label tried gives
# mean_p separation < 0.01), so the queries PLANT one with the fixture
# idiom: y=1 docs (doc_id%4=0) carry a triple 'qz' marker, and an
# ambiguity class (doc_id%8=1, y=0) carries a single 'qz' that binary
# presence features provably cannot distinguish — the classifier must
# learn the marker, and its errors are exactly the planted ambiguity.
_LOGREG_DOCS_SQL = """SELECT doc_id,
  text || CASE WHEN doc_id % 4 = 0 THEN ' qz qz qz'
               WHEN doc_id % 8 = 1 THEN ' qz' ELSE '' END AS text
FROM documents"""
_LOGREG_LABEL = "doc_id % 4 = 0"


def _logreg_pieces(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import (
        hashed_word_features,
        logreg_fit,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" qz qz qz"))
            .when(F.col("doc_id") % 8 == 1, F.lit(" qz"))
            .otherwise(""),
        ).alias("text"),
    )
    feats = hashed_word_features(docs, dim=512, binary=True)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 4 == 0).cast("int").alias("y"),
    )
    return feats, labels


@_declare(
    "X174_logreg_weights",
    # Full GD-trajectory parity: the oracle UNROLLS all 24 training
    # steps (pagerank idiom) — md5 featurization, margins, sigmoid
    # residuals, gradient averages, every weight update, down to the
    # final 513-row weight relation (512 hashed buckets + intercept).
    logreg_oracle_sql(_LOGREG_DOCS_SQL, _LOGREG_LABEL, dim=512, lr=1.0, iterations=24),
)
def x174(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import logreg_fit

    feats, labels = _logreg_pieces(spark, sf_dir)
    return (
        logreg_fit(feats, labels, lr=1.0, iterations=24)
        .select("bucket", F.round("weight", 6).alias("weight"))
        .orderBy("bucket")
    )


@_declare(
    "X175_logreg_eval",
    # Scoring + eval of the X174 model: per-label mean probability and
    # 0.5-threshold correct counts. The planted design makes the
    # numbers interpretable: all y=1 docs correct, and the errors on
    # y=0 are (a subset of) the single-marker ambiguity class.
    logreg_oracle_sql(
        _LOGREG_DOCS_SQL, _LOGREG_LABEL, dim=512, lr=1.0, iterations=24
    ).replace(
        "\nSELECT bucket, ROUND(weight, 6) AS weight FROM w24 ORDER BY bucket;",
        """,
scored AS (
  SELECT f.id, ANY_VALUE(f.y) AS y,
         1.0 / (1.0 + exp(-SUM(f.cnt * w.weight))) AS p
  FROM feats f JOIN w24 w USING (bucket) GROUP BY f.id)
SELECT y::INT AS label, COUNT(*)::BIGINT AS n,
       ROUND(AVG(p), 6) AS mean_p,
       SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)::BIGINT AS n_correct
FROM scored GROUP BY 1 ORDER BY 1;""",
    ),
)
def x175(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import logreg_fit, logreg_score

    feats, labels = _logreg_pieces(spark, sf_dir)
    w = logreg_fit(feats, labels, lr=1.0, iterations=24)
    scored = logreg_score(feats, w).join(labels, "id")
    return (
        scored.groupBy(F.col("y").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p"), 6).alias("mean_p"),
            F.sum(
                ((F.col("p") >= 0.5) == (F.col("y") == 1)).cast("long")
            ).alias("n_correct"),
        )
        .orderBy("label")
    )


@_declare(
    "X176_ewma",
    # Per-series exponential smoothing (operators/timeseries.ewma): the
    # closed rescaled-window form of s_t = αx_t + (1−α)s_{t−1} — both
    # engines replay the identical (1−α)^i arithmetic, so the final
    # smoothed value per user matches to 6 decimals. Exact-recursion
    # grouped-map twin pinned equal in tests.
    """WITH e AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
s AS (
  SELECT user_id, ts,
    pow(0.7, i) * (
      FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts)
      + 0.3 * SUM(CASE WHEN i = 0 THEN 0.0 ELSE value * pow(0.7, -i) END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) AS s
  FROM e)
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       ROUND(arg_max(s, ts), 6) AS final_ewma
FROM s GROUP BY 1 ORDER BY user_id;""",
)
def x176(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    s = ewma(ev, "user_id", "ts", "value", alpha=0.3)
    return (
        s.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max_by("ewma", "ts"), 6).alias("final_ewma"),
        )
        .orderBy("user_id")
    )


@_declare(
    "X177_resharding_report",
    # Rendezvous-hashing movement audit (operators/routing.py): growing
    # 8 → 9 shards moves ≈ 1/9 of keys under HRW vs ≈ 8/9 under
    # hash-mod — the minimal-movement property, measured on the actual
    # key population. Pure md5 arithmetic, replayed exactly.
    """WITH k AS (SELECT DISTINCT user_id AS k FROM events),
sa AS (SELECT k, s AS s_a FROM (
   SELECT k, s, ROW_NUMBER() OVER (PARTITION BY k ORDER BY h DESC, s DESC) AS rn
   FROM (SELECT k, s, ('0x' || substr(md5('hrw:' || k || ':' || s), 1, 15))::BIGINT AS h
         FROM k, range(8) t(s))) WHERE rn = 1),
sb AS (SELECT k, s AS s_b FROM (
   SELECT k, s, ROW_NUMBER() OVER (PARTITION BY k ORDER BY h DESC, s DESC) AS rn
   FROM (SELECT k, s, ('0x' || substr(md5('hrw:' || k || ':' || s), 1, 15))::BIGINT AS h
         FROM k, range(9) t(s))) WHERE rn = 1),
m AS (SELECT k, ('0x' || substr(md5('hrw:' || k), 1, 15))::BIGINT AS kh FROM k)
SELECT COUNT(*)::BIGINT AS n_keys,
  SUM((s_a <> s_b)::INT)::BIGINT AS hrw_moved,
  ROUND(AVG((s_a <> s_b)::INT::DOUBLE), 6) AS hrw_moved_frac,
  SUM((kh % 8 <> kh % 9)::INT)::BIGINT AS mod_moved,
  ROUND(AVG((kh % 8 <> kh % 9)::INT::DOUBLE), 6) AS mod_moved_frac
FROM sa JOIN sb USING (k) JOIN m USING (k);""",
)
def x177(spark, sf_dir):
    from swivel_spark_prep_spark.operators.routing import resharding_report

    ev = load_table(spark, sf_dir, "events")
    return resharding_report(ev, "user_id", 8, 9)


@_declare(
    "X178_jl_projection",
    # Seeded Johnson–Lindenstrauss projection (operators/pca.py
    # random_projection): ±1/√k Rademacher matrix from per-cell md5
    # parity, rebuilt identically by both engines from (salt, d, k);
    # projected coordinates exploded to (vec_id, j, v) for hashing.
    """WITH sg AS (
  SELECT i, j, CASE WHEN ('0x' || substr(md5('jl:' || i || ':' || j), 1, 1))::INT % 2 = 0
               THEN 0.25 ELSE -0.25 END AS s
  FROM range(64) a(i), range(16) b(j)),
v AS (SELECT vec_id, r.i - 1 AS i, embedding[r.i]::DOUBLE AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i))
SELECT vec_id, j, ROUND(SUM(x * s), 6) AS v
FROM v JOIN sg USING (i) GROUP BY 1, 2 ORDER BY vec_id, j;""",
)
def x178(spark, sf_dir):
    from swivel_spark_prep_spark.operators.pca import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    p = random_projection(emb, k=16)
    return (
        p.select("vec_id", F.posexplode("proj").alias("j", "v"))
        .select(
            "vec_id",
            F.col("j").cast("long").alias("j"),
            F.round("v", 6).alias("v"),
        )
        .orderBy("vec_id", "j")
    )


@_declare(
    "X179_kmv_jaccard",
    # Sketch-based cross-source token Jaccard (profile.kmv_jaccard):
    # bottom-128 union resemblance between every source pair — the
    # pairwise similarity matrix a 100 TB corpus profile computes from
    # sketches, never from the corpora. Same tokenization + 60-bit md5
    # space as X147, so the estimator replays exactly.
    """WITH tok AS (SELECT source AS g, unnest(string_split(lower(text), ' ')) AS t FROM documents),
tf AS (SELECT g, t FROM tok WHERE t <> ''),
h AS (SELECT DISTINCT g, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tf),
r AS (SELECT g, hv, ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS pos FROM h),
sk AS (SELECT g, pos, hv FROM r WHERE pos <= 128),
gs AS (SELECT DISTINCT g FROM sk),
pr AS (SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b WHERE a.g < b.g),
un AS (SELECT DISTINCT g1, g2, hv FROM (
   SELECT p.g1, p.g2, s.hv FROM pr p JOIN sk s ON s.g = p.g1
   UNION ALL
   SELECT p.g1, p.g2, s.hv FROM pr p JOIN sk s ON s.g = p.g2)),
bt AS (SELECT g1, g2, hv, ROW_NUMBER() OVER (PARTITION BY g1, g2 ORDER BY hv) AS rr FROM un),
bk AS (SELECT g1, g2, hv FROM bt WHERE rr <= 128),
fl AS (SELECT b.g1, b.g2,
         (sa.hv IS NOT NULL)::INT AS ia, (sb.hv IS NOT NULL)::INT AS ib
       FROM bk b
       LEFT JOIN sk sa ON sa.g = b.g1 AND sa.hv = b.hv
       LEFT JOIN sk sb ON sb.g = b.g2 AND sb.hv = b.hv)
SELECT g1, g2, COUNT(*)::BIGINT AS union_k,
       ROUND(SUM(ia * ib)::DOUBLE / COUNT(*), 6) AS j_est
FROM fl GROUP BY 1, 2 ORDER BY g1, g2;""",
)
def x179(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import kmv_build, kmv_jaccard

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    sk = kmv_build(toks, "t", group_col="source", k=128)
    return kmv_jaccard(sk, k=128).orderBy("g1", "g2")


@_declare(
    "X180_kneser_ney",
    # Interpolated Kneser–Ney bigram probabilities (operators/lm.py
    # kneser_ney_bigram, Kneser & Ney 1995 / Chen & Goodman 1998) for
    # the 20 most frequent bigrams — absolute discounting plus the
    # continuation-count backoff, all from grouped aggregates of one
    # bigram table.
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
bi AS (SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*)::BIGINT AS c
       FROM t, UNNEST(range(1, len(t))) AS r(i) GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c) AS c1, COUNT(*) AS n_follow FROM bi GROUP BY 1),
cont AS (SELECT w2, COUNT(*) AS n_prec FROM bi GROUP BY 1),
ty AS (SELECT COUNT(*)::DOUBLE AS n_types FROM bi)
SELECT w1, w2, c,
       ROUND(greatest(c - 0.75, 0) / c1 + 0.75 * n_follow / c1 * n_prec / n_types, 6) AS p_kn
FROM bi JOIN ctx USING (w1) JOIN cont USING (w2), ty
ORDER BY c DESC, w1, w2 LIMIT 20;""",
)
def x180(spark, sf_dir):
    from swivel_spark_prep_spark.operators.lm import kneser_ney_bigram

    docs = load_table(spark, sf_dir, "documents")
    return (
        kneser_ney_bigram(docs)
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(20)
        .select("w1", "w2", "c", F.round("p_kn", 6).alias("p_kn"))
    )


@_declare(
    "X181_golden_record",
    # Survivorship merge after dedup clustering (dedup.golden_record):
    # clusters keyed by a 40-char text-prefix hash; per column the MDM
    # rules — min (stable id), mode (consensus lang/source, tie ->
    # largest), max (n_chars), longest (richest text, tie -> largest).
    # The oracle replays each rule as a window or grouped extremum over
    # the identical cluster relation.
    """WITH d AS (SELECT md5(substr(text, 1, 40)) AS cluster, * FROM documents),
base AS (SELECT cluster, COUNT(*)::BIGINT AS n_members,
                MIN(doc_id) AS survivor_id, MAX(n_chars) AS n_chars
         FROM d GROUP BY 1),
lng AS (SELECT cluster, text FROM (
  SELECT cluster, text,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY length(text) DESC, text DESC) AS rn
  FROM d) WHERE rn = 1),
ml AS (SELECT cluster, lang FROM (
  SELECT cluster, lang, COUNT(*) AS c FROM d WHERE lang IS NOT NULL GROUP BY 1, 2)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY c DESC, lang DESC) = 1),
ms AS (SELECT cluster, source FROM (
  SELECT cluster, source, COUNT(*) AS c FROM d WHERE source IS NOT NULL GROUP BY 1, 2)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY c DESC, source DESC) = 1)
SELECT b.cluster, b.n_members, b.survivor_id, ml.lang, ms.source, b.n_chars,
       length(l.text)::BIGINT AS text_len
FROM base b JOIN lng l USING (cluster)
LEFT JOIN ml USING (cluster) LEFT JOIN ms USING (cluster)
ORDER BY cluster;""",
)
def x181(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "cluster", F.md5(F.substring("text", 1, 40))
    )
    g = dedup.golden_record(
        docs,
        "cluster",
        {
            "doc_id": "min",
            "n_chars": "max",
            "text": "longest",
            "lang": "mode",
            "source": "mode",
        },
    )
    return g.select(
        "cluster",
        "n_members",
        F.col("doc_id").alias("survivor_id"),
        "lang",
        "source",
        "n_chars",
        F.length("text").cast("long").alias("text_len"),
    ).orderBy("cluster")


_LPA_SEEDS_SQL = (
    "SELECT 's' || s_suppkey AS node, n_name AS label "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "WHERE s_suppkey % 7 = 0"
)


@_declare(
    "X182_label_propagation",
    # Clamped-seed synchronous label propagation (graph.label_propagation,
    # Raghavan et al. 2007) over the supplier-part ship graph, seeds =
    # every 7th supplier labeled with its nation. The oracle unrolls all
    # 4 rounds (the pagerank_oracle_sql idiom) with the identical
    # max-count/min-label winner rule, so parity pins the update rule
    # and the tie-break, not just the fixpoint.
    None,  # assembled below — needs the generator
)
def x182(spark, sf_dir):
    from swivel_spark_prep_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    seeds = (
        sup.filter(F.col("s_suppkey") % 7 == 0)
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"),
            F.col("n_name").alias("label"),
        )
    )
    return label_propagation(edges, seeds, rounds=4).orderBy("node")


from swivel_spark_prep_spark.operators.graph import (  # noqa: E402
    label_propagation_oracle_sql as _lpa_oracle,
)

EXTRA_ORACLES["X182_label_propagation"] = _lpa_oracle(
    _PR_EDGES_SQL, _LPA_SEEDS_SQL, rounds=4
)


@_declare(
    "X183_join_size_estimate",
    # KMV pre-flight join-cardinality estimate (profile.join_size_estimate):
    # sketch both key columns, estimate distinct overlap via bottom-k
    # resemblance, scale by per-side average multiplicity — the sizing
    # answer a 100 TB shuffle plan wants BEFORE the join runs. The
    # oracle replays the 60-bit md5 sketch arithmetic bit-for-bit.
    """WITH av AS (SELECT o_custkey::VARCHAR AS v FROM orders WHERE o_custkey IS NOT NULL),
bv AS (SELECT c_custkey::VARCHAR AS v FROM customer WHERE c_custkey IS NOT NULL),
ha AS (SELECT DISTINCT ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM av),
hb AS (SELECT DISTINCT ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM bv),
ska AS (SELECT hv FROM (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM ha) WHERE rn <= 256),
skb AS (SELECT hv FROM (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM hb) WHERE rn <= 256),
na AS (SELECT CASE WHEN COUNT(*) < 256 THEN COUNT(*)
               ELSE ROUND(255.0 / (MAX(hv) / 1152921504606846976.0))::BIGINT END AS ndv_a FROM ska),
nb AS (SELECT CASE WHEN COUNT(*) < 256 THEN COUNT(*)
               ELSE ROUND(255.0 / (MAX(hv) / 1152921504606846976.0))::BIGINT END AS ndv_b FROM skb),
un AS (SELECT hv FROM (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM (
    SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb))) WHERE rn <= 256),
nu AS (SELECT CASE WHEN COUNT(*) < 256 THEN COUNT(*)
               ELSE ROUND(255.0 / (MAX(hv) / 1152921504606846976.0))::BIGINT END AS ndv_union FROM un),
j AS (SELECT SUM((u.hv IN (SELECT hv FROM ska) AND u.hv IN (SELECT hv FROM skb))::INT)::DOUBLE
             / COUNT(*) AS j_est FROM un u),
r AS (SELECT (SELECT COUNT(*) FROM av)::BIGINT AS rows_a,
             (SELECT COUNT(*) FROM bv)::BIGINT AS rows_b)
SELECT rows_a, rows_b, ndv_a, ndv_b, ndv_union,
       ROUND(j_est, 6) AS j_est,
       ROUND(j_est * ndv_union)::BIGINT AS ndv_inter,
       ROUND(j_est * ndv_union * (rows_a::DOUBLE / ndv_a) * (rows_b::DOUBLE / ndv_b))::BIGINT AS est_rows
FROM r, na, nb, nu, j;""",
)
def x183(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import join_size_estimate

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return join_size_estimate(orders, "o_custkey", cust, "c_custkey", k=256)


@_declare(
    "X184_class_scatter",
    # Fisher class-scatter audit of the embeddings table
    # (evalmetrics.embedding_class_scatter): within/between
    # sum-of-squares and the F ratio from two grouped aggregates over
    # the exploded (label, dim, x) relation — "do the embeddings
    # separate the labels?" before training a probe.
    """WITH ex AS (
  SELECT label::VARCHAR AS l, r.i - 1 AS j, embedding[r.i]::DOUBLE AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
per AS (SELECT l, j, COUNT(*)::DOUBLE AS n, SUM(x) AS s, SUM(x * x) AS ss
        FROM ex GROUP BY 1, 2),
g AS (SELECT j, SUM(s) AS gs, SUM(n) AS gn FROM per GROUP BY 1),
c AS (SELECT * FROM per JOIN g USING (j))
SELECT MAX(gn)::BIGINT AS n_docs, COUNT(DISTINCT l)::BIGINT AS n_labels,
       (MAX(j) + 1)::BIGINT AS dim,
       ROUND(SUM(ss - s * s / n), 6) AS within_ss,
       ROUND(SUM(n * pow(s / n - gs / gn, 2)), 6) AS between_ss,
       ROUND(CASE WHEN COUNT(DISTINCT l) > 1 AND MAX(gn) > COUNT(DISTINCT l)
             THEN (SUM(n * pow(s / n - gs / gn, 2)) / (COUNT(DISTINCT l) - 1))
                  / (SUM(ss - s * s / n) / (MAX(gn) - COUNT(DISTINCT l))) END, 6) AS fisher_f
FROM c;""",
)
def x184(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        embedding_class_scatter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_class_scatter(emb)


@_declare(
    "X185_avg_precision",
    # Per-source average precision (evalmetrics.average_precision, the
    # sklearn step-form PR-AUC): how clean is the head of the
    # length-ranks-English ranking inside each source. Distinct-score
    # thresholds; running totals from the two-pass prefix sum. The
    # oracle replays the identical inclusive-cumulative step curve.
    """WITH g AS (SELECT source, n_chars::DOUBLE AS s, (lang = 'en') AS y FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
c AS (SELECT source, s, SUM(y::INT)::BIGINT AS np, COUNT(*)::BIGINT AS nt
      FROM g GROUP BY 1, 2),
cu AS (SELECT source, np, nt,
         SUM(np) OVER (PARTITION BY source ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
         SUM(nt) OVER (PARTITION BY source ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cal
       FROM c)
SELECT source, SUM(np)::BIGINT AS n_pos, SUM(nt)::BIGINT AS n,
       ROUND(SUM(np * (ctp::DOUBLE / cal)) / SUM(np), 6) AS ap
FROM cu GROUP BY source ORDER BY source;""",
)
def x185(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import average_precision

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    scored = docs.select(
        "source",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("y"),
    )
    return (
        average_precision(scored, "score", "y", group_col="source")
        .select("source", "n_pos", "n", F.round("ap", 6).alias("ap"))
        .orderBy("source")
    )


@_declare(
    "X186_isotonic_calibration",
    # Isotonic (PAV) calibration map per source: least-squares monotone
    # fit of P(lang='en') to the 100-char-bucketed length score.
    # PAV's transitive left-merges are sequential, but the FIT ITSELF
    # has the classical min-max closed form (Robertson-Wright-Dykstra
    # 1988, eq. 1.9-1.13): fit_i = max_{s<=i} min_{t>=i} wavg(s..t),
    # SQL-expressible from prefix sums with an O(m^3) index join —
    # m = distinct scores per group (<= a handful of 100-char buckets
    # here), so the replay is control-plane-sized. Oracled since round
    # 15 (round-14 verdict "What's missing #3"); the monotonicity /
    # pool-mean / hand-computed pins stay in tests/test_round11d_ops.
    """WITH b AS (SELECT source, (FLOOR(n_chars / 100) * 100)::DOUBLE AS score,
                  (lang = 'en')::INT AS y
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
agg AS (SELECT source, score, COUNT(*)::BIGINT AS n, AVG(y::DOUBLE) AS y_rate
        FROM b GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score) AS i,
             SUM(n) OVER (PARTITION BY source ORDER BY score) AS w,
             SUM(n * y_rate) OVER (PARTITION BY source ORDER BY score) AS c
      FROM agg),
p AS (SELECT s.source, s.i AS si, t.i AS ti,
             (t.c - (s.c - s.n * s.y_rate)) / (t.w - (s.w - s.n)) AS a
      FROM r s JOIN r t ON t.source = s.source AND t.i >= s.i),
mn AS (SELECT p.source AS src, p.si, i.i AS ix, MIN(p.a) AS m
       FROM r i JOIN p ON p.source = i.source AND p.si <= i.i AND p.ti >= i.i
       GROUP BY 1, 2, 3),
iso AS (SELECT src, ix, MAX(m) AS calibrated FROM mn GROUP BY 1, 2)
SELECT r.source, r.score, r.n, r.y_rate, iso.calibrated
FROM r JOIN iso ON iso.src = r.source AND iso.ix = r.i
ORDER BY source, score;""",
)
def x186(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        isotonic_calibration,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        (F.floor(F.col("n_chars") / 100) * 100).cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return isotonic_calibration(scored, "score", "y", group_col="source").orderBy(
        "source", "score"
    )


@_declare(
    "X187_interarrival",
    # Per-user inter-arrival burstiness profile
    # (timeseries.interarrival_stats): population-CV of event gaps +
    # the Goh-Barabási burstiness index — the bot/periodicity screen.
    # Microsecond-exact gap seconds on both engines (epoch_us / 1e6).
    """WITH g AS (SELECT user_id, ts,
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
         FROM events WHERE ts IS NOT NULL),
d AS (SELECT user_id,
             CASE WHEN prev IS NULL THEN NULL
                  ELSE (epoch_us(ts) - epoch_us(prev)) / 1e6 END AS gap
      FROM g),
a AS (SELECT user_id, COUNT(*)::BIGINT AS n_events, COUNT(gap)::BIGINT AS n_gaps,
             AVG(gap) AS m, AVG(gap * gap) AS m2, MAX(gap) AS mx
      FROM d GROUP BY 1)
SELECT user_id, n_events, n_gaps,
       ROUND(m, 6) AS mean_gap_s,
       ROUND(sqrt(greatest(m2 - m * m, 0)), 6) AS std_gap_s,
       ROUND(CASE WHEN m > 0 THEN sqrt(greatest(m2 - m * m, 0)) / m END, 6) AS cv,
       ROUND(CASE WHEN m > 0 THEN
         (sqrt(greatest(m2 - m * m, 0)) / m - 1) / (sqrt(greatest(m2 - m * m, 0)) / m + 1)
       END, 6) AS burstiness,
       ROUND(mx, 6) AS max_gap_s
FROM a WHERE n_events >= 3 ORDER BY user_id;""",
)
def x187(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import interarrival_stats

    ev = load_table(spark, sf_dir, "events")
    return interarrival_stats(ev, "user_id", "ts").orderBy("user_id")


@_declare(
    "X188_lsh_plan",
    # MinHash-LSH banding planner (dedup.lsh_parameter_plan, the MMDS
    # s-curve): every (b, r) factorization of 128 hashes scored by
    # false-positive / false-negative mass around threshold 0.8 on a
    # 1000-point midpoint grid — pure control-plane arithmetic, no
    # corpus access; the oracle replays the identical grid.
    """WITH br AS (SELECT (128 / r)::BIGINT AS b, r FROM range(1, 129) t(r) WHERE 128 % r = 0),
pts AS (SELECT b, r, (g + 0.5) / 1000.0 AS s FROM br, range(1000) t2(g)),
m AS (SELECT b, r,
        SUM(CASE WHEN s < 0.8 THEN 1.0 - pow(1.0 - pow(s, r), b) ELSE 0 END) / 1000 AS fp,
        SUM(CASE WHEN s >= 0.8 THEN pow(1.0 - pow(s, r), b) ELSE 0 END) / 1000 AS fn
      FROM pts GROUP BY 1, 2)
SELECT b, r,
       ROUND(1.0 - pow(1.0 - pow(0.8, r), b), 6) AS p_at_threshold,
       ROUND(pow(1.0 / b, 1.0 / r), 6) AS crossover,
       ROUND(fp, 6) AS fp_mass, ROUND(fn, 6) AS fn_mass,
       ROUND(fp + fn, 6) AS total_mass
FROM m ORDER BY total_mass, b;""",
)
def x188(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import lsh_parameter_plan

    return lsh_parameter_plan(spark, num_hashes=128, threshold=0.8)


@_declare(
    "X189_heaps_law",
    # Heaps'-law vocabulary-growth fit (textstats.heaps_law_fit):
    # V ≈ k·N^beta over 10 cumulative md5-ordered corpus prefixes —
    # per-word first-bucket + triangular bucket join, then one log-log
    # OLS aggregate. The oracle replays the identical bucketing and
    # regression algebra.
    """WITH toks AS (
  SELECT (('0x' || substr(md5('heaps' || doc_id), 1, 8))::BIGINT % 10) + 1 AS bkt, w
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> ''),
pbt AS (SELECT bkt, COUNT(*)::BIGINT AS nt FROM toks GROUP BY 1),
fs AS (SELECT w, MIN(bkt) AS fb FROM toks GROUP BY 1),
pbv AS (SELECT fb, COUNT(*)::BIGINT AS nv FROM fs GROUP BY 1),
grid AS (SELECT f FROM range(1, 11) t(f)),
pts AS (
  SELECT a.f, a.N, b.V, ln(a.N) AS x, ln(b.V) AS y FROM
    (SELECT f, COALESCE(SUM(nt), 0) AS N FROM grid LEFT JOIN pbt ON bkt <= f GROUP BY 1) a
    JOIN
    (SELECT f, COALESCE(SUM(nv), 0) AS V FROM grid LEFT JOIN pbv ON fb <= f GROUP BY 1) b
    USING (f)
  WHERE a.N > 0 AND b.V > 0),
s AS (SELECT COUNT(*)::DOUBLE AS m, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
             COUNT(*)::BIGINT AS n_points, MAX(N)::BIGINT AS total_tokens, MAX(V)::BIGINT AS vocab
      FROM pts)
SELECT n_points, total_tokens, vocab,
  ROUND(CASE WHEN m > 1 AND m * sxx - sx * sx > 1e-9 * m * sxx
        THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6) AS beta,
  ROUND(exp((sy - (CASE WHEN m > 1 AND m * sxx - sx * sx > 1e-9 * m * sxx
        THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END) * sx) / m), 6) AS k,
  ROUND(CASE WHEN m * sxx - sx * sx > 1e-9 * m * sxx AND m * syy - sy * sy > 1e-9 * m * syy
        THEN pow(m * sxy - sx * sy, 2) / ((m * sxx - sx * sx) * (m * syy - sy * sy)) END, 6) AS r2
FROM s;""",
)
def x189(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import heaps_law_fit

    docs = load_table(spark, sf_dir, "documents")
    return heaps_law_fit(docs)


@_declare(
    "X190_range_frame",
    # RANGE-interval window frame (the time-based sibling of Q20's ROWS
    # frame): per-user trailing 6-hour event count and value sum at
    # every event — rangeBetween over epoch seconds, hash-partitioned
    # by user, one exchange. The oracle runs the identical RANGE frame
    # over the same epoch-second axis.
    """WITH e AS (SELECT user_id, ts, epoch_us(ts) // 1000000 AS sec, value
           FROM events WHERE ts IS NOT NULL)
SELECT user_id, ts,
       COUNT(*) OVER w AS n_6h,
       ROUND(SUM(COALESCE(value, 0)) OVER w, 6) AS sum_6h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts;""",
)
def x190(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sec = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000)).cast(
        "long"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-21600, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "ts",
            F.count("*").over(w).alias("n_6h"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))).over(w), 6).alias(
                "sum_6h"
            ),
        )
        .orderBy("user_id", "ts")
    )


@_declare(
    "X191_ols_regression",
    # Multi-feature OLS via one sufficient-statistics aggregate
    # (linear.ols_fit): regress event value on hour-of-day and a
    # purchase flag; the driver solves the 3x3 normal equations, the
    # oracle solves the SAME system by Cramer's rule from the identical
    # raw moments — coefficient-level parity including R².
    """WITH d AS (
  SELECT (epoch_us(ts) // 1000000 % 86400) / 3600.0 AS x0,
         (event_type = 'purchase')::INT::DOUBLE AS x1,
         value AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL),
m AS (SELECT SUM(x0*x0) AS a00, SUM(x0*x1) AS a01, SUM(x0) AS a02,
             SUM(x1*x1) AS a11, SUM(x1) AS a12, COUNT(*)::DOUBLE AS a22,
             SUM(x0*y) AS b0, SUM(x1*y) AS b1, SUM(y) AS b2,
             SUM(y*y) AS yy
      FROM d),
s AS (SELECT *,
        a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02) + a02*(a01*a12 - a11*a02) AS det
      FROM m),
c AS (SELECT *,
        (b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2) + a02*(b1*a12 - a11*b2)) / det AS c0,
        (a00*(b1*a22 - b2*a12) - b0*(a01*a22 - a12*a02) + a02*(a01*b2 - b1*a02)) / det AS c1,
        (a00*(a11*b2 - a12*b1) - a01*(a01*b2 - a02*b1) + b0*(a01*a12 - a11*a02)) / det AS c2
      FROM s)
SELECT term, ROUND(value, 4) AS value FROM (
  SELECT 'hour' AS term, c0 AS value, 1 AS o FROM c
  UNION ALL SELECT 'is_purchase', c1, 2 FROM c
  UNION ALL SELECT 'intercept', c2, 3 FROM c
  UNION ALL SELECT 'r2', 1.0 - (yy - (c0*b0 + c1*b1 + c2*b2)) / (yy - b2*b2/a22), 4 FROM c
  UNION ALL SELECT 'n', a22, 5 FROM c) ORDER BY o;""",
)
def x191(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import ols_fit

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    d = ev.select(
        (
            (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000) % 86400)
            / 3600.0
        ).alias("hour"),
        (F.col("event_type") == "purchase").cast("double").alias("is_purchase"),
        F.col("value").alias("y"),
    )
    # round to 4: LAPACK (operator) vs Cramer (oracle) solves diverge
    # at ~1e-6 through the normal equations' condition number; the exact
    # coefficient pins live in tests/test_round11e_ops.py
    return ols_fit(d, ["hour", "is_purchase"], "y").select(
        "term", F.round("value", 4).alias("value")
    )


@_declare(
    "X192_rfm_segments",
    # RFM segmentation (timeseries.rfm_segments): per-user recency /
    # frequency / monetary, tertile cutoffs from ONE exact-percentile
    # aggregate broadcast back — quantile assignment as
    # cutoffs-then-compare, never a corpus-wide rank. The oracle
    # replays quantile_cont (the same interpolated definition) and the
    # identical strictly-greater tier arithmetic.
    """WITH u AS (
  SELECT user_id AS "user", max(epoch_us(ts)) AS last_us,
         COUNT(*)::DOUBLE AS frequency, COALESCE(SUM(value), 0) AS monetary
  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
a AS (SELECT max(last_us) AS now_us FROM u),
per AS (
  SELECT "user", (now_us - last_us) / 86400e6 AS recency_days,
         frequency, monetary
  FROM u, a),
cuts AS (SELECT quantile_cont(recency_days, [1.0/3, 2.0/3]) AS cr,
                quantile_cont(frequency, [1.0/3, 2.0/3]) AS cf,
                quantile_cont(monetary, [1.0/3, 2.0/3]) AS cm
         FROM per),
sc AS (SELECT per.*,
         4 - (1 + (recency_days > cr[1])::INT + (recency_days > cr[2])::INT) AS r,
         1 + (frequency > cf[1])::INT + (frequency > cf[2])::INT AS f,
         1 + (monetary > cm[1])::INT + (monetary > cm[2])::INT AS m
       FROM per, cuts)
SELECT "user", ROUND(recency_days, 6) AS recency_days,
       frequency::BIGINT AS frequency, ROUND(monetary, 6) AS monetary,
       r, f, m, r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment
FROM sc ORDER BY "user";""",
)
def x192(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rfm_segments

    ev = load_table(spark, sf_dir, "events")
    return rfm_segments(ev).orderBy("user")


@_declare(
    "X193_substring_search",
    # Substring search (search.substring_search): the single-query
    # path IS the plain contains() scan — measured at the sf1 sweep, a
    # one-shot inline trigram prefilter costs strictly more than the
    # scan it would save (building grams reads every byte the scan
    # reads). The pg_trgm index path (prebuilt trigram_index, amortized
    # over many patterns) is result-equal by construction and pinned in
    # tests/test_round11f_ops.py against this same oracle.
    """SELECT doc_id, source, n_chars FROM documents
WHERE contains(lower(text), 'merge slow') ORDER BY doc_id;""",
)
def x193(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import substring_search

    docs = load_table(spark, sf_dir, "documents")
    return (
        substring_search(docs, "merge slow")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@_declare(
    "X194_bootstrap_ci",
    # Poisson-bootstrap mean CI per event type (sampling.bootstrap_mean_ci,
    # Chamandy et al. 2012): 100 deterministic replicates, Poisson(1)
    # weights from ONE per-row md5: phase h (hex 1-15) walked by a
    # PER-ROW golden-ratio step s = frac(phi*(1+h)) DERIVED from h —
    # the round-13 form (carrying a fresh-digit s through the explode
    # measured 17.5 s vs 12.3 s derived, coverage statistically
    # identical; rationale + all measurements in bootstrap_mean_ci's
    # docstring) — the oracle replays every weight and both percentile
    # endpoints exactly.
    """WITH base AS (
  SELECT event_type, event_id::VARCHAR AS id, value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL),
hs AS (SELECT event_type, x, h,
             fmod(0.6180339887498949 * (1.0 + h), 1.0) AS s
      FROM (SELECT event_type, x,
              ('0x' || substr(md5('boot:' || id), 1, 15))::BIGINT
                / 1152921504606846976.0 AS h
            FROM base)),
wts AS (SELECT event_type, x, b,
  CASE
    WHEN u < 0.36787944117144233 THEN 0
    WHEN u < 0.7357588823428847 THEN 1
    WHEN u < 0.9196986029286058 THEN 2
    WHEN u < 0.9810118431238462 THEN 3
    WHEN u < 0.9963401531726563 THEN 4
    WHEN u < 0.9994058151824183 THEN 5
    ELSE 6 END AS w
  FROM (SELECT event_type, x, fmod(h + b * s, 1.0) AS u, b
        FROM hs, range(1, 101) t(b))),
means AS (SELECT event_type, b, SUM(w * x) / SUM(w) AS m
          FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0),
ci AS (SELECT event_type, COUNT(*)::BIGINT AS b_used,
              quantile_cont(m, 0.025) AS lo, quantile_cont(m, 0.975) AS hi
       FROM means GROUP BY 1),
pt AS (SELECT event_type, AVG(x) AS mean, COUNT(*)::BIGINT AS n FROM base GROUP BY 1)
SELECT event_type, ROUND(mean, 6) AS mean, ROUND(lo, 6) AS ci_lo,
       ROUND(hi, 6) AS ci_hi, n, b_used
FROM pt JOIN ci USING (event_type) ORDER BY event_type;""",
)
def x194(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import bootstrap_mean_ci

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, "value", "event_id", group_col="event_type", replicates=100
    ).orderBy("event_type")


@_declare(
    "X195_k_anonymity",
    # k-anonymity audit (quality.k_anonymity_audit, Sweeney 2002) on
    # the (lang, source, n_chars) quasi-identifier: combos shared by
    # fewer than 3 docs are re-identifiable; the '__audit__' row
    # carries total rows at risk. One quasi-cardinality aggregate.
    """WITH c AS (SELECT lang::VARCHAR AS lang, source::VARCHAR AS source,
                 n_chars::VARCHAR AS n_chars, COUNT(*)::BIGINT AS n
          FROM documents GROUP BY 1, 2, 3)
SELECT lang, source, n_chars, n FROM c WHERE n < 3
UNION ALL
SELECT '__audit__', NULL, NULL,
       COALESCE(SUM(CASE WHEN n < 3 THEN n END), 0)::BIGINT
FROM c
ORDER BY lang NULLS LAST, source NULLS LAST, n_chars NULLS LAST;""",
)
def x195(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import k_anonymity_audit

    docs = load_table(spark, sf_dir, "documents")
    return k_anonymity_audit(docs, ["lang", "source", "n_chars"], k=3).orderBy(
        F.asc_nulls_last("lang"),
        F.asc_nulls_last("source"),
        F.asc_nulls_last("n_chars"),
    )


@_declare(
    "X196_collapse_bursts",
    # Burst compaction / debounce (timeseries.collapse_bursts): events
    # within 30 min of their predecessor chain into one burst per user
    # (gaps-and-islands at microsecond precision); output is the burst
    # profile. The oracle replays the identical island numbering.
    """WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
  FROM events WHERE ts IS NOT NULL),
m AS (SELECT user_id, ts, us,
             SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS burst_id
      FROM e)
SELECT user_id, burst_id, MIN(ts) AS t_start, MAX(ts) AS t_end,
       COUNT(*)::BIGINT AS n_events,
       ROUND((MAX(us) - MIN(us)) / 1e6, 6) AS span_s
FROM m GROUP BY 1, 2 ORDER BY user_id, burst_id;""",
)
def x196(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import collapse_bursts

    ev = load_table(spark, sf_dir, "events")
    return collapse_bursts(ev, ["user_id"], "ts", gap_seconds=1800).orderBy(
        "user_id", "burst_id"
    )


@_declare(
    "X197_kaplan_meier",
    # Kaplan-Meier survival over time-to-first-'error' per user
    # (timeseries.kaplan_meier): duration = whole hours from a user's
    # first event to their first error, CENSORED at a 48-hour
    # observation window (~1/3 of users at every SF — real censoring,
    # the at-risk bookkeeping a naive rate gets wrong). Both prefix
    # passes replayed as running windows over the distinct-duration
    # relation.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev
  FROM u),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM subj),
per AS (SELECT t, SUM(ev)::BIGINT AS d, COUNT(*)::BIGINT AS c FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM per),
r AS (SELECT t, d, (n - (cc - c))::BIGINT AS nr FROM cum, tot),
f2 AS (SELECT t, d, nr,
              CASE WHEN d < nr THEN ln(1 - d::DOUBLE / nr) ELSE 0 END AS lnf,
              (d >= nr)::INT AS z
       FROM r),
s AS (SELECT t, d, nr,
             SUM(lnf) OVER w AS lncum, SUM(z) OVER w AS zcum
      FROM f2
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT t AS duration, nr AS n_risk, d AS d_events,
       ROUND(CASE WHEN zcum > 0 THEN 0.0 ELSE exp(lncum) END, 6) AS survival
FROM s WHERE d > 0 ORDER BY duration;""",
)
def x197(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import kaplan_meier

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
    )
    return kaplan_meier(subj, "t", "ev").orderBy("duration")


@_declare(
    "X198_welch_ttest",
    # Welch unequal-variance t (evalmetrics.welch_ttest): did the mean
    # event value move between purchases and clicks — one grouped-
    # moments aggregate, scalar algebra after; the oracle replays the
    # identical guarded-moment variance and Welch-Satterthwaite df.
    """WITH g AS (SELECT event_type AS t, value::DOUBLE AS x FROM events
          WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
per AS (SELECT t, COUNT(*)::DOUBLE AS n, AVG(x) AS m, SUM(x * x) AS ss
        FROM g GROUP BY 1),
j AS (SELECT a.n AS na, a.m AS ma, a.ss AS sa, b.n AS nb, b.m AS mb, b.ss AS sb
      FROM (SELECT * FROM per WHERE t = 'purchase') a,
           (SELECT * FROM per WHERE t = 'click') b),
c AS (SELECT *,
        (sa - na * ma * ma) / (na - 1) AS va,
        (sb - nb * mb * mb) / (nb - 1) AS vb
      FROM j),
c2 AS (SELECT *, va / na + vb / nb AS se2 FROM c)
SELECT na::BIGINT AS n_a, ROUND(ma, 6) AS mean_a,
       nb::BIGINT AS n_b, ROUND(mb, 6) AS mean_b,
       ROUND(ma - mb, 6) AS mean_diff,
       ROUND(CASE WHEN na > 1 AND nb > 1 AND se2 > 0
             THEN (ma - mb) / sqrt(se2) END, 6) AS t_stat,
       ROUND(CASE WHEN na > 1 AND nb > 1 AND se2 > 0
             THEN pow(se2, 2) / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1))
             END, 6) AS df_welch
FROM c2;""",
)
def x198(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import welch_ttest

    ev = load_table(spark, sf_dir, "events")
    return welch_ttest(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X199_fdr_drift",
    # FDR-controlled drift screening (quality.fdr_bh over per-slice KS):
    # the X159 per-language src0-vs-src1 KS tests, converted to
    # one-term Smirnov asymptotic p-values, then Benjamini-Hochberg at
    # q=0.1 via the tie-safe counting rule — "which slices drifted,
    # with the expected false-discovery rate bounded" instead of 40
    # uncorrected alpha tests. The oracle replays CDFs, p's, and the
    # count-based BH cutoff exactly.
    """WITH g AS (SELECT lang, n_chars AS v,
                 (source = 'src0')::INT AS a, (source = 'src1')::INT AS b
          FROM documents
          WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            AND source IN ('src0', 'src1')),
c AS (SELECT lang, v, SUM(a) AS ca, SUM(b) AS cb FROM g GROUP BY 1, 2),
cu AS (SELECT lang,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cca,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS ccb
       FROM c),
t AS (SELECT lang, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM c GROUP BY 1),
ks AS (SELECT lang,
              MAX(CASE WHEN na > 0 AND nb > 0 THEN ABS(cca / na - ccb / nb) END)
              * SQRT(na * nb / (na + nb)) AS k
       FROM cu JOIN t USING (lang) GROUP BY lang, na, nb),
p AS (SELECT lang, k, LEAST(1.0, 2 * exp(-2 * k * k)) AS pv FROM ks),
m AS (SELECT COUNT(pv)::DOUBLE AS m FROM p),
cnt AS (SELECT pd, COUNT(*) AS c FROM
          (SELECT DISTINCT pv AS pd FROM p WHERE pv IS NOT NULL) d
          JOIN (SELECT pv FROM p WHERE pv IS NOT NULL) x ON x.pv <= d.pd
        GROUP BY 1),
cut AS (SELECT MAX(pd) AS cut FROM cnt, m WHERE pd <= c * 0.1 / m)
SELECT lang, ROUND(k, 4) AS ks_stat, ROUND(pv, 6) AS p,
       m::BIGINT AS m_tests, ROUND(cut, 6) AS p_cutoff,
       COALESCE(pv <= cut, FALSE) AS rejected
FROM p, m, cut ORDER BY lang;""",
)
def x199(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import fdr_bh, ks_test

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    ks = ks_test(docs, "n_chars", "source", "src0", "src1", slice_col="lang")
    # persist the lang-count-sized p-value relation (round 16, guide
    # §5): fdr_bh consumes its input three times (distinct-p counts,
    # the m total, the final join-back) and each re-ran the whole
    # per-slice KS pipeline. Interleaved A/B: 2.50 -> 1.95 s.
    from swivel_spark_prep_spark.cache import track_persist

    withp = track_persist(ks.select(
        "lang",
        F.col("ks_stat").alias("k"),
        F.least(F.lit(1.0), 2 * F.exp(-2 * F.col("ks_stat") * F.col("ks_stat"))).alias(
            "pv"
        ),
    ))
    return (
        fdr_bh(withp, "pv", q=0.1)
        .select(
            "lang",
            F.round("k", 4).alias("ks_stat"),
            F.round("pv", 6).alias("p"),
            F.col("m_tests").cast("long").alias("m_tests"),
            F.round("p_cutoff", 6).alias("p_cutoff"),
            "rejected",
        )
        .orderBy("lang")
    )


@_declare(
    "X200_map_funcs",
    # MAP-type surface (the complex-type triad's third leg next to
    # Q29/Q30 arrays and Q31 JSON): per-user event_type->count maps via
    # map_from_entries, then map_filter / map_keys / element_at / size
    # — all map plumbing stays Spark-side; the oracle computes the
    # equivalent values relationally (list_filter + list_sort), so
    # parity pins the SEMANTICS, not the storage type.
    """WITH c AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS n
          FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
m AS (SELECT user_id,
             COUNT(*)::BIGINT AS n_types,
             COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN n END), 0) AS purchases,
             array_to_string(list_sort(list(event_type) FILTER (WHERE n >= 5)), ',') AS heavy_types
      FROM c GROUP BY 1)
SELECT user_id, n_types, purchases, heavy_types FROM m ORDER BY user_id;""",
)
def x200(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    heavy = F.array_join(
        F.array_sort(F.map_keys(F.map_filter("m", lambda k, v: v >= 5))), ","
    )
    return mapped.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", "purchase"), F.lit(0)).alias("purchases"),
        heavy.alias("heavy_types"),
    ).orderBy("user_id")


@_declare(
    "X201_doc_keywords",
    # Per-document TF-IDF keyword tags (search.doc_keywords): top-3
    # terms per doc by tf·ln(N/df), ties by term — one per-doc window
    # over the weighted posting relation; the oracle replays the exact
    # weights and the same tie order. First 50 docs for bounded output.
    """WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
tf AS (SELECT term, doc_id, COUNT(*)::DOUBLE AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
n AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM documents),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (SELECT doc_id AS id, tf.term, tf.tf * ln(n.n / dfr.df) AS w
      FROM tf JOIN dfr USING (term), n),
r AS (SELECT id, term, w,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, term ASC) AS rank
      FROM w)
SELECT id, rank::BIGINT AS rank, term, ROUND(w, 6) AS w
FROM r WHERE rank <= 3 AND id < 50 ORDER BY id, rank;""",
)
def x201(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import doc_keywords

    docs = load_table(spark, sf_dir, "documents")
    return (
        doc_keywords(docs, k=3)
        .filter(F.col("id") < 50)
        .select(
            "id",
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.round("w", 6).alias("w"),
        )
        .orderBy("id", "rank")
    )


@_declare(
    "X202_frequent_paths",
    # Top-20 3-step event sequences (timeseries.frequent_paths): the
    # n-gram generalization of the Markov transition matrix, per-user
    # lag windows tie-broken by event_id; the oracle replays the same
    # trailing-gram construction and (count desc, path) rank.
    """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL),
g AS (SELECT
        LAG(event_type, 2) OVER w AS s0,
        LAG(event_type, 1) OVER w AS s1,
        event_type AS s2
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT s0 || '>' || s1 || '>' || s2 AS path, COUNT(*)::BIGINT AS n
FROM g WHERE s0 IS NOT NULL AND s1 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20;""",
)
def x202(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import frequent_paths

    ev = load_table(spark, sf_dir, "events")
    return frequent_paths(
        ev, "user_id", "ts", "event_type", length=3, k=20, tiebreak_col="event_id"
    )


@_declare(
    "X203_seasonal_anomaly",
    # Hour-of-day seasonal anomaly profile (timeseries.seasonal_anomaly,
    # Iglewicz-Hoaglin modified z over the diurnal median/MAD baseline),
    # rolled up per hour; both engines replay the exact interpolated
    # percentiles and the 0.6745 robust z.
    """WITH b AS (SELECT (epoch_us(ts) // 1000000 // 3600 % 24)::INT AS hour, value
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
med AS (SELECT hour, quantile_cont(value, 0.5) AS med FROM b GROUP BY 1),
mad AS (SELECT hour, quantile_cont(abs(value - med), 0.5) AS mad
        FROM b JOIN med USING (hour) GROUP BY 1),
s AS (SELECT b.hour, value, med, mad,
             CASE WHEN mad > 0 THEN 0.6745 * abs(value - med) / mad END AS mz
      FROM b JOIN med USING (hour) JOIN mad USING (hour))
SELECT hour, COUNT(*)::BIGINT AS n,
       SUM((CASE WHEN mad > 0 THEN mz > 3.5 ELSE abs(value - med) > 0 END)::INT)::BIGINT AS n_anomalies,
       ROUND(ANY_VALUE(med), 6) AS med, ROUND(ANY_VALUE(mad), 6) AS mad
FROM s GROUP BY 1 ORDER BY hour;""",
)
def x203(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import seasonal_anomaly

    ev = load_table(spark, sf_dir, "events")
    flagged = seasonal_anomaly(ev, "ts", "value").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    return (
        flagged.groupBy("hour")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
        .orderBy("hour")
    )


@_declare(
    "X204_procrustes_drift",
    # Orthogonal-Procrustes embedding-drift audit (pca.procrustes_drift,
    # Schonemann 1966): B is A under a deterministic signed dimension
    # permutation — an exact orthogonal map — so the report must find
    # rms_after ~ 0 while rms_before is large (the drift-vs-rotation
    # distinction the raw delta gets wrong). Sufficient-stats passes +
    # driver SVD are not SQL-expressible: rows-only at the driver, the
    # exactness pins live in tests/test_round11h_ops.py.
    None,
)
def x204(spark, sf_dir):
    from swivel_spark_prep_spark.operators.pca import procrustes_drift

    emb = load_table(spark, sf_dir, "embeddings")
    d = 64
    # signed rotation: dim j of B = sign_j * dim perm(j) of A, with
    # perm = reverse and sign alternating — orthogonal by construction
    b = emb.select(
        "vec_id",
        F.array(
            *[
                (F.lit(1.0 if j % 2 == 0 else -1.0))
                * F.element_at("embedding", d - j).cast("double")
                for j in range(d)
            ]
        ).alias("embedding"),
    )
    return procrustes_drift(emb, b).select(
        "n",
        "d",
        F.round("rms_before", 4).alias("rms_before"),
        F.round("rms_after", 4).alias("rms_after"),
        F.round("mean_cos_aligned", 4).alias("mean_cos_aligned"),
    )


@_declare(
    "X205_theil_sen",
    # Robust per-user trend (timeseries.theil_sen_trend): Theil-Sen
    # median-of-pairwise-slopes + Mann-Kendall S and its normal z —
    # one keyed per-user pair join (quadratic per SHORT series by
    # definition, hash-partitioned, never a cross join), exact median.
    # Both engines replay the identical pair relation and arithmetic.
    """WITH b AS (SELECT user_id AS g, epoch_us(ts) / 3600e6 AS t, value AS x
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
p AS (SELECT a.g, (b2.x - a.x) / (b2.t - a.t) AS sl, sign(b2.x - a.x) AS sg
      FROM b a JOIN b b2 ON a.g = b2.g AND a.t < b2.t),
per AS (SELECT g, quantile_cont(sl, 0.5) AS slope, SUM(sg)::BIGINT AS mk_s
        FROM p GROUP BY 1),
c AS (SELECT g, COUNT(*)::BIGINT AS n FROM b GROUP BY 1)
SELECT g AS user_id, n AS n_points, ROUND(slope, 6) AS slope, mk_s,
       ROUND(CASE WHEN n >= 10 THEN
         CASE WHEN mk_s > 0 THEN (mk_s - 1) / sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
              WHEN mk_s < 0 THEN (mk_s + 1) / sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
              ELSE 0.0 END END, 6) AS mk_z
FROM c JOIN per USING (g) WHERE n >= 3 ORDER BY user_id;""",
)
def x205(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import theil_sen_trend

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3600e6).alias("th"),
        "value",
    )
    return theil_sen_trend(d, "user_id", "th", "value").orderBy("user_id")


@_declare(
    "X206_linear_attribution",
    # Linear multi-touch attribution (timeseries.linear_attribution):
    # each user's FIRST purchase splits one credit unit equally over
    # every strictly-earlier touch ((ts, event_id) total order) — the
    # equal-credit dual of X?_first_touch. Σ credit = converting users
    # with >= 1 prior touch (conservation pinned in tests). The oracle
    # replays the identical window scoping and 1/k split.
    """WITH conv AS (
  SELECT user_id, min(ROW(ts, event_id)) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
touch AS (
  SELECT e.user_id, e.event_type
  FROM events e JOIN conv USING (user_id)
  WHERE ROW(e.ts, e.event_id) < conv.c),
put AS (SELECT user_id, event_type, COUNT(*)::DOUBLE AS n FROM touch GROUP BY 1, 2),
pu AS (SELECT user_id, SUM(n) AS k FROM put GROUP BY 1)
SELECT event_type AS touch_type,
       ROUND(SUM(n / k), 6) AS credit,
       COUNT(DISTINCT user_id)::BIGINT AS n_users
FROM put JOIN pu USING (user_id) GROUP BY 1 ORDER BY touch_type;""",
)
def x206(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import linear_attribution

    ev = load_table(spark, sf_dir, "events")
    return linear_attribution(ev).orderBy("touch_type")


@_declare(
    "X207_token_ig",
    # Token information gain vs lang='en' (textstats.
    # token_information_gain, Yang & Pedersen 1997): presence-based
    # IG = H(Y) - H(Y|X_w) over distinct (doc, token), entropy algebra
    # with guarded 0*ln0 — the feature-selection screen before hashed-
    # feature training. The oracle replays the identical marginals and
    # entropy arithmetic.
    """WITH base AS (SELECT doc_id, (lang = 'en')::INT AS y, text FROM documents
            WHERE lang IS NOT NULL),
tot AS (SELECT COUNT(*)::DOUBLE AS n, SUM(y)::DOUBLE AS n1 FROM base),
toks AS (SELECT DISTINCT doc_id, y, w FROM (
  SELECT doc_id, y, unnest(string_split(lower(text), ' ')) AS w FROM base)
  WHERE w <> ''),
per AS (SELECT w, COUNT(*)::DOUBLE AS df, SUM(y)::DOUBLE AS df1
        FROM toks GROUP BY 1 HAVING COUNT(*) >= 2),
e AS (SELECT w, df, df1, n, n1,
        df1 / df AS p1w, n1 / n AS p1, df / n AS pw,
        (n1 - df1) / (n - df) AS p1nw
      FROM per, tot)
SELECT w AS token, df::BIGINT AS df, ROUND(p1w, 6) AS p_pos_given_token,
  ROUND(
    (CASE WHEN p1 > 0 AND p1 < 1 THEN -p1 * ln(p1) - (1 - p1) * ln(1 - p1) ELSE 0 END)
    - pw * (CASE WHEN p1w > 0 AND p1w < 1 THEN -p1w * ln(p1w) - (1 - p1w) * ln(1 - p1w) ELSE 0 END)
    - (1 - pw) * (CASE WHEN n > df AND p1nw > 0 AND p1nw < 1
                  THEN -p1nw * ln(p1nw) - (1 - p1nw) * ln(1 - p1nw) ELSE 0 END),
  6) AS ig
FROM e ORDER BY ig DESC, token ASC LIMIT 20;""",
)
def x207(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        token_information_gain,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    labeled = docs.withColumn("is_en", F.col("lang") == "en")
    return token_information_gain(labeled, "is_en", k=20)


@_declare(
    "X208_bootstrap_uplift",
    # Two-sample Poisson-bootstrap uplift CI (sampling.bootstrap_diff_ci):
    # the purchase-vs-click mean-value difference with a 95% percentile
    # interval — the "how big, with what uncertainty" companion to
    # X198's Welch t; the oracle replays every Poisson weight and both
    # percentile endpoints.
    """WITH base AS (
  SELECT event_type AS g, event_id::VARCHAR AS id, value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
hs AS (SELECT g, x, h,
             fmod(0.6180339887498949 * (1.0 + h), 1.0) AS s
      FROM (SELECT g, x,
              ('0x' || substr(md5('boot:' || id), 1, 15))::BIGINT
                / 1152921504606846976.0 AS h
            FROM base)),
wts AS (SELECT g, b, x,
  CASE
    WHEN u < 0.36787944117144233 THEN 0
    WHEN u < 0.7357588823428847 THEN 1
    WHEN u < 0.9196986029286058 THEN 2
    WHEN u < 0.9810118431238462 THEN 3
    WHEN u < 0.9963401531726563 THEN 4
    WHEN u < 0.9994058151824183 THEN 5
    ELSE 6 END AS w
  FROM (SELECT g, x, fmod(h + b * s, 1.0) AS u, b
        FROM hs, range(1, 101) t(b))),
per AS (SELECT b,
          SUM(w * x * (g = 'purchase')::INT) AS sa, SUM(w * (g = 'purchase')::INT) AS wa,
          SUM(w * x * (g = 'click')::INT) AS sb, SUM(w * (g = 'click')::INT) AS wb
        FROM wts GROUP BY 1 HAVING SUM(w * (g = 'purchase')::INT) > 0
                              AND SUM(w * (g = 'click')::INT) > 0),
d AS (SELECT sa / wa - sb / wb AS d FROM per),
ci AS (SELECT COUNT(*)::BIGINT AS b_used,
              quantile_cont(d, 0.025) AS lo, quantile_cont(d, 0.975) AS hi FROM d),
pt AS (SELECT SUM((g = 'purchase')::INT)::BIGINT AS n_a,
              AVG(CASE WHEN g = 'purchase' THEN x END) AS ma,
              SUM((g = 'click')::INT)::BIGINT AS n_b,
              AVG(CASE WHEN g = 'click' THEN x END) AS mb
       FROM base)
SELECT n_a, ROUND(ma, 6) AS mean_a, n_b, ROUND(mb, 6) AS mean_b,
       ROUND(ma - mb, 6) AS diff, ROUND(lo, 6) AS ci_lo, ROUND(hi, 6) AS ci_hi,
       b_used
FROM pt, ci;""",
)
def x208(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import bootstrap_diff_ci

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_diff_ci(
        ev, "value", "event_id", "event_type", "purchase", "click", replicates=100
    )


@_declare(
    "X209_anova_f",
    # One-way ANOVA over event types (evalmetrics.anova_oneway, Fisher):
    # does mean event value differ across the k=5 types, with eta-sq
    # effect size. Pure per-group raw moments -> 1-row arithmetic; the
    # oracle replays the identical sufficient-stats decomposition.
    """WITH per AS (
  SELECT event_type AS g, COUNT(*)::DOUBLE AS n, SUM(value) AS s,
         SUM(value * value) AS ss
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
tot AS (SELECT COUNT(*)::BIGINT AS k, SUM(n) AS N, SUM(s) AS S,
               SUM(s * s / n) AS B, SUM(ss) AS SS FROM per)
SELECT k, N::BIGINT AS n,
       ROUND(B - S * S / N, 6) AS ss_between,
       ROUND(SS - B, 6) AS ss_within,
       ROUND(CASE WHEN k > 1 AND N > k AND SS - B > 0
             THEN ((B - S * S / N) / (k - 1)) / ((SS - B) / (N - k)) END, 6)
         AS f_stat,
       ROUND(CASE WHEN SS - S * S / N > 0
             THEN (B - S * S / N) / (SS - S * S / N) END, 6) AS eta_sq
FROM tot;""",
)
def x209(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import anova_oneway

    ev = load_table(spark, sf_dir, "events")
    return anova_oneway(ev, "value", "event_type")


@_declare(
    "X210_mann_whitney",
    # Mann-Whitney-Wilcoxon rank-sum (evalmetrics.mann_whitney_u) on
    # purchase-vs-click event values + Cliff's delta effect size -- the
    # distribution-free companion to X198's Welch t. Midranks are the
    # value-cardinality prefix-sum pass (Spearman's transform); the
    # oracle computes the same midranks with a window (fine at oracle
    # scale) and the identical tie-corrected z.
    """WITH base AS (SELECT event_type AS g, value::DOUBLE AS x FROM events
            WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
ranked AS (SELECT g, x,
             RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS r
           FROM base),
per AS (SELECT
          SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS na,
          SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::DOUBLE AS nb,
          SUM(CASE WHEN g = 'purchase' THEN r END) AS ra
        FROM ranked),
ties AS (SELECT SUM(t * t * t - t) AS tie3
         FROM (SELECT COUNT(*)::DOUBLE AS t FROM base GROUP BY x)),
e AS (SELECT na, nb, ra - na * (na + 1) / 2.0 AS ua,
             na * nb / 2.0 AS mu,
             (na * nb / 12.0) * ((na + nb + 1)
               - tie3 / ((na + nb) * (na + nb - 1))) AS sig2
      FROM per, ties)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(ua, 6) AS u_a, ROUND(na * nb - ua, 6) AS u_b,
       ROUND(CASE WHEN sig2 > 0 AND na > 0 AND nb > 0 THEN
         (CASE WHEN ua > mu THEN ua - mu - 0.5
               WHEN ua < mu THEN ua - mu + 0.5 ELSE 0.0 END) / sqrt(sig2)
       END, 6) AS z,
       ROUND(CASE WHEN na * nb > 0 THEN 2.0 * ua / (na * nb) - 1.0 END, 6)
         AS cliffs_delta
FROM e;""",
)
def x210(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X211_weighted_median",
    # Weighted quantiles (ranks.weighted_quantile): per return-flag
    # quartile/median/p90 of extended price weighted by quantity -- the
    # left-continuous inverse CDF min{v : cum_w >= q*W}, one shared
    # value-cardinality prefix-sum pass for all three qs. The oracle
    # replays the same inverse CDF with a cumulative window.
    """WITH dv AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                        SUM(l_quantity)::DOUBLE AS w
                 FROM lineitem GROUP BY 1, 2),
cum AS (SELECT g, v, SUM(w) OVER (PARTITION BY g ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY g) AS W
        FROM dv),
qs AS (SELECT unnest([0.25, 0.5, 0.9]) AS q)
SELECT g AS l_returnflag, q, MIN(v) AS value
FROM cum, qs WHERE cw >= q * W
GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x211(spark, sf_dir):
    from swivel_spark_prep_spark.operators.ranks import weighted_quantile

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_quantile(
        li,
        "l_extendedprice",
        "l_quantity",
        [0.25, 0.5, 0.9],
        group_cols=["l_returnflag"],
    ).select(
        F.col("l_returnflag"), "q", "value"
    ).orderBy("l_returnflag", "q")


@_declare(
    "X212_cuped_uplift",
    # CUPED variance-reduced difference (evalmetrics.cuped_uplift, Deng
    # et al. WSDM 2013): en-vs-de mean doc length adjusted by the token
    # count covariate (theta = cov/var pooled) -- the experiment-
    # sensitivity op; here token count explains most of n_chars'
    # variance, so var_reduction shows the CUPED payoff. The oracle
    # replays the raw-moment arithmetic.
    """WITH base AS (
  SELECT lang AS g, n_chars::DOUBLE AS y,
         len(string_split(text, ' '))::DOUBLE AS x
  FROM documents WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        AND text IS NOT NULL),
pool AS (SELECT COUNT(*)::DOUBLE AS N, SUM(x) AS Sx, SUM(y) AS Sy,
               SUM(x * x) AS Sxx, SUM(y * y) AS Syy, SUM(x * y) AS Sxy
        FROM base),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(y) AS my, AVG(x) AS mx
        FROM base GROUP BY 1),
j AS (SELECT a.n AS na, a.my AS mya, a.mx AS mxa,
             b.n AS nb, b.my AS myb, b.mx AS mxb, pool.*
      FROM (SELECT * FROM per WHERE g = 'en') a,
           (SELECT * FROM per WHERE g = 'de') b, pool),
e AS (SELECT *, N * Sxx - Sx * Sx AS vx, N * Syy - Sy * Sy AS vy,
             N * Sxy - Sx * Sy AS cxy,
             CASE WHEN N * Sxx - Sx * Sx > 0
                  THEN (N * Sxy - Sx * Sy) / (N * Sxx - Sx * Sx) END AS theta
      FROM j)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(mya, 6) AS mean_a, ROUND(myb, 6) AS mean_b,
       ROUND(mya - myb, 6) AS diff_raw, ROUND(theta, 6) AS theta,
       ROUND(mya - theta * (mxa - Sx / N), 6) AS adj_mean_a,
       ROUND(myb - theta * (mxb - Sx / N), 6) AS adj_mean_b,
       ROUND((mya - theta * (mxa - Sx / N))
             - (myb - theta * (mxb - Sx / N)), 6) AS diff_cuped,
       ROUND(CASE WHEN vx > 0 AND vy > 0
             THEN sqrt(cxy * cxy / (vx * vy)) * sign(cxy) END, 6) AS corr_xy,
       ROUND(CASE WHEN vx > 0 AND vy > 0
             THEN cxy * cxy / (vx * vy) END, 6) AS var_reduction
FROM e;""",
)
def x212(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cuped_uplift

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isin(["en", "de"])
            & F.col("n_chars").isNotNull()
            & F.col("text").isNotNull()
        )
        .select(
            "lang",
            F.col("n_chars").cast("double").alias("y"),
            F.size(F.split(F.col("text"), " ", -1)).cast("double").alias("x"),
        )
    )
    return cuped_uplift(docs, "y", "x", "lang", "en", "de")


@_declare(
    "X213_pareto_front",
    # 2-D skyline (skyline.pareto_front_2d, Borzsonyi et al. ICDE 2001):
    # orders no other order beats on BOTH total price and recency. The
    # engine's plan is two hash aggregates + one prefix-extremum pass +
    # a keyed semi-join (never the quadratic block-nested-loop skyline);
    # the oracle is the INDEPENDENT NOT-EXISTS dominance definition --
    # a semantics check, not an arithmetic replay.
    """SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders o
WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM orders s
    WHERE s.o_totalprice IS NOT NULL AND s.o_orderdate IS NOT NULL
      AND s.o_totalprice >= o.o_totalprice AND s.o_orderdate >= o.o_orderdate
      AND (s.o_totalprice > o.o_totalprice OR s.o_orderdate > o.o_orderdate))
ORDER BY o_orderkey;""",
)
def x213(spark, sf_dir):
    from swivel_spark_prep_spark.operators.skyline import pareto_front_2d

    orders = load_table(spark, sf_dir, "orders")
    return (
        pareto_front_2d(orders, "o_totalprice", "o_orderdate")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    )


@_declare(
    "X214_good_turing",
    # Simple Good-Turing smoothing (lm.good_turing_smooth, Gale &
    # Sampson 1995) over the whitespace-token frequency spectrum:
    # Turing estimates in the dense low-r region, the log-log LGT fit
    # beyond the Gale-Sampson switch, P0 unseen mass, renormalized p_r.
    # The oracle replays the full pipeline (neighbors via lag/lead over
    # the O(sqrt N)-row spectrum, the OLS fit, the switch-point min,
    # the renormalization) in SQL.
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents
            WHERE text IS NOT NULL),
cnt AS (SELECT w, COUNT(*)::BIGINT AS r FROM toks WHERE w <> '' GROUP BY 1),
nr AS (SELECT r, COUNT(*)::DOUBLE AS n_r FROM cnt GROUP BY 1),
nb AS (SELECT r, n_r,
              COALESCE(LAG(r) OVER (ORDER BY r), 0)::DOUBLE AS q,
              LEAD(r) OVER (ORDER BY r) AS t_raw
       FROM nr),
z AS (SELECT r, n_r,
             n_r / (0.5 * (COALESCE(t_raw::DOUBLE, 2.0 * r - q) - q)) AS z
      FROM nb),
fit AS (SELECT CASE WHEN COUNT(*) * SUM(ln(r) * ln(r)) - SUM(ln(r)) * SUM(ln(r)) > 0
          THEN (COUNT(*) * SUM(ln(r) * ln(z)) - SUM(ln(r)) * SUM(ln(z)))
             / (COUNT(*) * SUM(ln(r) * ln(r)) - SUM(ln(r)) * SUM(ln(r))) END AS b
        FROM z),
est AS (SELECT z.r, z.n_r,
               (z.r + 1) * n2.n_r / z.n_r AS turing,
               z.r * pow(1.0 + 1.0 / z.r, fit.b + 1.0) AS lgt,
               sqrt(pow(z.r + 1, 2) * n2.n_r / (z.n_r * z.n_r)
                    * (1.0 + n2.n_r / z.n_r)) AS sd
        FROM z LEFT JOIN nr n2 ON n2.r = z.r + 1, fit),
sw AS (SELECT MIN(r) AS switch_r FROM est
       WHERE turing IS NULL OR abs(turing - lgt) <= 1.65 * sd),
star AS (SELECT r, n_r,
                CASE WHEN r < COALESCE(switch_r, 1) THEN turing ELSE lgt END
                  AS rstar
         FROM est, sw),
norm AS (SELECT SUM(r * n_r) AS N, SUM(n_r * rstar) AS mass,
                MAX(CASE WHEN r = 1 THEN n_r END) AS n1
         FROM star)
SELECT r, n_r::BIGINT AS n_r, ROUND(rstar, 6) AS r_star,
       ROUND((rstar / N) * ((1.0 - COALESCE(n1 / N, 0.0)) / (mass / N)), 9)
         AS p_r,
       ROUND(COALESCE(n1 / N, 0.0), 9) AS p0
FROM star, norm ORDER BY r;""",
)
def x214(spark, sf_dir):
    from swivel_spark_prep_spark.operators.lm import good_turing_smooth

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = (
        docs.select(
            F.explode(F.split(F.col("text"), " ", -1)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    return good_turing_smooth(counts, "c")


@_declare(
    "X215_nelson_aalen",
    # Nelson-Aalen cumulative hazard (timeseries.nelson_aalen, Nelson
    # 1972 / Aalen 1978) over X197's time-to-first-error cohort: H(t) =
    # sum d/n with the Klein-form variance sum d(n-d)/n^3 -- the
    # additive-rate dual of X197's product-limit S. Same two-prefix-
    # sum-pass plan; the oracle replays both running sums as windows
    # over the 49-row distinct-duration relation.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev
  FROM u),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM subj),
per AS (SELECT t, SUM(ev)::BIGINT AS d, COUNT(*)::BIGINT AS c FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM per),
r AS (SELECT t, d, (n - (cc - c))::BIGINT AS nr FROM cum, tot),
f2 AS (SELECT t, d, nr,
              d::DOUBLE / nr AS h,
              d::DOUBLE * (nr - d) / (nr::DOUBLE * nr * nr) AS v
       FROM r),
s AS (SELECT t, d, nr,
             SUM(h) OVER w AS hc, SUM(v) OVER w AS vc
      FROM f2
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT t AS duration, nr AS n_risk, d AS d_events,
       ROUND(hc, 6) AS cum_hazard, ROUND(vc, 9) AS var_hazard
FROM s WHERE d > 0 ORDER BY duration;""",
)
def x215(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import nelson_aalen

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
    )
    return nelson_aalen(subj, "t", "ev").orderBy("duration")


@_declare(
    "X216_logrank_test",
    # Two-sample log-rank test (timeseries.logrank_test, Mantel 1966):
    # do odd- and even-numbered users churn to first error at the same
    # rate? O_A - E_A with the hypergeometric variance at each distinct
    # event time; risk sets from ONE shared prefix-sum pass over both
    # groups' removal counts. The oracle replays the identical risk-set
    # windows and the 1-row O/E/V reduction.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev,
    (user_id % 2 = 1)::INT AS a
  FROM u),
tot AS (SELECT SUM(a)::BIGINT AS na, SUM(1 - a)::BIGINT AS nb FROM subj),
per AS (SELECT t,
          SUM(ev * a)::BIGINT AS da, SUM(ev * (1 - a))::BIGINT AS db,
          SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
        FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb FROM per
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
r AS (SELECT t, da, db,
             (na - (cca - ca))::DOUBLE AS nra, (nb - (ccb - cb))::DOUBLE AS nrb
      FROM cum, tot),
terms AS (SELECT da,
            nra * (da + db) / (nra + nrb) AS ea,
            CASE WHEN nra + nrb > 1 THEN
              nra * nrb * (da + db) * (nra + nrb - da - db)
              / ((nra + nrb) * (nra + nrb) * (nra + nrb - 1))
            ELSE 0.0 END AS v
          FROM r WHERE da + db > 0),
stat AS (SELECT SUM(da)::BIGINT AS oa, SUM(ea) AS easum, SUM(v) AS vsum
         FROM terms)
SELECT na AS n_a, nb AS n_b, oa AS observed_a,
       ROUND(easum, 6) AS expected_a,
       ROUND(CASE WHEN vsum > 0 THEN pow(oa - easum, 2) / vsum END, 6) AS chi2,
       ROUND(CASE WHEN vsum > 0 THEN (oa - easum) / sqrt(vsum) END, 6) AS z
FROM stat, tot;""",
)
def x216(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import logrank_test

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
        (F.col("user_id") % 2).cast("int").alias("grp"),
    )
    return logrank_test(subj, "t", "ev", "grp", 1, 0)


@_declare(
    "X217_kruskal_wallis",
    # Kruskal-Wallis H (evalmetrics.kruskal_wallis, 1952): do the five
    # event types share a value distribution? Pooled midranks via the
    # value-cardinality prefix-sum pass, per-group rank sums, tie
    # correction from the distinct-value relation, Kelley's epsilon-sq
    # effect size. The oracle computes the same midranks with a window
    # (fine at oracle scale) and the identical H / H_adj algebra.
    """WITH base AS (SELECT event_type AS g, value::DOUBLE AS x FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL),
ranked AS (SELECT g, x,
             RANK() OVER (ORDER BY x) + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS r
           FROM base),
per AS (SELECT g, COUNT(*)::DOUBLE AS ng, SUM(r) AS rg FROM ranked GROUP BY 1),
stat AS (SELECT COUNT(*)::BIGINT AS k, SUM(ng) AS N,
                SUM(rg * rg / ng) AS rr FROM per),
ties AS (SELECT SUM(t * t * t - t) AS tie3
         FROM (SELECT COUNT(*)::DOUBLE AS t FROM base GROUP BY x)),
e AS (SELECT k, N,
             CASE WHEN N > 1 AND k > 1
                  THEN 12.0 / (N * (N + 1)) * rr - 3.0 * (N + 1) END AS h,
             1.0 - tie3 / (N * N * N - N) AS c
      FROM stat, ties)
SELECT k, N::BIGINT AS n, ROUND(h, 6) AS h,
       ROUND(CASE WHEN c > 0 THEN h / c END, 6) AS h_adj,
       ROUND(CASE WHEN N > 1 THEN h / (N - 1) END, 6) AS epsilon_sq
FROM e;""",
)
def x217(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import kruskal_wallis

    ev = load_table(spark, sf_dir, "events")
    return kruskal_wallis(ev, "value", "event_type")


@_declare(
    "X218_brier_decomposition",
    # Murphy decomposition of the Brier score (evalmetrics.
    # brier_decomposition) for X152's length-sigmoid lang='en'
    # pseudo-model: exact BS, binned reliability/resolution,
    # base-rate uncertainty, and the REPORTED within-bin residual
    # (BS = REL - RES + UNC holds only for bin-constant forecasts).
    # The oracle replays the identical 10-bin raw-moment reduction.
    """WITH g AS (SELECT 1 / (1 + exp(-(n_chars - 350) / 60.0)) AS p,
                 (lang = 'en')::INT::DOUBLE AS y
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
b AS (SELECT GREATEST(0, LEAST(9, FLOOR(p * 10)))::BIGINT AS bin, p, y FROM g),
per AS (SELECT bin, COUNT(*)::DOUBLE AS n, SUM(p) AS sp, SUM(y) AS sy,
               SUM((p - y) * (p - y)) AS se
        FROM b GROUP BY 1),
tot AS (SELECT SUM(n) AS N, SUM(se) AS SE, SUM(sy) AS SY,
               SUM(n * (sp / n - sy / n) * (sp / n - sy / n)) AS REL,
               SUM(n * (sy / n) * (sy / n)) AS SYY
        FROM per),
e AS (SELECT N, SE / N AS brier, REL / N AS rel,
             (SYY - N * (SY / N) * (SY / N)) / N AS res,
             (SY / N) * (1 - SY / N) AS unc
      FROM tot)
SELECT N::BIGINT AS n, ROUND(brier, 6) AS brier,
       ROUND(rel, 6) AS reliability, ROUND(res, 6) AS resolution,
       ROUND(unc, 6) AS uncertainty,
       ROUND(brier - (rel - res + unc), 6) AS residual
FROM e;""",
)
def x218(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import brier_decomposition

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    ).select(
        F.expr("1 / (1 + exp(-(n_chars - 350) / 60.0))").alias("p"),
        (F.col("lang") == "en").alias("y"),
    )
    return brier_decomposition(scored, "p", "y", bins=10)


@_declare(
    "X219_mcnemar",
    # McNemar's paired test (evalmetrics.mcnemar_test, 1947): are two
    # rule classifiers for lang='en' — A: contains ' the ', B:
    # contains ' and ' — equally accurate ON THE SAME documents?
    # Only the discordant cells b/c enter; Edwards continuity
    # correction clamped at 0. One contingency aggregate.
    """WITH g AS (SELECT
    (text LIKE '% the %') = (lang = 'en') AS ca,
    (text LIKE '% and %') = (lang = 'en') AS cb
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
row1 AS (SELECT COUNT(*)::BIGINT AS n,
               SUM((ca AND cb)::INT)::BIGINT AS both_correct,
               SUM((ca AND NOT cb)::INT)::BIGINT AS a_only,
               SUM((NOT ca AND cb)::INT)::BIGINT AS b_only,
               SUM((NOT ca AND NOT cb)::INT)::BIGINT AS both_wrong
        FROM g)
SELECT n, both_correct, a_only, b_only, both_wrong,
       ROUND(CASE WHEN a_only + b_only > 0 THEN
         pow(GREATEST(abs(a_only - b_only) - 1, 0), 2)
           / (a_only + b_only) END, 6) AS chi2
FROM row1;""",
)
def x219(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mcnemar_test

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    en = F.col("lang") == "en"
    paired = docs.select(
        (F.col("text").like("% the %") == en).alias("ca"),
        (F.col("text").like("% and %") == en).alias("cb"),
    )
    return mcnemar_test(paired, "ca", "cb")


@_declare(
    "X220_woe_iv",
    # Weight-of-evidence / information value screen (quality.woe_iv,
    # Siddiqi 2006): how much does doc length predict lang='en'?
    # Equi-width bins from a 1-row min/max (pure codegen bucketing the
    # oracle replays bit-for-bit), half-count-smoothed WOE, per-bin IV
    # contributions + the '__iv__' total row.
    """WITH g AS (SELECT n_chars::DOUBLE AS x, (lang = 'en')::INT::DOUBLE AS y
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM g),
b AS (SELECT CASE WHEN hi = lo THEN 0
             ELSE GREATEST(0, LEAST(9, FLOOR((x - lo) / ((hi - lo) / 10)))) END::BIGINT AS bin,
             y, lo, hi
      FROM g, rng),
per AS (SELECT bin, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS goods,
               SUM(1 - y)::BIGINT AS bads, FIRST(lo) AS lo0, FIRST(hi) AS hi0
        FROM b GROUP BY 1),
tot AS (SELECT SUM(goods)::DOUBLE AS G, SUM(bads)::DOUBLE AS B FROM per),
rows1 AS (SELECT 'bin' AS kind, bin,
    ROUND(lo0 + bin * ((hi0 - lo0) / 10), 6) AS lo,
    ROUND(CASE WHEN bin = 9 THEN hi0
          ELSE lo0 + (bin + 1) * ((hi0 - lo0) / 10) END, 6) AS hi,
    n, goods, bads,
    ROUND(ln((goods + 0.5) / G) - ln((bads + 0.5) / B), 6) AS woe,
    ROUND((goods / G - bads / B)
          * (ln((goods + 0.5) / G) - ln((bads + 0.5) / B)), 6) AS iv
  FROM per, tot),
s AS (SELECT '__iv__' AS kind, NULL::BIGINT AS bin, NULL::DOUBLE AS lo,
             NULL::DOUBLE AS hi, SUM(n)::BIGINT AS n,
             SUM(goods)::BIGINT AS goods, SUM(bads)::BIGINT AS bads,
             NULL::DOUBLE AS woe, ROUND(SUM(iv), 6) AS iv
      FROM rows1)
SELECT * FROM rows1 UNION ALL SELECT * FROM s ORDER BY kind, bin;""",
)
def x220(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import woe_iv

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    ).select("n_chars", (F.col("lang") == "en").alias("is_en"))
    return woe_iv(labeled, "n_chars", "is_en", bins=10).orderBy("kind", "bin")


@_declare(
    "X221_cochran_armitage",
    # Cochran-Armitage trend test (evalmetrics.cochran_armitage): does
    # the completed-order ('F') rate trend with priority 1..5? The
    # dose-response test an order-blind k x 2 chi-square cannot ask.
    # One grouped aggregate to 5 rows + a 1-row reduction; the oracle
    # replays the score algebra.
    """WITH base AS (SELECT substr(o_orderpriority, 1, 1)::DOUBLE AS s,
                    (o_orderstatus = 'F')::INT::DOUBLE AS y
             FROM orders
             WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
per AS (SELECT s, COUNT(*)::DOUBLE AS n, SUM(y) AS r FROM base GROUP BY 1),
tot AS (SELECT COUNT(*)::BIGINT AS k, SUM(n) AS N, SUM(r) AS R,
               SUM(s * r) AS sr, SUM(s * n) AS sn, SUM(s * s * n) AS ssn
        FROM per),
e AS (SELECT k, N, R, R / N AS pbar, sr - sn * (R / N) AS t,
             (R / N) * (1 - R / N) * (ssn - sn * sn / N) AS var
      FROM tot)
SELECT k, N::BIGINT AS n, R::BIGINT AS successes, ROUND(pbar, 6) AS p_bar,
       ROUND(CASE WHEN var > 0 THEN t / sqrt(var) END, 6) AS z,
       ROUND(CASE WHEN var > 0 THEN t * t / var END, 6) AS chi2
FROM e;""",
)
def x221(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cochran_armitage

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull() & F.col("o_orderstatus").isNotNull()
    )
    scored = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("double").alias("s"),
        (F.col("o_orderstatus") == "F").alias("y"),
    )
    return cochran_armitage(scored, "s", "y")


@_declare(
    "X222_source_distances",
    # Pairwise Bhattacharyya / Hellinger / total-variation distances
    # between every two sources' unigram distributions (textstats.
    # pairwise_distribution_distances) — the source x source companion
    # to X122's slice-vs-corpus KL/JSD ("which two slices are
    # interchangeable" for mix dedup). Only the common-support join is
    # data-sized; disjoint mass is recovered arithmetically and
    # zero-overlap pairs still appear via the group-list grid.
    """WITH toks AS (SELECT source AS g, w FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents
    WHERE text IS NOT NULL AND source IS NOT NULL)
  WHERE w <> ''),
c AS (SELECT g, w, COUNT(*)::DOUBLE AS c FROM toks GROUP BY 1, 2),
t AS (SELECT g, SUM(c) AS ng FROM c GROUP BY 1),
p AS (SELECT c.g, w, c / ng AS p FROM c JOIN t USING (g)),
common AS (SELECT a.g AS g1, b.g AS g2, COUNT(*)::BIGINT AS n_common,
                  SUM(sqrt(a.p * b.p)) AS bc, SUM(abs(a.p - b.p)) AS sabs,
                  SUM(a.p) AS m1, SUM(b.p) AS m2
           FROM p a JOIN p b ON a.w = b.w AND a.g < b.g GROUP BY 1, 2),
grid AS (SELECT a.g AS g1, b.g AS g2 FROM t a, t b WHERE a.g < b.g)
SELECT g1, g2, COALESCE(n_common, 0) AS n_common,
       ROUND(COALESCE(bc, 0), 6) AS bc,
       ROUND(sqrt(GREATEST(1 - COALESCE(bc, 0), 0)), 6) AS hellinger,
       ROUND(0.5 * (COALESCE(sabs, 0) + (1 - COALESCE(m1, 0))
                    + (1 - COALESCE(m2, 0))), 6) AS tv
FROM grid LEFT JOIN common USING (g1, g2) ORDER BY g1, g2;""",
)
def x222(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        pairwise_distribution_distances,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    counts = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return pairwise_distribution_distances(counts, "source", "w", "c").orderBy(
        "g1", "g2"
    )


@_declare(
    "X223_wasserstein_drift",
    # 1-D Wasserstein-1 / earth-mover's distance (quality.
    # wasserstein_1d) between purchase and click value distributions --
    # the drift metric that weights HOW FAR mass moved (KS = sup gap,
    # PSI = binned ratio; W1 = integral of the CDF gap). Predecessor
    # values via the exclusive prefix-EXTREMUM pass, CDFs via the
    # exclusive prefix-sum pass -- no lag window. The oracle replays
    # both with windows over the distinct-value relation.
    """WITH base AS (SELECT value::DOUBLE AS v, (event_type = 'purchase')::INT AS a
             FROM events WHERE value IS NOT NULL
                   AND event_type IN ('purchase', 'click')),
per AS (SELECT v, SUM(a)::DOUBLE AS ca, SUM(1 - a)::DOUBLE AS cb
        FROM base GROUP BY 1),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per),
cum AS (SELECT v,
          COALESCE(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS pa,
          COALESCE(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS pb,
          LAG(v) OVER (ORDER BY v) AS vprev
        FROM per),
s AS (SELECT SUM(CASE WHEN vprev IS NOT NULL
              THEN abs(pa / na - pb / nb) * (v - vprev) END) AS w
      FROM cum, tot)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(CASE WHEN na > 0 AND nb > 0 THEN COALESCE(w, 0) END, 6) AS w1
FROM tot, s;""",
)
def x223(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import wasserstein_1d

    ev = load_table(spark, sf_dir, "events")
    return wasserstein_1d(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X224_cramer_von_mises",
    # Two-sample Cramer-von Mises (quality.cramer_von_mises, Anderson
    # 1962, tie-extended against the pooled empirical measure): the
    # whole-CDF drift companion to X157's KS sup-norm -- many small
    # distributed gaps register even when no single gap spikes. One
    # inclusive prefix-sum pass; the oracle replays the pooled-
    # multiplicity weighted sum.
    """WITH base AS (SELECT value::DOUBLE AS v, (event_type = 'purchase')::INT AS a
             FROM events WHERE value IS NOT NULL
                   AND event_type IN ('purchase', 'click')),
per AS (SELECT v, SUM(a)::DOUBLE AS ca, SUM(1 - a)::DOUBLE AS cb
        FROM base GROUP BY 1),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per),
cum AS (SELECT v, ca, cb,
          SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb
        FROM per
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (SELECT SUM((ca + cb) * (fa / na - fb / nb) * (fa / na - fb / nb)) AS t
      FROM cum, tot)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(CASE WHEN na > 0 AND nb > 0
             THEN na * nb / ((na + nb) * (na + nb)) * t END, 6) AS t
FROM tot, s;""",
)
def x224(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import cramer_von_mises

    ev = load_table(spark, sf_dir, "events")
    return cramer_von_mises(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X225_fleiss_kappa",
    # Fleiss' kappa (evalmetrics.fleiss_kappa, 1971) among THREE rule
    # raters ('contains the/and/of' -> 'en' vs 'other') rating every
    # document -- the n-rater generalization of X151's Cohen kappa,
    # with the constant-raters-per-item contract enforced (here n = 3
    # by construction). The oracle replays the n_ij cell algebra.
    """WITH r AS (SELECT doc_id, unnest([
    CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END,
    CASE WHEN text LIKE '% and %' THEN 'en' ELSE 'other' END,
    CASE WHEN text LIKE '% of %' THEN 'en' ELSE 'other' END]) AS c
  FROM documents WHERE text IS NOT NULL),
cells AS (SELECT doc_id, c, COUNT(*)::DOUBLE AS n FROM r GROUP BY 1, 2),
per AS (SELECT doc_id, SUM(n * n) AS sq FROM cells GROUP BY 1),
pb AS (SELECT COUNT(*)::DOUBLE AS N, AVG((sq - 3) / (3 * 2)) AS pbar FROM per),
pe AS (SELECT SUM((cj / (N * 3)) * (cj / (N * 3))) AS pe
       FROM (SELECT c, SUM(n) AS cj FROM cells GROUP BY 1), pb)
SELECT N::BIGINT AS n_items, 3::BIGINT AS n_raters,
       ROUND(pbar, 6) AS p_bar, ROUND(pe, 6) AS p_e,
       ROUND(CASE WHEN pe < 1 THEN (pbar - pe) / (1 - pe) END, 6) AS kappa
FROM pb, pe;""",
)
def x225(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import fleiss_kappa

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    en = F.lit("en")
    other = F.lit("other")
    ratings = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.when(F.col("text").like("% the %"), en).otherwise(other),
                F.when(F.col("text").like("% and %"), en).otherwise(other),
                F.when(F.col("text").like("% of %"), en).otherwise(other),
            )
        ).alias("cat"),
    )
    return fleiss_kappa(ratings, "doc_id", "cat")


@_declare(
    "X226_randomization_test",
    # Two-sample randomization test (sampling.randomization_test,
    # Fisher/Dwass): exchangeable-label null for the purchase-vs-click
    # mean difference; 100 deterministic relabelings via the same
    # one-md5 + per-row-Weyl scheme as the bootstraps, add-one
    # exceedance p. The oracle replays every assignment bit-for-bit.
    """WITH base AS (
  SELECT event_type AS g, event_id::VARCHAR AS id, value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
tot AS (SELECT SUM((g = 'purchase')::INT)::BIGINT AS na,
               SUM((g = 'click')::INT)::BIGINT AS nb,
               AVG(CASE WHEN g = 'purchase' THEN x END) AS ma,
               AVG(CASE WHEN g = 'click' THEN x END) AS mb
        FROM base),
hs AS (SELECT x, h,
             fmod(0.6180339887498949 * (1.0 + h), 1.0) AS s
      FROM (SELECT x,
              ('0x' || substr(md5('perm:' || id), 1, 15))::BIGINT
                / 1152921504606846976.0 AS h
            FROM base)),
rep AS (SELECT b, x,
          (fmod(h + b * s, 1.0) < na::DOUBLE / (na + nb))::INT AS a
        FROM hs, range(1, 101) t(b), tot),
per AS (SELECT b, SUM(x * a) AS sa, SUM(a)::DOUBLE AS wa,
               SUM(x * (1 - a)) AS sb, SUM(1 - a)::DOUBLE AS wb
        FROM rep GROUP BY 1
        HAVING SUM(a) > 0 AND SUM(1 - a) > 0),
nd AS (SELECT COUNT(*)::BIGINT AS b_used,
              SUM((abs(sa / wa - sb / wb) >= abs(ma - mb))::INT)::BIGINT
                AS n_extreme
       FROM per, tot)
SELECT na AS n_a, nb AS n_b, ROUND(ma - mb, 6) AS diff_obs, b_used,
       n_extreme,
       ROUND((1 + n_extreme)::DOUBLE / (b_used + 1), 6) AS p_value
FROM tot, nd;""",
)
def x226(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import randomization_test

    ev = load_table(spark, sf_dir, "events")
    return randomization_test(
        ev, "value", "event_id", "event_type", "purchase", "click",
        replicates=100,
    )


def _mmr_sql(k: int = 10, lam: float = 0.7) -> str:
    """Unrolled-stage DuckDB twin for X227 (round-13 verdict Next #4):
    each greedy MMR round is one CTE — argmax of λ·rel − (1−λ)·max-sim
    over the not-yet-selected corpus, the selected set accumulated by
    UNION ALL. repr() literals so 1−λ is the IDENTICAL double Spark
    uses (1.0 − 0.7 ≠ 0.3 in binary), cast because a bare DuckDB
    decimal literal would round through DECIMAL first."""
    lam_s = f"CAST({lam!r} AS DOUBLE)"
    oml_s = f"CAST({1.0 - lam!r} AS DOUBLE)"
    s = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS n2
       FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
rel AS MATERIALIZED (SELECT vec_id, v, n2, v[1] / sqrt(n2) AS rel
       FROM e WHERE n2 > 0),
s1 AS (SELECT vec_id, v, n2, rel, 1 AS step, {lam_s} * rel AS score
       FROM rel ORDER BY score DESC, vec_id LIMIT 1),
sel1 AS MATERIALIZED (SELECT * FROM s1)"""
    for t in range(2, k + 1):
        s += f""",
s{t} AS (SELECT r.vec_id, r.v, r.n2, r.rel, {t} AS step,
       {lam_s} * r.rel - {oml_s} * (SELECT MAX(list_dot_product(r.v, s.v)
           / sqrt(r.n2 * s.n2)) FROM sel{t - 1} s) AS score
       FROM rel r WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
       ORDER BY score DESC, r.vec_id LIMIT 1),
sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})"""
    return s + f"""
SELECT step, vec_id, ROUND(rel, 6) AS rel, ROUND(score, 6) AS score
FROM sel{k} ORDER BY step;"""


@_declare(
    "X227_mmr_select",
    # Maximal Marginal Relevance diverse top-10 (similarity.mmr_select,
    # Carbonell & Goldstein 1998) against the axis query e0: greedy
    # lambda*rel - (1-lambda)*max-sim selection, k driver rounds each a
    # TakeOrdered(1) scan with the selected set inlined as literals.
    # The k greedy rounds unroll into a generated DuckDB twin
    # (_mmr_sql, one CTE per round); brute-force python MMR is
    # additionally pinned in tests/test_round12b_ops.py.
    _mmr_sql(),
)
def x227(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    query = [1.0] + [0.0] * 63
    return mmr_select(emb, query, k=10, lam=0.7)


@_declare(
    "X228_rank_biased_overlap",
    # Truncated RBO@50 (evalmetrics.rank_biased_overlap, Webber et al.
    # 2010) between two document rankings -- by char length vs by
    # whitespace token count: the top-weighted ranking-similarity
    # measure for comparing two scoring functions. Tail weights
    # T(d0) = sum_{d>=d0} (1-p)p^(d-1)/d collapse the depth loop into
    # one k-bounded join + element_at. The oracle replays ranks,
    # tails and the join.
    """WITH a AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
      FROM documents WHERE n_chars IS NOT NULL QUALIFY r <= 50),
b AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
                                doc_id) AS r
      FROM documents WHERE text IS NOT NULL QUALIFY r <= 50),
ws AS (SELECT d, (1 - 0.9) * pow(0.9, d - 1) / d AS w FROM range(1, 51) t(d)),
tails AS (SELECT x.d AS d0, SUM(y.w) AS t FROM ws x JOIN ws y ON y.d >= x.d
          GROUP BY 1),
j AS (SELECT GREATEST(a.r, b.r) AS d0 FROM a JOIN b USING (doc_id)),
s AS (SELECT COUNT(*)::BIGINT AS n_common, COALESCE(SUM(t), 0) AS rbo
      FROM j JOIN tails USING (d0))
SELECT 50::BIGINT AS k, 0.9::DOUBLE AS p, n_common, ROUND(rbo, 6) AS rbo
FROM s;""",
)
def x228(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import rank_biased_overlap

    docs = load_table(spark, sf_dir, "documents")

    def ranked(col_expr, flt):
        # rank assignment: TakeOrdered to the k-bounded relation FIRST,
        # then row_number over those 50 rows (the bounded-window
        # allowlist class -- test_plan_guardrail.py documents it)
        top = docs.filter(flt).select("doc_id", col_expr.alias("_s")).orderBy(
            F.col("_s").desc(), "doc_id"
        ).limit(50)
        w = Window.orderBy(F.col("_s").desc(), "doc_id")
        return top.select("doc_id", F.row_number().over(w).alias("rank"))

    a = ranked(F.col("n_chars"), F.col("n_chars").isNotNull())
    b = ranked(
        F.size(F.split(F.col("text"), " ", -1)),
        F.col("text").isNotNull(),
    )
    return rank_biased_overlap(a, b, "doc_id", "rank", k=50, p=0.9)


# The oracle SQL is GENERATED by evalmetrics.bradley_terry_oracle_sql from
# the same (iterations, round_to) parameters — the unrolled-CTE twin pins
# the MM update rule itself, the pagerank/logreg precedent.
_BT_CMP_SQL = """SELECT event_type AS w, prev AS l FROM (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events)
WHERE prev IS NOT NULL AND prev <> event_type"""


@_declare(
    "X229_bradley_terry",
    # Bradley-Terry preference strengths (Hunter MM, 8 rounds) over
    # "later event-type beats the one before it" comparisons: the RLHF
    # pairwise-preference -> strength-scale operator.
    __import__(
        "swivel_spark_prep_spark.operators.evalmetrics", fromlist=["x"]
    ).bradley_terry_oracle_sql(_BT_CMP_SQL, iterations=8),
)
def x229(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import bradley_terry

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cmp_ = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("event_type")))
    return bradley_terry(cmp_, "event_type", "prev", iterations=8)


@_declare(
    "X230_sliding_chunks",
    # Sliding-window RAG chunker (chunking.sliding_window_chunks):
    # 64-token windows, stride 32 — full-coverage overlap semantics
    # (n_chunks = 1 + ceil(max(n-64,0)/32), short final chunk kept,
    # <=64-token doc = one chunk). One sequence+posexplode per doc, no
    # shuffle; the oracle replays split/slice/join per (doc, k).
    """WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         len(string_split(text, ' '))::BIGINT AS n
  FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0),
c AS (SELECT doc_id, tk, n,
             unnest(range(0, 1 + CASE WHEN n > 64
                                      THEN CAST(ceil((n - 64) / 32.0) AS BIGINT)
                                      ELSE 0 END)) AS k
      FROM s)
SELECT doc_id AS id, k::INT AS chunk_id,
       LEAST(64, n - k * 32)::BIGINT AS n_tokens,
       array_to_string(tk[(k * 32 + 1):(k * 32 + 64)], ' ') AS chunk
FROM c;""",
)
def x230(spark, sf_dir):
    from swivel_spark_prep_spark.operators.chunking import sliding_window_chunks

    docs = load_table(spark, sf_dir, "documents")
    return sliding_window_chunks(docs, window=64, stride=32)


@_declare(
    "X231_silhouette",
    # Simplified (centroid) silhouette per cluster over the embeddings
    # table's labels (evalmetrics.simplified_silhouette): O(n*k*d) via
    # one posexplode + a broadcast (label, dim)-centroid join — the
    # MLlib-ClusteringEvaluator shape, never O(n^2) pairwise.
    """WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
x AS (SELECT vec_id, label, unnest(range(1, len(v) + 1)) AS pos,
             unnest(v) AS val
      FROM e),
cent AS (SELECT label AS clabel, pos, AVG(val) AS m FROM x GROUP BY 1, 2),
d AS (SELECT vec_id, label, clabel, SUM((val - m) * (val - m)) AS d2
      FROM x JOIN cent USING (pos) GROUP BY 1, 2, 3),
a AS (SELECT vec_id, label, sqrt(d2) AS da FROM d WHERE label = clabel),
b AS (SELECT vec_id, label, sqrt(MIN(d2)) AS db FROM d WHERE label <> clabel
      GROUP BY 1, 2),
s AS (SELECT a.label,
             CASE WHEN GREATEST(da, db) = 0 THEN 0.0
                  ELSE (db - da) / GREATEST(da, db) END AS sil
      FROM a JOIN b USING (vec_id, label))
SELECT label, COUNT(*)::BIGINT AS n, ROUND(AVG(sil), 6) AS mean_silhouette
FROM s GROUP BY label;""",
)
def x231(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import simplified_silhouette

    emb = load_table(spark, sf_dir, "embeddings")
    return simplified_silhouette(emb)


@_declare(
    "X232_conformal_interval",
    # Split-conformal prediction interval (evalmetrics.conformal_interval,
    # Papadopoulos 2002): md5-deterministic 50/25/25 train/cal/test
    # split, per-event_type-mean predictor from train, q_hat = the
    # ceil(0.9*(n_cal+1))-th smallest calibration residual via the
    # prefix-sum order-statistic path, coverage on test.
    """WITH b AS (
  SELECT event_id, event_type, value,
         ('0x' || substr(md5('conf:' || event_id::VARCHAR), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM events WHERE value IS NOT NULL),
tr AS (SELECT event_type, AVG(value) AS pred FROM b WHERE u < 0.5 GROUP BY 1),
cal AS (SELECT abs(value - pred) AS r FROM b JOIN tr USING (event_type)
        WHERE u >= 0.5 AND u < 0.75),
te AS (SELECT abs(value - pred) AS r FROM b JOIN tr USING (event_type)
       WHERE u >= 0.75),
n AS (SELECT COUNT(*)::BIGINT AS n_cal FROM cal),
q AS (SELECT r AS q_hat FROM cal ORDER BY r
      OFFSET (SELECT CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT) - 1 FROM n)
      LIMIT 1)
SELECT n_cal, (SELECT COUNT(*) FROM te)::BIGINT AS n_test, 0.1 AS alpha,
       ROUND((SELECT q_hat FROM q), 6) AS q_hat,
       ROUND((SELECT AVG(CASE WHEN r <= (SELECT q_hat FROM q)
                               THEN 1.0 ELSE 0.0 END) FROM te), 6) AS coverage
FROM n;""",
)
def x232(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import conformal_interval

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("conf:"), F.col("event_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**60))
    )
    b = ev.select("event_type", "value", u.alias("_u"))
    pred = (
        b.filter(F.col("_u") < 0.5)
        .groupBy("event_type")
        .agg(F.avg("value").alias("pred"))
    )
    scored = b.join(F.broadcast(pred), "event_type")
    cal = scored.filter((F.col("_u") >= 0.5) & (F.col("_u") < 0.75))
    test = scored.filter(F.col("_u") >= 0.75)
    return conformal_interval(cal, test, "value", "pred", alpha=0.1)


@_declare(
    "X233_sprt",
    # Wald SPRT (timeseries.sprt_test) on the ts-ordered purchase
    # indicator stream: H0 p=0.15 vs H1 p=0.25, alpha=beta=0.05. The
    # sequential walk is one inclusive prefix-sum pass carrying
    # [llr, 1]; the oracle's window cumsum replays it.
    """WITH b AS (
  SELECT ts, event_id, (event_type = 'purchase')::INT AS x FROM events),
c AS (SELECT
        SUM(x * 0.5108256237659907 + (1 - x) * -0.12516314295400605)
          OVER (ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        ROW_NUMBER() OVER (ORDER BY ts, event_id) AS n,
        x
      FROM b)
SELECT COUNT(*)::BIGINT AS n_obs,
       LEAST(MIN(CASE WHEN cum >= 2.9444389791664403 THEN n END),
             MIN(CASE WHEN cum <= -2.9444389791664403 THEN n END))::BIGINT
         AS cross_n,
       CASE WHEN COALESCE(MIN(CASE WHEN cum >= 2.9444389791664403 THEN n END),
                          9223372036854775807)
              <= COALESCE(MIN(CASE WHEN cum <= -2.9444389791664403 THEN n END),
                          9223372036854775807)
              AND MIN(CASE WHEN cum >= 2.9444389791664403 THEN n END) IS NOT NULL
            THEN 'accept_h1'
            WHEN MIN(CASE WHEN cum <= -2.9444389791664403 THEN n END) IS NOT NULL
            THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       ROUND(SUM(x * 0.5108256237659907 + (1 - x) * -0.12516314295400605), 6)
         AS llr_final,
       ROUND(2.9444389791664403, 6) AS a_bound,
       ROUND(-2.9444389791664403, 6) AS b_bound
FROM c;""",
)
def x233(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import sprt_test

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        "ts", "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("x"),
    )
    return sprt_test(
        obs, ["ts", "event_id"], "x", p0=0.15, p1=0.25, alpha=0.05, beta=0.05
    )


@_declare(
    "X234_readability",
    # Flesch reading ease + FK grade per language
    # (textstats.readability_scores): vowel-group syllable heuristic,
    # [.!?]+ sentence runs (min 1), whitespace words — three portable
    # regex/size expressions + one hash aggregate, zero UDF.
    """WITH p AS (
  SELECT lang,
         len(string_split(lower(text), ' '))::DOUBLE AS w,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE AS sy,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE AS s
  FROM documents WHERE text IS NOT NULL),
f AS (SELECT lang, w,
             206.835 - 1.015 * (w / s) - 84.6 * (sy / w) AS e,
             0.39 * (w / s) + 11.8 * (sy / w) - 15.59 AS g
      FROM p WHERE w > 0)
SELECT lang, COUNT(*)::BIGINT AS n_docs, ROUND(AVG(w), 6) AS avg_words,
       ROUND(AVG(e), 6) AS mean_ease, ROUND(AVG(g), 6) AS mean_grade
FROM f GROUP BY lang;""",
)
def x234(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import readability_scores

    docs = load_table(spark, sf_dir, "documents")
    return readability_scores(docs, group_cols=["lang"])


# Three deterministic rule-raters of DIFFERENT quality rating every
# document ('contains the/and/of' -> en/other) — the X225 Fleiss cast,
# now ADJUDICATED by Dawid-Skene EM instead of merely audited.
_DS_RATINGS_SQL = """SELECT doc_id AS i, rt, l FROM (
  SELECT doc_id,
         unnest(['r_the', 'r_and', 'r_of']) AS rt,
         unnest([
           CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END,
           CASE WHEN text LIKE '% and %' THEN 'en' ELSE 'other' END,
           CASE WHEN text LIKE '% of %' THEN 'en' ELSE 'other' END]) AS l
  FROM documents WHERE text IS NOT NULL)"""


def _ds_ratings(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    en, other = F.lit("en"), F.lit("other")
    pairs = F.array(
        F.struct(F.lit("r_the").alias("rt"),
                 F.when(F.col("text").like("% the %"), en).otherwise(other).alias("l")),
        F.struct(F.lit("r_and").alias("rt"),
                 F.when(F.col("text").like("% and %"), en).otherwise(other).alias("l")),
        F.struct(F.lit("r_of").alias("rt"),
                 F.when(F.col("text").like("% of %"), en).otherwise(other).alias("l")),
    )
    return docs.select("doc_id", F.explode(pairs).alias("v")).select(
        "doc_id", F.col("v.rt").alias("rt"), F.col("v.l").alias("l")
    )


@_declare(
    "X235_dawid_skene_labels",
    # Dawid-Skene EM consensus labels (labeling.dawid_skene, 1979):
    # 3 EM rounds, Laplace 0.01; log-space E-step with per-item max
    # shift. The oracle replays the whole trajectory via generated
    # MATERIALIZED CTEs.
    __import__(
        "swivel_spark_prep_spark.operators.labeling", fromlist=["x"]
    ).dawid_skene_oracle_sql(_DS_RATINGS_SQL, iterations=3, mode="items"),
)
def x235(spark, sf_dir):
    from swivel_spark_prep_spark.operators.labeling import dawid_skene

    return dawid_skene(_ds_ratings(spark, sf_dir), "doc_id", "rt", "l", iterations=3)


@_declare(
    "X236_dawid_skene_raters",
    # Per-rater accuracy from the SAME fitted model: prior-weighted
    # confusion diagonal — "how often is this rater right" — the
    # weak-supervision source-quality audit.
    __import__(
        "swivel_spark_prep_spark.operators.labeling", fromlist=["x"]
    ).dawid_skene_oracle_sql(_DS_RATINGS_SQL, iterations=3, mode="raters"),
)
def x236(spark, sf_dir):
    from swivel_spark_prep_spark.operators.labeling import dawid_skene_rater_quality

    return dawid_skene_rater_quality(
        _ds_ratings(spark, sf_dir), "doc_id", "rt", "l", iterations=3
    )


@_declare(
    "X237_ann_hubness",
    # Hubness diagnostic (similarity.ann_hubness, Radovanovic JMLR
    # 2010): k-occurrence distribution of cosine top-10 over the
    # embedding corpus (500 <= max_vectors cap -> exact, no sampling;
    # the pair join keeps the broadcast side <= cap by contract). Both
    # engines fold the 64-dim dot product left-to-right, so ranks are
    # bit-reproducible.
    """WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
b AS (SELECT id, v, list_dot_product(v, v) AS n2 FROM e
      WHERE list_dot_product(v, v) > 0),
p AS (SELECT a.id AS a, b2.id AS bb,
             list_dot_product(a.v, b2.v) / sqrt(a.n2 * b2.n2) AS sim
      FROM b a JOIN b b2 ON a.id <> b2.id),
t AS (SELECT a, bb FROM (
        SELECT a, bb, ROW_NUMBER() OVER (PARTITION BY a
                                         ORDER BY sim DESC, bb) AS rk
        FROM p) WHERE rk <= 10),
o AS (SELECT b.id, COALESCE(c.c, 0)::DOUBLE AS c FROM b
      LEFT JOIN (SELECT bb AS id, COUNT(*)::BIGINT AS c FROM t GROUP BY 1) c
      USING (id)),
m AS (SELECT COUNT(*)::BIGINT AS n, AVG(c) AS m1, AVG(c * c) AS m2,
             AVG(c * c * c) AS m3, MAX(c) AS mx,
             AVG((c = 0)::INT::DOUBLE) AS ah
      FROM o)
SELECT n AS n_vectors, 10::BIGINT AS k, ROUND(m1, 6) AS mean_k_occ,
       ROUND(sqrt(m2 - m1 * m1), 6) AS std_k_occ,
       ROUND(CASE WHEN m2 - m1 * m1 > 0
             THEN (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                  / pow(m2 - m1 * m1, 1.5) END, 6) AS skew_k_occ,
       mx::BIGINT AS max_k_occ, ROUND(ah, 6) AS antihub_frac
FROM m;""",
)
def x237(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import ann_hubness

    emb = load_table(spark, sf_dir, "embeddings")
    # cap 1000: the skew estimate is stable from ~1k points and the
    # exact in-sample pair cost is cap^2 — 1000 keeps the sf0.1 wall
    # ~4x below the 2000-cap variant (measured 29.8 -> ~7.5 s) with the
    # sf0.01 gate (500 vectors) still exact/un-sampled
    return ann_hubness(emb, k=10, max_vectors=1000)


@_declare(
    "X238_source_influence",
    # Leave-one-group-out influence of each source on the corpus mean
    # document length (quality.group_influence): the exact LOO
    # identity, one grouped agg + one broadcast total — source-level
    # data valuation.
    """WITH g AS (
  SELECT source AS grp, COUNT(*)::DOUBLE AS n, SUM(n_chars::DOUBLE) AS s
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
t AS (SELECT SUM(n) AS nn, SUM(s) AS ss FROM g)
SELECT grp AS "group", n::BIGINT AS n, ROUND(s / n, 6) AS mean_g,
       ROUND(CASE WHEN nn > n THEN (ss - s) / (nn - n) END, 6) AS mean_without,
       ROUND(CASE WHEN nn > n
             THEN ss / nn - (ss - s) / (nn - n) END, 6) AS influence
FROM g, t;""",
)
def x238(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import group_influence

    docs = load_table(spark, sf_dir, "documents")
    return group_influence(docs, "source", "n_chars")


@_declare(
    "X239_tukey_hsd",
    # Tukey-Kramer HSD pairwise contrasts (evalmetrics.tukey_hsd) over
    # event values by type: ONE sufficient-stats aggregate, then a
    # bounded groups^2 pair grid (the X222 class). q_stat reported with
    # df; studentized-range critical values are a caller-side table.
    """WITH g AS (
  SELECT event_type::VARCHAR AS g, COUNT(*)::DOUBLE AS n,
         SUM(value::DOUBLE) AS s, SUM(value::DOUBLE * value::DOUBLE) AS s2
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1),
t AS (SELECT SUM(n) AS tn, COUNT(*)::DOUBLE AS k,
             SUM(s2 - s * s / n) AS ssw
      FROM g)
SELECT a.g AS group_a, b.g AS group_b,
       a.n::BIGINT AS n_a, b.n::BIGINT AS n_b,
       ROUND(a.s / a.n - b.s / b.n, 6) AS diff,
       ROUND(sqrt((ssw / (tn - k)) / 2 * (1 / a.n + 1 / b.n)), 6) AS se,
       ROUND(CASE WHEN sqrt((ssw / (tn - k)) / 2 * (1 / a.n + 1 / b.n)) > 0
             THEN abs(a.s / a.n - b.s / b.n)
                  / sqrt((ssw / (tn - k)) / 2 * (1 / a.n + 1 / b.n)) END, 6)
         AS q_stat,
       (tn - k)::BIGINT AS df_within
FROM g a JOIN g b ON a.g < b.g, t;""",
)
def x239(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import tukey_hsd

    ev = load_table(spark, sf_dir, "events")
    return tukey_hsd(ev, "event_type", "value")


@_declare(
    "X240_cochran_q",
    # Cochran's Q (evalmetrics.cochran_q, 1950) across the three rule
    # raters' binary 'says-en' outcomes on matched documents — the
    # k-treatment McNemar; matched design enforced by a 2-row control
    # aggregate.
    """WITH r AS (
  SELECT doc_id AS i, rt, x FROM (
    SELECT doc_id,
           unnest(['r_the', 'r_and', 'r_of']) AS rt,
           unnest([(text LIKE '% the %')::INT,
                   (text LIKE '% and %')::INT,
                   (text LIKE '% of %')::INT])::DOUBLE AS x
    FROM documents WHERE text IS NOT NULL)),
per AS (SELECT i, SUM(x) AS r FROM r GROUP BY 1),
rows_ AS (SELECT COUNT(*)::BIGINT AS n, SUM(r) AS t, SUM(r * r) AS r2
          FROM per),
cols_ AS (SELECT rt, SUM(x) AS c FROM r GROUP BY 1),
cs AS (SELECT SUM((c - t / 3.0) * (c - t / 3.0)) AS cs FROM cols_, rows_)
SELECT n AS n_items, 3::BIGINT AS k,
       ROUND(CASE WHEN 3.0 * t - r2 > 0
             THEN 6.0 * cs / (3.0 * t - r2) END, 6) AS q_stat,
       2::BIGINT AS df
FROM rows_, cs;""",
)
def x240(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cochran_q

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = F.array(
        F.struct(F.lit("r_the").alias("rt"),
                 F.col("text").like("% the %").cast("int").alias("x")),
        F.struct(F.lit("r_and").alias("rt"),
                 F.col("text").like("% and %").cast("int").alias("x")),
        F.struct(F.lit("r_of").alias("rt"),
                 F.col("text").like("% of %").cast("int").alias("x")),
    )
    r = docs.select("doc_id", F.explode(pairs).alias("v")).select(
        "doc_id", F.col("v.rt").alias("rt"), F.col("v.x").alias("x")
    )
    return cochran_q(r, "doc_id", "rt", "x")


@_declare(
    "X241_vocab_richness",
    # Chao1 + Good's coverage per language (textstats.vocab_richness):
    # the vocabulary-saturation estimators — Heaps (X189) extrapolates
    # the curve, Chao1 estimates the asymptote, coverage the unseen
    # probability mass.
    """WITH t AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL),
c AS (SELECT lang, tok, COUNT(*)::BIGINT AS c FROM t WHERE tok <> ''
      GROUP BY 1, 2)
SELECT lang, SUM(c)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS v_distinct,
       SUM((c = 1)::INT)::BIGINT AS f1, SUM((c = 2)::INT)::BIGINT AS f2,
       ROUND(COUNT(*) + SUM((c = 1)::INT)::DOUBLE
             * (SUM((c = 1)::INT)::DOUBLE - 1)
             / (2.0 * (SUM((c = 2)::INT)::DOUBLE + 1)), 6) AS chao1,
       ROUND(1.0 - SUM((c = 1)::INT)::DOUBLE / SUM(c), 6) AS coverage
FROM c GROUP BY lang;""",
)
def x241(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import vocab_richness

    docs = load_table(spark, sf_dir, "documents")
    return vocab_richness(docs, group_cols=["lang"])


@_declare(
    "X242_qq_drift",
    # Quantile-quantile drift profile purchase-vs-click (quality.
    # qq_drift): left-continuous inverse-CDF deciles of both slices
    # side by side — WHERE the distributions diverge. One prefix-sum
    # pass per group shared by all nine qs.
    """WITH b AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
dv AS (SELECT g, v, COUNT(*)::DOUBLE AS w FROM b GROUP BY 1, 2),
cum AS (SELECT g, v,
               SUM(w) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw
        FROM dv),
tot AS (SELECT g, SUM(w) AS tw FROM dv GROUP BY 1),
qs AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q),
pick AS (SELECT qs.q, cum.g, MIN(cum.v) AS val
         FROM qs, cum JOIN tot USING (g)
         WHERE cum.cw >= qs.q * tot.tw
         GROUP BY 1, 2)
SELECT a.q, ROUND(a.val, 6) AS q_a, ROUND(b.val, 6) AS q_b,
       ROUND(a.val - b.val, 6) AS diff
FROM pick a JOIN pick b USING (q)
WHERE a.g = 'purchase' AND b.g = 'click';""",
)
def x242(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import qq_drift

    ev = load_table(spark, sf_dir, "events")
    return qq_drift(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X243_two_proportion",
    # Two-proportion z + Wilson CIs (evalmetrics.two_proportion_test):
    # purchase-vs-click rate of high-value events (value > 250) — one
    # grouped aggregate, 1-row algebra; Wilson keeps small-n CIs in
    # [0, 1].
    """WITH g AS (
  SELECT event_type AS g, COUNT(*)::DOUBLE AS n,
         SUM((value > 250)::INT)::DOUBLE AS s
  FROM events WHERE value IS NOT NULL
    AND event_type IN ('purchase', 'click')
  GROUP BY 1),
j AS (SELECT a.n AS na, a.s AS sa, b.n AS nb, b.s AS sb
      FROM (SELECT * FROM g WHERE g = 'purchase') a,
           (SELECT * FROM g WHERE g = 'click') b),
c AS (SELECT *, sa / na AS pa, sb / nb AS pb,
             (sa + sb) / (na + nb) AS pp,
             1.959963984540054 AS z FROM j),
w AS (SELECT *,
        (pa + z*z/(2*na) - z*sqrt(pa*(1-pa)/na + z*z/(4*na*na))) / (1 + z*z/na) AS alo,
        (pa + z*z/(2*na) + z*sqrt(pa*(1-pa)/na + z*z/(4*na*na))) / (1 + z*z/na) AS ahi,
        (pb + z*z/(2*nb) - z*sqrt(pb*(1-pb)/nb + z*z/(4*nb*nb))) / (1 + z*z/nb) AS blo,
        (pb + z*z/(2*nb) + z*sqrt(pb*(1-pb)/nb + z*z/(4*nb*nb))) / (1 + z*z/nb) AS bhi
      FROM c)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND(pa - pb, 6) AS diff,
       ROUND(CASE WHEN pp * (1 - pp) * (1/na + 1/nb) > 0
             THEN (pa - pb) / sqrt(pp * (1 - pp) * (1/na + 1/nb)) END, 6)
         AS z_stat,
       ROUND(alo, 6) AS ci_a_lo, ROUND(ahi, 6) AS ci_a_hi,
       ROUND(blo, 6) AS ci_b_lo, ROUND(bhi, 6) AS ci_b_hi
FROM w;""",
)
def x243(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import two_proportion_test

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return two_proportion_test(
        ev.select("event_type", (F.col("value") > 250).alias("hi")),
        "event_type",
        "hi",
        "purchase",
        "click",
    )


@_declare(
    "X244_cross_source_dups",
    # Cross-source exact-duplication matrix (dedup.
    # cross_source_dup_matrix): which sources copy from which — dup
    # groups spanning source pairs + the cross row-pair mass. Pair
    # generation is per-hash over the (hash, source, count) relation,
    # bounded at sources^2 per group.
    """WITH per AS (
  SELECT text, source AS s, COUNT(*)::DOUBLE AS c
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2)
SELECT a.s AS source_a, b.s AS source_b,
       COUNT(*)::BIGINT AS shared_groups,
       SUM(a.c * b.c)::BIGINT AS pair_mass
FROM per a JOIN per b ON a.text = b.text AND a.s < b.s
GROUP BY 1, 2;""",
)
def x244(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import cross_source_dup_matrix

    docs = load_table(spark, sf_dir, "documents")
    return cross_source_dup_matrix(docs)


@_declare(
    "X245_regression_reliability",
    # Regression reliability diagram (evalmetrics.
    # regression_reliability): per-event-type mean predictor vs
    # observed value, 10 equal-width prediction bins from a broadcast
    # 1-row min/max — codegen bucketing, no quantile pass.
    """WITH b AS (
  SELECT e.value::DOUBLE AS y, p.pred FROM events e
  JOIN (SELECT event_type, AVG(value) AS pred FROM events
        WHERE value IS NOT NULL GROUP BY 1) p USING (event_type)
  WHERE e.value IS NOT NULL),
mm AS (SELECT MIN(pred) AS lo, MAX(pred) AS hi FROM b),
r AS (SELECT y, pred,
             CASE WHEN (hi - lo) / 10.0 = 0 THEN 1
                  ELSE LEAST(10, GREATEST(1,
                    CAST(floor((pred - lo) / ((hi - lo) / 10.0)) AS INT) + 1))
             END AS bin
      FROM b, mm)
SELECT bin, COUNT(*)::BIGINT AS n,
       ROUND(AVG(pred), 6) AS mean_pred, ROUND(AVG(y), 6) AS mean_value,
       ROUND(AVG(y) - AVG(pred), 6) AS gap,
       ROUND(sqrt(GREATEST(AVG((y - pred) * (y - pred))
                           - AVG(y - pred) * AVG(y - pred), 0)), 6)
         AS resid_std
FROM r GROUP BY bin;""",
)
def x245(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import regression_reliability

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pred = ev.groupBy("event_type").agg(F.avg("value").alias("pred"))
    scored = ev.join(F.broadcast(pred), "event_type")
    return regression_reliability(scored, "value", "pred", bins=10)


@_declare(
    "X246_embedding_hygiene",
    # Embedding hygiene gate (similarity.embedding_hygiene): NULL/zero/
    # non-finite/dimension-mismatch counts + norm stats — the audit an
    # ANN pipeline runs before trusting a new vector column. Dimension
    # mode from a dimension-alphabet-bounded aggregate.
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
dm AS (SELECT len(v) AS dm FROM e WHERE v IS NOT NULL
       GROUP BY 1 ORDER BY COUNT(*) DESC, len(v) LIMIT 1),
s AS (SELECT (v IS NULL)::INT::BIGINT AS nl,
             CASE WHEN v IS NOT NULL THEN
               (len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0)::INT
             ELSE 0 END::BIGINT AS nf,
             CASE WHEN v IS NOT NULL
                   AND len(list_filter(v, x -> isnan(x) OR isinf(x))) = 0
                  THEN sqrt(list_dot_product(v, v)) END AS cn,
             CASE WHEN v IS NOT NULL AND len(v) <> dm THEN 1 ELSE 0
             END::BIGINT AS dmis,
             dm
      FROM e, dm)
SELECT COUNT(*)::BIGINT AS n_rows, SUM(nl)::BIGINT AS n_null,
       COALESCE(SUM((cn = 0)::INT), 0)::BIGINT AS n_zero,
       SUM(nf)::BIGINT AS n_nonfinite,
       MAX(dm)::BIGINT AS dims_mode, SUM(dmis)::BIGINT AS n_dim_mismatch,
       ROUND(AVG(cn), 6) AS norm_mean,
       ROUND(sqrt(GREATEST(AVG(cn * cn) - AVG(cn) * AVG(cn), 0)), 6)
         AS norm_std,
       ROUND(MIN(cn), 6) AS norm_min, ROUND(MAX(cn), 6) AS norm_max
FROM s;""",
)
def x246(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import embedding_hygiene

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_hygiene(emb)


@_declare(
    "X247_decision_stump",
    # Optimal Gini decision stump (quality.decision_stump, CART):
    # best "n_chars <= t" split for predicting lang='en' — every
    # distinct score evaluated simultaneously via one inclusive
    # prefix-sum pass; smallest-threshold tiebreak.
    """WITH b AS (
  SELECT n_chars::DOUBLE AS v, (lang = 'en')::INT::DOUBLE AS y
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
dv AS (SELECT v, COUNT(*)::DOUBLE AS n, SUM(y) AS p FROM b GROUP BY 1),
cum AS (SELECT v, SUM(n) OVER w AS nl, SUM(p) OVER w AS pl FROM dv
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)),
tot AS (SELECT SUM(n) AS tn, SUM(p) AS tp FROM dv),
sp AS (SELECT v, nl, tn - nl AS nr, pl, tp - pl AS pr,
              (nl / tn) * (2 * (pl / nl) * (1 - pl / nl))
              + ((tn - nl) / tn)
                * (2 * ((tp - pl) / (tn - nl)) * (1 - (tp - pl) / (tn - nl)))
                AS g,
              2 * (tp / tn) * (1 - tp / tn) AS gp
       FROM cum, tot WHERE tn - nl > 0),
best AS (SELECT MIN(g) AS bg FROM sp),
pick AS (SELECT * FROM sp, best WHERE g = bg ORDER BY v LIMIT 1)
SELECT v AS threshold, nl::BIGINT AS n_left, nr::BIGINT AS n_right,
       pl::BIGINT AS pos_left, pr::BIGINT AS pos_right,
       ROUND(g, 6) AS gini_split, ROUND(gp, 6) AS gini_parent,
       ROUND(gp - g, 6) AS gain
FROM pick;""",
)
def x247(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import decision_stump

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return decision_stump(
        docs.select("n_chars", (F.col("lang") == "en").alias("is_en")),
        "n_chars",
        "is_en",
    )


@_declare(
    "X248_mde_report",
    # Minimum detectable effect from pilot data (evalmetrics.
    # mde_report): alpha=0.05 two-sided, power=0.80 — the
    # experiment-design readout; one sufficient-stats aggregate.
    """WITH g AS (
  SELECT event_type AS g, COUNT(*)::DOUBLE AS n, SUM(value) AS s,
         SUM(value * value) AS s2
  FROM events WHERE value IS NOT NULL
    AND event_type IN ('purchase', 'click')
  GROUP BY 1),
j AS (SELECT a.n AS na, a.s AS sa, a.s2 AS qa,
             b.n AS nb, b.s AS sb, b.s2 AS qb
      FROM (SELECT * FROM g WHERE g = 'purchase') a,
           (SELECT * FROM g WHERE g = 'click') b),
c AS (SELECT *,
        ((qa - sa * sa / na) + (qb - sb * sb / nb)) / (na + nb - 2) AS s2p
      FROM j)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(sa / na, 6) AS mean_a, ROUND(sb / nb, 6) AS mean_b,
       ROUND(sqrt(s2p), 6) AS sd_pooled,
       ROUND(2.8015852181129683 * sqrt(s2p * (1 / na + 1 / nb)), 6)
         AS mde_abs,
       ROUND(CASE WHEN sb / nb <> 0
             THEN 2.8015852181129683 * sqrt(s2p * (1 / na + 1 / nb))
                  / abs(sb / nb) END, 6) AS mde_rel
FROM c;""",
)
def x248(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mde_report

    ev = load_table(spark, sf_dir, "events")
    return mde_report(ev, "event_type", "value", "purchase", "click")


@_declare(
    "X249_markov_perplexity",
    # Empirical Markov entropy rate + perplexity of per-user event
    # streams (timeseries.markov_perplexity): how predictable is the
    # next event type — the behavioral companion to X44's transition
    # matrix. One per-user lag window + a states^2 count relation.
    """WITH tr AS (
  SELECT prev, event_type AS cur, COUNT(*)::DOUBLE AS c FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events)
  WHERE prev IS NOT NULL GROUP BY 1, 2),
rt AS (SELECT prev, SUM(c) AS ci FROM tr GROUP BY 1),
n AS (SELECT SUM(c) AS nn FROM tr)
SELECT MAX(nn)::BIGINT AS n_transitions,
       (SELECT COUNT(DISTINCT prev) FROM tr)::BIGINT AS n_states,
       ROUND(-SUM(c / nn * ln(c / ci)), 6) AS entropy_rate,
       ROUND(exp(-SUM(c / nn * ln(c / ci))), 6) AS perplexity
FROM tr JOIN rt USING (prev), n;""",
)
def x249(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import markov_perplexity

    ev = load_table(spark, sf_dir, "events")
    return markov_perplexity(ev, "user_id", ["ts", "event_id"], "event_type")


@_declare(
    "X250_kwic_snippets",
    # Keyword-in-context snippets (search.kwic_snippets): the ±3-token
    # window around the first 'data' hit per document — codegen split/
    # position/slice, zero shuffle.
    """WITH t AS (
  SELECT doc_id AS id, string_split(text, ' ') AS tk,
         list_position(string_split(text, ' '), 'data') AS pos
  FROM documents WHERE text IS NOT NULL)
SELECT id, pos::BIGINT AS pos,
       array_to_string(
         tk[GREATEST(1, pos - 3):(pos + 3)], ' ') AS snippet
FROM t WHERE pos IS NOT NULL AND pos > 0;""",
)
def x250(spark, sf_dir):
    from swivel_spark_prep_spark.operators.search import kwic_snippets

    docs = load_table(spark, sf_dir, "documents")
    return kwic_snippets(docs, "data", width=3)


@_declare(
    "X251_dedup_roi",
    # Exact-dedup ROI per source (dedup.dedup_roi_by_group): rows and
    # tokens saved by global min-id-survivor exact dedup, charged to
    # the source holding each non-surviving copy — the "is the heavy
    # near-dup pass worth it" triage table.
    """WITH b AS (
  SELECT source AS g, doc_id AS id, text,
         len(string_split(text, ' '))::DOUBLE AS nt
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
s AS (SELECT text, MIN(id) AS sid FROM b GROUP BY 1),
t AS (SELECT g, nt, (id = sid)::INT AS keep FROM b JOIN s USING (text))
SELECT g AS "group", COUNT(*)::BIGINT AS n_rows,
       SUM(keep)::BIGINT AS n_surviving,
       (COUNT(*) - SUM(keep))::BIGINT AS rows_saved,
       SUM(nt)::BIGINT AS tokens_total,
       SUM(nt * keep)::BIGINT AS tokens_surviving,
       ROUND((SUM(nt) - SUM(nt * keep)) / SUM(nt) * 100.0, 6)
         AS tokens_saved_pct
FROM t GROUP BY g;""",
)
def x251(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import dedup_roi_by_group

    docs = load_table(spark, sf_dir, "documents")
    return dedup_roi_by_group(docs)


@_declare(
    "X252_conformal_by_group",
    # Group-conditional (Mondrian) split conformal (evalmetrics.
    # conformal_by_group): per-event-type q_hat and test coverage —
    # the slice audit a marginal interval can't give. Same md5
    # 50/25/25 split as X232; grouped prefix-sum order statistics.
    """WITH b AS (
  SELECT event_id, event_type, value,
         ('0x' || substr(md5('conf:' || event_id::VARCHAR), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM events WHERE value IS NOT NULL),
tr AS (SELECT event_type, AVG(value) AS pred FROM b WHERE u < 0.5 GROUP BY 1),
cal AS (SELECT event_type AS g, abs(value - pred) AS r
        FROM b JOIN tr USING (event_type) WHERE u >= 0.5 AND u < 0.75),
te AS (SELECT event_type AS g, abs(value - pred) AS r
       FROM b JOIN tr USING (event_type) WHERE u >= 0.75),
n AS (SELECT g, COUNT(*)::BIGINT AS n_cal FROM cal GROUP BY 1),
rk AS (SELECT g, r, ROW_NUMBER() OVER (PARTITION BY g ORDER BY r) AS rn
       FROM cal),
q AS (SELECT rk.g, MIN(rk.r) AS q_hat
      FROM rk JOIN n USING (g)
      WHERE rn >= CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)
      GROUP BY 1)
SELECT te.g AS "group", MAX(n.n_cal) AS n_cal, COUNT(*)::BIGINT AS n_test,
       ROUND(MAX(q.q_hat), 6) AS q_hat,
       ROUND(AVG(CASE WHEN q.q_hat IS NULL THEN 1.0
                      WHEN te.r <= q.q_hat THEN 1.0 ELSE 0.0 END), 6)
         AS coverage
FROM te JOIN n USING (g) LEFT JOIN q ON te.g = q.g
GROUP BY te.g;""",
)
def x252(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import conformal_by_group

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("conf:"), F.col("event_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**60))
    )
    b = ev.select("event_type", "value", u.alias("_u"))
    pred = (
        b.filter(F.col("_u") < 0.5)
        .groupBy("event_type")
        .agg(F.avg("value").alias("pred"))
    )
    scored = b.join(F.broadcast(pred), "event_type")
    cal = scored.filter((F.col("_u") >= 0.5) & (F.col("_u") < 0.75))
    test = scored.filter(F.col("_u") >= 0.75)
    return conformal_by_group(cal, test, "event_type", "value", "pred", alpha=0.1)


@_declare(
    "X253_boilerplate_share",
    # Boilerplate mass per source (textstats.boilerplate_share): token
    # share of '. '-delimited lines repeated across >= 3 distinct docs
    # — sizes the remove_common_lines opportunity before running it.
    """WITH ln AS (
  SELECT source, doc_id, unnest(string_split(text, '. ')) AS l
  FROM documents WHERE text IS NOT NULL),
f AS (SELECT source, doc_id, l,
             len(string_split(l, ' '))::DOUBLE AS nt
      FROM ln WHERE l <> ''),
c AS (SELECT l, COUNT(DISTINCT doc_id) AS docs FROM f GROUP BY 1),
t AS (SELECT f.source, f.nt, (c.docs >= 3)::INT AS b
      FROM f JOIN c USING (l))
SELECT source, COUNT(*)::BIGINT AS n_lines,
       SUM(b)::BIGINT AS boiler_lines,
       SUM(nt)::BIGINT AS tokens_total,
       SUM(nt * b)::BIGINT AS boiler_tokens,
       ROUND(SUM(nt * b) / SUM(nt) * 100.0, 6) AS boiler_token_pct
FROM t GROUP BY source;""",
)
def x253(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import boilerplate_share

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_share(docs, min_docs=3, group_cols=["source"])


@_declare(
    "X254_rolling_active_users",
    # Exact trailing-7-day distinct active users per day (timeseries.
    # rolling_active_counts): COUNT(DISTINCT) over a sliding frame is
    # not subtractable, so the plan rewrites to per-user coverage
    # islands + one range explode — exact, one pass, fan-out <= 7 per
    # activity day. The oracle brute-forces the day x window range
    # join at gate scale.
    """WITH ud AS (
  SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
days AS (SELECT unnest(generate_series(
           (SELECT MIN(d) FROM ud),
           (SELECT MAX(d) FROM ud) + INTERVAL 6 DAY,
           INTERVAL 1 DAY))::DATE AS e)
SELECT e::VARCHAR AS window_end, COUNT(DISTINCT u)::BIGINT AS n_active
FROM days JOIN ud ON ud.d BETWEEN e - INTERVAL 6 DAY AND e
GROUP BY e;""",
)
def x254(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rolling_active_counts

    ev = load_table(spark, sf_dir, "events")
    # date -> string for the driver compare (pandas dtype parity: Spark
    # dates arrive as objects, DuckDB DATEs as datetime64 — the
    # day-offset/string convention of the other date-emitting extras)
    return rolling_active_counts(ev, "user_id", "ts", window_days=7).select(
        F.col("window_end").cast("string").alias("window_end"), "n_active"
    )


@_declare(
    "X255_topk_term_overlap",
    # Head-vocabulary overlap matrix across languages (textstats.
    # topk_term_overlap): Jaccard of the top-50 term sets per slice
    # pair — the "interchangeable or complementary" composition
    # diagnostic; partitioned rank window + k-bounded pair join.
    """WITH t AS (
  SELECT lang AS g, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT g, tok, COUNT(*)::BIGINT AS c FROM t WHERE tok <> ''
      GROUP BY 1, 2),
top AS (SELECT g, tok FROM (
          SELECT g, tok, ROW_NUMBER() OVER (PARTITION BY g
                                            ORDER BY c DESC, tok) AS rk
          FROM c) WHERE rk <= 50),
sz AS (SELECT g, COUNT(*)::BIGINT AS n FROM top GROUP BY 1),
cm AS (SELECT a.g AS ga, b.g AS gb, COUNT(*)::BIGINT AS n_common
       FROM top a JOIN top b ON a.tok = b.tok AND a.g < b.g
       GROUP BY 1, 2)
SELECT sa.g AS group_a, sb.g AS group_b, 50::BIGINT AS k,
       COALESCE(cm.n_common, 0) AS n_common,
       ROUND(COALESCE(cm.n_common, 0)::DOUBLE
             / (sa.n + sb.n - COALESCE(cm.n_common, 0)), 6) AS jaccard
FROM sz sa JOIN sz sb ON sa.g < sb.g
LEFT JOIN cm ON cm.ga = sa.g AND cm.gb = sb.g;""",
)
def x255(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import topk_term_overlap

    docs = load_table(spark, sf_dir, "documents")
    return topk_term_overlap(docs, group_col="lang", k=50)


@_declare(
    "X256_neyman_allocation",
    # Minimum-variance sampling design (sampling.neyman_allocation,
    # Neyman 1934): alloc_s = min(N_s, lam*N_s*sd_s) with sum = 480 over
    # the 20 sources — the closed-form waterfill (X134's construction)
    # on Neyman shares N_s*sd_s instead of temperature shares. Budget
    # 480 on 20x25 strata saturates the high-variance sources and
    # exercises both branches. The oracle replays the identical
    # prefix-sum construction.
    """WITH c AS (SELECT source, COUNT(*)::DOUBLE AS n,
                  COALESCE(stddev_pop(n_chars), 0) AS sd
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
b AS (SELECT source, n, sd, n * sd AS p FROM c),
t AS (SELECT SUM(CASE WHEN p > 0 THEN n ELSE 0 END) AS tn, SUM(p) AS tp FROM b),
r AS (SELECT b.*, tn, tp,
             CASE WHEN p > 0 THEN n / p ELSE 'infinity'::DOUBLE END AS rr
      FROM b CROSS JOIN t),
w AS (SELECT *, SUM(CASE WHEN p > 0 THEN n ELSE 0 END)
                  OVER (ORDER BY rr, source) AS cn,
               SUM(p) OVER (ORDER BY rr, source) AS cp FROM r),
f AS (SELECT *, CASE WHEN p <= 0 THEN FALSE
                     WHEN tp - cp > 0 THEN rr <= (480 - cn) / (tp - cp)
                     ELSE 480 >= tn END AS sat_here FROM w),
g AS (SELECT *, MIN(CASE WHEN sat_here THEN 1 ELSE 0 END)
                  OVER (ORDER BY rr, source) = 1 AS sat FROM f),
l AS (SELECT (480 - COALESCE(SUM(CASE WHEN sat THEN n END), 0))
             / NULLIF(ANY_VALUE(tp) - COALESCE(SUM(CASE WHEN sat THEN p END), 0), 0) AS lam
      FROM g)
SELECT source, n::BIGINT AS n_rows, ROUND(sd, 6) AS sd,
       ROUND(p / tp, 6) AS weight,
       ROUND(CASE WHEN sat THEN n ELSE COALESCE(lam * p, 0) END, 2) AS alloc,
       sat AS saturated
FROM g CROSS JOIN l ORDER BY source;""",
)
def x256(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import neyman_allocation

    docs = load_table(spark, sf_dir, "documents")
    return neyman_allocation(docs, "source", "n_chars", 480.0).orderBy("source")


@_declare(
    "X257_length_filter_roi",
    # Filter-threshold ROI curve (quality.threshold_roi): docs + token
    # mass a "n_chars >= t" filter keeps at each candidate cutoff — the
    # knob-tuning table read before committing a length filter, computed
    # as one bin pass + a bounded triangular join (never rows x |T|).
    # The oracle computes each threshold directly.
    """WITH d AS (SELECT n_chars::DOUBLE AS s,
                 len(string_split(text, ' '))::DOUBLE AS w
          FROM documents WHERE n_chars IS NOT NULL),
t AS (SELECT COUNT(*)::DOUBLE AS tn, SUM(w) AS tw FROM d),
thr AS (SELECT unnest([100.0, 200.0, 300.0, 400.0, 500.0]) AS threshold)
SELECT threshold,
       COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0)::BIGINT AS n_kept,
       ROUND(COALESCE(SUM(CASE WHEN s >= threshold THEN w END), 0), 4) AS w_kept,
       ROUND(COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0) / ANY_VALUE(tn), 6) AS frac_rows,
       ROUND(COALESCE(SUM(CASE WHEN s >= threshold THEN w END), 0) / ANY_VALUE(tw), 6) AS frac_weight
FROM thr CROSS JOIN d CROSS JOIN t GROUP BY 1 ORDER BY 1;""",
)
def x257(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import threshold_roi

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_w", F.size(F.split("text", " ")).cast("double")
    )
    return threshold_roi(
        docs, "n_chars", [100.0, 200.0, 300.0, 400.0, 500.0], weight_col="_w"
    ).orderBy("threshold")


@_declare(
    "X258_encoding_audit",
    # Encoding-health QA per source (textstats.encoding_audit): U+FFFD
    # documents, C0-control ratio, non-ASCII share, pure-ASCII doc
    # fraction — the mojibake gate a web ingest runs first. One scan,
    # length-difference counters, one aggregate; the oracle repeats the
    # same regexp accounting (RE2 'g' flag = Spark's replace-all).
    """SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN length(regexp_replace(text, '\\x{FFFD}', '', 'g')) < length(text)
                THEN 1 ELSE 0 END)::BIGINT AS docs_replacement,
       ROUND(SUM(length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')))
             / SUM(length(text)), 6) AS ctrl_char_ratio,
       ROUND(SUM(length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')))
             / SUM(length(text)), 6) AS non_ascii_share,
       ROUND(AVG(CASE WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) = length(text)
                 THEN 1.0 ELSE 0.0 END), 6) AS ascii_frac_docs
FROM documents GROUP BY source ORDER BY source;""",
)
def x258(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import encoding_audit

    docs = load_table(spark, sf_dir, "documents")
    return encoding_audit(docs).orderBy("source")


@_declare(
    "X259_json_schema_profile",
    # Semi-structured schema profile (profile.json_schema_profile): per
    # top-level JSON key, the observed value-type histogram — the drift
    # audit that catches a producer switching 42 -> "42". One map parse,
    # per-object-key explode, lexical type classification, one hash
    # aggregate. The oracle unnests json_keys with a dynamic-path
    # extract and applies the same lexical classifier.
    """WITH kv AS (
  SELECT k AS key, CAST(json_extract(props, '$.' || k) AS VARCHAR) AS v
  FROM (SELECT unnest(json_keys(props)) AS k, props FROM events
        WHERE props IS NOT NULL))
SELECT key,
       CASE WHEN v = 'null' THEN 'null'
            WHEN regexp_full_match(v, '-?[0-9]+') THEN 'integer'
            WHEN regexp_full_match(v, '-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?') THEN 'number'
            WHEN v IN ('true', 'false') THEN 'boolean'
            WHEN v LIKE '{%' THEN 'object'
            WHEN v LIKE '[%' THEN 'array'
            ELSE 'string' END AS value_type,
       COUNT(*)::BIGINT AS n
FROM kv GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x259(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import json_schema_profile

    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    return json_schema_profile(ev, "props").orderBy("key", "value_type")


@_declare(
    "X260_rolling_origin_splits",
    # Rolling-origin backtest accounting (timeseries.rolling_origin_splits,
    # Tashman 2000): fold k trains on time slices 0..k-1 and tests on
    # slice k, so no fold sees the future — the time-aware replacement
    # for hash k-fold. Slice assignment is exact BIGINT microsecond
    # arithmetic on both engines (no float boundary drift).
    """WITH b AS (SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi
           FROM events WHERE ts IS NOT NULL),
s AS (SELECT ((epoch_us(ts) - lo) * 6) // (hi - lo + 1) AS slice
      FROM events, b WHERE ts IS NOT NULL),
c AS (SELECT slice, COUNT(*) AS n FROM s GROUP BY 1),
t AS (SELECT SUM(n)::DOUBLE AS tot FROM c),
f AS (SELECT unnest(range(1, 6))::INT AS fold)
SELECT fold,
       COALESCE(SUM(CASE WHEN slice < fold THEN n END), 0)::BIGINT AS n_train,
       COALESCE(SUM(CASE WHEN slice = fold THEN n END), 0)::BIGINT AS n_test,
       ROUND(COALESCE(SUM(CASE WHEN slice < fold THEN n END), 0) / ANY_VALUE(tot), 6) AS frac_train
FROM f CROSS JOIN t LEFT JOIN c ON slice <= fold
GROUP BY fold ORDER BY fold;""",
)
def x260(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rolling_origin_splits

    ev = load_table(spark, sf_dir, "events")
    return rolling_origin_splits(ev, "ts", n_folds=5).orderBy("fold")


@_declare(
    "X261_log_odds_terms",
    # Fightin' Words (textstats.log_odds_terms, Monroe/Colaresi/Quinn
    # 2008): log-odds with an informative Dirichlet prior, z-scored —
    # what vocabulary distinguishes the en slice from the fr slice.
    # One conditional-count explode, 1-row totals broadcast, TakeOrdered
    # top-15 each direction. The oracle replays the identical formula.
    """WITH base AS (
  SELECT (lang = 'en') AS a, unnest(string_split(lower(text), ' ')) AS w
  FROM documents WHERE lang IN ('en', 'fr')),
counts AS (SELECT w, SUM(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS ya,
                  SUM(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS yb
           FROM base GROUP BY 1),
t AS (SELECT SUM(ya)::DOUBLE AS na, SUM(yb)::DOUBLE AS nb FROM counts),
sc AS (SELECT w, ya AS count_a, yb AS count_b,
         (ln((ya + aw) / (na + 500.0 - ya - aw))
          - ln((yb + aw) / (nb + 500.0 - yb - aw)))
           / sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw)) AS z
       FROM (SELECT c.*, na, nb, 500.0 * (ya + yb) / (na + nb) AS aw
             FROM counts c CROSS JOIN t)),
ta AS (SELECT 'en' AS favors, w, count_a, count_b, ROUND(z, 6) AS z
       FROM sc ORDER BY sc.z DESC, w LIMIT 15),
tb AS (SELECT 'fr' AS favors, w, count_a, count_b, ROUND(z, 6) AS z
       FROM sc ORDER BY sc.z ASC, w LIMIT 15)
SELECT * FROM ta UNION ALL SELECT * FROM tb;""",
)
def x261(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import log_odds_terms

    docs = load_table(spark, sf_dir, "documents")
    return log_odds_terms(docs, "lang", "en", "fr", k=15)


@_declare(
    "X262_cluster_transitivity",
    # Near-dup cluster over-merge audit (dedup.cluster_transitivity_audit):
    # connected components assert c(c-1)/2 relations per cluster but the
    # verifier certified only the edges — transitivity = certified/
    # asserted. Pure bounded aggregates over the existing pairs+clusters
    # relations; no new pair join. Oracle: X40's recursive-CTE closure
    # over the exact jac>=0.8 edge set (minhash recall vs that set is
    # pinned by the X06 tests).
    """WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh) WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT d1, d2 FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
  WHERE len(list_intersect(x.shingles,y.shingles))::DOUBLE /
        (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.8),
edges AS (SELECT d1 AS u, d2 AS v FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
rep AS (SELECT u AS doc_id, MIN(v) AS rep_id FROM reach GROUP BY u),
sizes AS (SELECT rep_id, COUNT(*)::BIGINT AS c FROM rep GROUP BY 1 HAVING COUNT(*) > 1),
agg AS (SELECT COUNT(*)::BIGINT AS n_clusters,
               COALESCE(SUM(c), 0)::BIGINT AS n_docs_clustered,
               COALESCE(MAX(c), 0)::BIGINT AS max_cluster,
               COALESCE(SUM(c * (c - 1) / 2), 0)::BIGINT AS implied_pairs
        FROM sizes),
f AS (SELECT COUNT(*)::BIGINT AS found_pairs FROM pairs)
SELECT n_clusters, n_docs_clustered, max_cluster, found_pairs, implied_pairs,
       ROUND(CASE WHEN implied_pairs > 0
             THEN found_pairs::DOUBLE / implied_pairs END, 6) AS transitivity
FROM agg CROSS JOIN f;""",
)
def x262(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import (
        cluster_transitivity_audit,
        fuzzy_dedup_clusters,
        minhash_near_dups,
    )

    from swivel_spark_prep_spark.cache import track_persist

    docs = load_table(spark, sf_dir, "documents")
    # persisted (round 16, guide §5): pairs feeds BOTH the connected-
    # components closure inside fuzzy_dedup_clusters AND the audit's
    # found_pairs count — without the persist the whole MinHash
    # candidate+verify pipeline executes twice. Dup-bounded relation.
    pairs = track_persist(minhash_near_dups(docs))
    clusters = fuzzy_dedup_clusters(docs, pairs)
    return cluster_transitivity_audit(pairs, clusters)


@_declare(
    "X263_l_diversity",
    # l-diversity audit (quality.l_diversity_audit, Machanavajjhala
    # 2007): quasi-groups whose SENSITIVE column (source) carries < 2
    # distinct values — homogeneous groups re-identify regardless of
    # size, the failure k-anonymity misses. X195's output convention
    # (__audit__ trailer with rows at risk).
    """WITH g AS (SELECT lang::VARCHAR AS lang, n_chars::VARCHAR AS n_chars,
                 COUNT(*)::BIGINT AS n,
                 COUNT(DISTINCT source)::BIGINT AS n_sensitive
          FROM documents GROUP BY 1, 2)
SELECT lang, n_chars, n, n_sensitive FROM g WHERE n_sensitive < 2
UNION ALL
SELECT '__audit__', NULL,
       COALESCE(SUM(CASE WHEN n_sensitive < 2 THEN n END), 0)::BIGINT, NULL
FROM g
ORDER BY lang NULLS LAST, n_chars NULLS LAST;""",
)
def x263(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import l_diversity_audit

    docs = load_table(spark, sf_dir, "documents")
    return l_diversity_audit(docs, ["lang", "n_chars"], "source", l=2).orderBy(
        F.asc_nulls_last("lang"), F.asc_nulls_last("n_chars")
    )


@_declare(
    "X264_user_entropy",
    # Behavioral-diversity histogram (timeseries.entity_entropy):
    # Shannon entropy of each user's event-type mix, bucketed to 0.1
    # bits — separates single-action bots (H=0) from organic users.
    # Uses H = log2(N) - sum(n*log2 n)/N, exactly 0.0 for
    # single-category entities (the -sum(p log p) form emits -0.0,
    # a value-hash trap). Two hash aggregates + a bounded histogram.
    """WITH c AS (SELECT user_id, event_type, COUNT(*)::DOUBLE AS n
          FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
k AS (SELECT user_id, SUM(n) AS tot, SUM(n * log2(n)) AS s FROM c GROUP BY 1),
h AS (SELECT log2(tot) - s / tot AS ent FROM k)
SELECT ROUND(ent, 1) AS h_bin, COUNT(*)::BIGINT AS n_entities
FROM h GROUP BY 1 ORDER BY 1;""",
)
def x264(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import entity_entropy

    ev = load_table(spark, sf_dir, "events")
    return entity_entropy(ev, "user_id", "event_type").orderBy("h_bin")


@_declare(
    "X265_simpsons_check",
    # Simpson's-paradox detector (linear.simpsons_check, Simpson 1951):
    # pooled vs per-stratum OLS slope sign for value ~ epoch-hours,
    # stratified by event_type. ONE grouped moment aggregate; the pooled
    # slope is the same relation re-aggregated (pooled moments = column
    # sums of group moments), folded in as a 1-row broadcast.
    """WITH base AS (
  SELECT event_type AS g, epoch_us(ts) / 3.6e9 AS x, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM base GROUP BY 1),
pool AS (SELECT SUM(n) AS pn, SUM(sx) AS psx, SUM(sy) AS psy,
                SUM(sxy) AS psxy, SUM(sxx) AS psxx FROM per),
ps AS (SELECT CASE WHEN pn * psxx - psx * psx > 0
              THEN (pn * psxy - psx * psy) / (pn * psxx - psx * psx) END AS pooled
       FROM pool)
SELECT g AS event_type, n::BIGINT AS n,
       ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
       ROUND(pooled, 6) AS pooled_slope,
       CASE WHEN n * sxx - sx * sx > 0 AND pooled IS NOT NULL
            THEN sign(CASE WHEN n * sxx - sx * sx > 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END)
                 * sign(pooled) < 0 END AS reversed
FROM per CROSS JOIN ps ORDER BY event_type;""",
)
def x265(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import simpsons_check

    ev = load_table(spark, sf_dir, "events").withColumn(
        "_hours", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3.6e9)
    )
    return simpsons_check(ev, "_hours", "value", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X266_ngram_dup_spectrum",
    # Duplication spectrum (textstats.ngram_dup_spectrum): duplicate
    # gram mass at n = 1,2,4,8 — where the corpus's duplication lives
    # (vocabulary reuse vs copied passages) and which shingle size a
    # dedup pass should key on. One exact COUNT(DISTINCT) aggregate per
    # n over string grams; |ns| scans by construction.
    """WITH t AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
g AS (
  SELECT 1 AS n, unnest(tk) AS g FROM t WHERE len(tk) >= 1
  UNION ALL
  SELECT 2, unnest(list_transform(range(len(tk) - 1),
         p -> array_to_string(tk[p+1:p+2], ' '))) FROM t WHERE len(tk) >= 2
  UNION ALL
  SELECT 4, unnest(list_transform(range(len(tk) - 3),
         p -> array_to_string(tk[p+1:p+4], ' '))) FROM t WHERE len(tk) >= 4
  UNION ALL
  SELECT 8, unnest(list_transform(range(len(tk) - 7),
         p -> array_to_string(tk[p+1:p+8], ' '))) FROM t WHERE len(tk) >= 8)
SELECT n, COUNT(*)::BIGINT AS total_grams,
       COUNT(DISTINCT g)::BIGINT AS distinct_grams,
       ROUND(1.0 - COUNT(DISTINCT g) / COUNT(*)::DOUBLE, 6) AS dup_rate
FROM g GROUP BY n ORDER BY n;""",
)
def x266(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import ngram_dup_spectrum

    docs = load_table(spark, sf_dir, "documents")
    return ngram_dup_spectrum(docs).orderBy("n")


@_declare(
    "X267_cross_correlation",
    # Lagged cross-correlation (timeseries.cross_correlation, Box &
    # Jenkins CCF): does purchase value lead click value day-over-day.
    # One daily aggregate touches the corpus; the +/-7-lag axis is a
    # literal explode of the bounded A-side daily relation and Pearson
    # per lag is one grouped aggregate (NULL under 3 overlapping days).
    """WITH daily AS (
  SELECT event_type AS k, date_trunc('day', ts)::DATE AS d, SUM(value) AS v
  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2),
a AS (SELECT d AS da, v AS va FROM daily WHERE k = 'purchase'),
b AS (SELECT d AS db, v AS vb FROM daily WHERE k = 'click'),
lagged AS (SELECT da, va, lag FROM a
           CROSS JOIN (SELECT unnest(range(-7, 8))::INT AS lag)),
j AS (SELECT lag, va, vb FROM lagged JOIN b ON db = da + lag)
SELECT lag, COUNT(*)::BIGINT AS n_days,
       ROUND(CASE WHEN COUNT(*) >= 3 THEN corr(va, vb) END, 6) AS ccf
FROM j GROUP BY lag ORDER BY lag;""",
)
def x267(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    return cross_correlation(
        ev, "ts", "value", "event_type", "purchase", "click", max_lag=7
    ).orderBy("lag")


@_declare(
    "X268_psi_timeline",
    # PSI timeline (quality.psi_timeline): weekly population-stability
    # index of event value vs the FIRST week's exact deciles — "when
    # did the distribution start drifting", vs X79's two-slice PSI.
    # One scan + one baseline percentile aggregate; (weeks x bins)
    # scaffold is control-plane. Empty cells clamp to 1e-6.
    """WITH vals AS (
  SELECT floor(epoch_us(ts) / 604800000000)::BIGINT AS w, value::DOUBLE AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
w0 AS (SELECT MIN(w) AS w0 FROM vals),
e AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges
      FROM vals, w0 WHERE w = w0),
binned AS (SELECT w, len(list_filter(edges, x -> v >= x)) AS b FROM vals, e),
counts AS (SELECT w, b, COUNT(*)::DOUBLE AS n FROM binned GROUP BY 1, 2),
weeks AS (SELECT w, SUM(n) AS tot FROM counts GROUP BY 1),
bins AS (SELECT unnest(range(0, 10))::INT AS b),
cell AS (SELECT weeks.w, bins.b, tot, COALESCE(n, 0) / tot AS p
         FROM weeks CROSS JOIN bins LEFT JOIN counts
           ON counts.w = weeks.w AND counts.b = bins.b),
base AS (SELECT b, p AS p0 FROM cell, w0 WHERE w = w0)
SELECT w AS week, ANY_VALUE(tot)::BIGINT AS n,
       ROUND(SUM((greatest(p, 1e-6) - greatest(p0, 1e-6))
                 * ln(greatest(p, 1e-6) / greatest(p0, 1e-6))), 6) AS psi
FROM cell JOIN base USING (b) GROUP BY w ORDER BY w;""",
)
def x268(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import psi_timeline

    ev = load_table(spark, sf_dir, "events")
    return psi_timeline(ev, "ts", "value").orderBy("week")


@_declare(
    "X269_quantile_timeline",
    # Weekly quantile bands (timeseries.quantile_timeline): exact
    # p50/p90/p99 of event value per (week, event_type) — the latency
    # dashboard table, one grouped exact-percentile aggregate.
    """SELECT floor(epoch_us(ts) / 604800000000)::BIGINT AS week,
       event_type, COUNT(*)::BIGINT AS n,
       ROUND(quantile_cont(value::DOUBLE, 0.5), 6) AS p50,
       ROUND(quantile_cont(value::DOUBLE, 0.9), 6) AS p90,
       ROUND(quantile_cont(value::DOUBLE, 0.99), 6) AS p99
FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2;""",
)
def x269(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import quantile_timeline

    ev = load_table(spark, sf_dir, "events")
    return quantile_timeline(ev, "ts", "value", "event_type").orderBy(
        "week", "event_type"
    )


@_declare(
    "X270_hill_tail_index",
    # Hill (1975) tail-index estimator over the top-100 token
    # frequencies (textstats.hill_tail_index): xi = mean ln(x_i/x_k1),
    # alpha = 1/xi — the order-statistics tail measure complementing
    # X61's regression Zipf fit. Ties AT the boundary value are
    # excluded by the x > x_k1 filter while the divisor stays k (the
    # standard ties variant) — the value multiset of a top-(k+1) cut is
    # tie-order-invariant, so any engine replays it. TakeOrdered(101)
    # is the only reduction.
    """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
c AS (SELECT w, COUNT(*)::DOUBLE AS x FROM t GROUP BY 1),
top AS (SELECT x FROM c ORDER BY x DESC LIMIT 101),
m AS (SELECT MIN(x) AS xk1 FROM top),
s AS (SELECT ANY_VALUE(xk1) AS x_k1,
             ROUND(SUM(ln(x / xk1)) / 100.0, 6) AS xi
      FROM top, m WHERE x > xk1)
SELECT 100::INT AS k, x_k1, xi,
       ROUND(CASE WHEN xi > 0 THEN 1.0 / xi END, 6) AS alpha
FROM s;""",
)
def x270(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import hill_tail_index

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    return hill_tail_index(counts, "cnt", k=100)


@_declare(
    "X271_fd_histogram",
    # Freedman-Diaconis auto-binned histogram (profile.fd_histogram,
    # 1981): bin width 2*IQR/n^(1/3) from ONE exact-percentile
    # aggregate, bins capped at 200; X62's fixed-bin histogram with the
    # statistically-defensible width choice. The oracle replays the
    # identical width/bin arithmetic.
    """WITH base AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
st0 AS (SELECT COUNT(*)::BIGINT AS n, MIN(v) AS lo, MAX(v) AS hi,
               quantile_cont(v, 0.75) AS q3, quantile_cont(v, 0.25) AS q1
        FROM base),
st1 AS (SELECT n, lo, hi, 2.0 * (q3 - q1) / pow(n, 1.0 / 3.0) AS w FROM st0),
st AS (SELECT n, lo, hi,
              CASE WHEN w > 0 AND hi > lo
                   THEN least(ceil((hi - lo) / w)::INT, 200) ELSE 1 END AS k
       FROM st1),
b AS (SELECT CASE WHEN hi > lo
             THEN least(floor((v - lo) / ((hi - lo) / k))::INT, k - 1)
             ELSE 0 END AS bin, lo, hi, k
      FROM base, st)
SELECT bin, ROUND(lo + bin * (hi - lo) / k, 6) AS lo,
       ROUND(lo + (bin + 1) * (hi - lo) / k, 6) AS hi,
       COUNT(*)::BIGINT AS n
FROM b GROUP BY bin, lo, hi, k ORDER BY bin;""",
)
def x271(spark, sf_dir):
    from swivel_spark_prep_spark.operators.profile import fd_histogram

    ev = load_table(spark, sf_dir, "events")
    return fd_histogram(ev, "value").orderBy("bin")


@_declare(
    "X272_jarque_bera",
    # Jarque-Bera normality screen per event type (evalmetrics.
    # jarque_bera, 1980): JB = n/6*(S^2 + K^2/4) from one raw-power-sum
    # aggregate; compare to chi2_2 = 5.99 (no-erf convention). The
    # oracle replays the identical central-moment arithmetic.
    """WITH s AS (SELECT event_type, COUNT(*)::DOUBLE AS n, SUM(value) AS s1,
                 SUM(value*value) AS s2, SUM(value*value*value) AS s3,
                 SUM(value*value*value*value) AS s4
          FROM events WHERE value IS NOT NULL GROUP BY 1),
m AS (SELECT event_type, n, s1/n AS m1,
             s2/n - (s1/n)*(s1/n) AS m2,
             s3/n - 3*(s1/n)*s2/n + 2*pow(s1/n, 3) AS m3,
             s4/n - 4*(s1/n)*s3/n + 6*pow(s1/n, 2)*s2/n - 3*pow(s1/n, 4) AS m4
      FROM s),
j AS (SELECT event_type, n, m3 / pow(m2, 1.5) AS sk, m4/(m2*m2) - 3.0 AS ku,
             (n >= 8 AND m2 > 0) AS ok
      FROM m)
SELECT event_type, n::BIGINT AS n,
       ROUND(CASE WHEN ok THEN sk END, 6) AS skewness,
       ROUND(CASE WHEN ok THEN ku END, 6) AS kurtosis_excess,
       ROUND(CASE WHEN ok THEN n/6.0*(sk*sk + ku*ku/4.0) END, 6) AS jb
FROM j ORDER BY event_type;""",
)
def x272(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import jarque_bera

    ev = load_table(spark, sf_dir, "events")
    return jarque_bera(ev, "value", "event_type").orderBy("event_type")


@_declare(
    "X273_brown_forsythe",
    # Brown-Forsythe variance-equality test (evalmetrics.brown_forsythe,
    # 1974): ANOVA F on z = |x - median_group| — the robust Levene
    # variant gating "can I pool variances". Exact grouped medians
    # (percentile aggregate, broadcast back) + one moments pass.
    """WITH base AS (SELECT event_type AS g, value::DOUBLE AS x
            FROM events WHERE value IS NOT NULL),
med AS (SELECT g, quantile_cont(x, 0.5) AS md FROM base GROUP BY 1),
z AS (SELECT base.g, abs(x - md) AS z FROM base JOIN med USING (g)),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(z) AS s, SUM(z*z) AS ss
        FROM z GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, SUM(s) AS st,
               SUM(s*s/n) AS b, SUM(ss) AS sst FROM per)
SELECT k::BIGINT AS k, nn::BIGINT AS n,
       ROUND(CASE WHEN k > 1 AND nn > k AND sst - b > 0
             THEN ((b - st*st/nn) / (k - 1)) / ((sst - b) / (nn - k)) END, 6)
         AS f_stat,
       (k - 1)::BIGINT AS df1, (nn - k)::BIGINT AS df2
FROM tot;""",
)
def x273(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import brown_forsythe

    ev = load_table(spark, sf_dir, "events")
    return brown_forsythe(ev, "value", "event_type")


@_declare(
    "X274_funnel_latency",
    # Funnel transition-latency distribution (timeseries.funnel_latency):
    # exact p50/p90/p99 of (first purchase at-or-after first signup) -
    # (first signup), seconds — X51 counts conversions, this times them.
    # Two keyed min-aggregates + one keyed join, no per-key fan-out.
    """WITH a AS (SELECT user_id, MIN(ts) AS ta FROM events
          WHERE event_type = 'signup' GROUP BY 1),
b AS (SELECT e.user_id, ANY_VALUE(ta) AS ta, MIN(ts) AS tb
      FROM events e JOIN a USING (user_id)
      WHERE event_type = 'purchase' AND ts >= ta GROUP BY 1),
lat AS (SELECT (epoch_us(tb) - epoch_us(ta)) / 1000000.0 AS lat FROM b)
SELECT (SELECT COUNT(*)::BIGINT FROM a) AS n_started,
       COUNT(lat)::BIGINT AS n_converted,
       ROUND(quantile_cont(lat, 0.5), 6) AS lat_p50,
       ROUND(quantile_cont(lat, 0.9), 6) AS lat_p90,
       ROUND(quantile_cont(lat, 0.99), 6) AS lat_p99
FROM lat;""",
)
def x274(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import funnel_latency

    ev = load_table(spark, sf_dir, "events")
    return funnel_latency(ev, "ts", "user_id", "event_type", "signup", "purchase")


@_declare(
    "X275_chi2_residuals",
    # Standardized Pearson residuals per contingency cell (evalmetrics.
    # chi2_residuals, Haberman 1973): X160 says THAT (event_type x
    # weekday) deviates; this says WHICH cells, |r| > 2 flagging. One
    # cell-count aggregate + broadcast margins.
    """WITH cells AS (
  SELECT event_type::VARCHAR AS a, isodow(ts)::VARCHAR AS b,
         COUNT(*)::DOUBLE AS o
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
rm AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
cm AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY 1),
t AS (SELECT SUM(o) AS n FROM cells)
SELECT a, b, o::BIGINT AS observed,
       ROUND(ra * cb / n, 6) AS expected,
       ROUND(CASE WHEN ra * cb / n * (1 - ra / n) * (1 - cb / n) > 0
             THEN (o - ra * cb / n)
                  / sqrt(ra * cb / n * (1 - ra / n) * (1 - cb / n)) END, 6)
         AS std_residual
FROM cells JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN t
ORDER BY a, b;""",
)
def x275(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import chi2_residuals

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.dayofweek(F.col("ts").cast("timestamp")).alias("_dow"),
        )
        # ISO weekday (Mon=1..Sun=7) to match the oracle's isodow
        .select(
            "event_type",
            F.when(F.col("_dow") == 1, F.lit(7))
            .otherwise(F.col("_dow") - 1)
            .alias("dow"),
        )
    )
    return chi2_residuals(ev, "event_type", "dow").orderBy("a", "b")


@_declare(
    "X276_lorenz_curve",
    # Lorenz concentration curve (quality.lorenz_curve): cumulative
    # value share of the poorest <= p fraction of users — the table
    # behind X162's Gini number. One keyed total + ONE two-pass
    # range-partitioned prefix sum + bounded bucket-max; no single-task
    # window at any size.
    """WITH totals AS (
  SELECT user_id AS k, SUM(value) AS v FROM events
  WHERE value IS NOT NULL GROUP BY 1),
pre AS (SELECT v, SUM(v) OVER (ORDER BY v, k) AS cv,
               ROW_NUMBER() OVER (ORDER BY v, k) AS cn
        FROM totals),
t AS (SELECT SUM(v) AS tv, COUNT(*)::DOUBLE AS tn FROM totals),
shares AS (SELECT CEIL(cn / tn * 10)::INT AS b, cv / tv AS vs, cn / tn AS ps
           FROM pre, t),
bucket AS (SELECT b, arg_max(vs, ps) AS vs FROM shares GROUP BY 1),
grid AS (SELECT unnest(range(1, 11))::INT AS g)
SELECT ROUND(g / 10.0, 6) AS p,
       ROUND(COALESCE(arg_max(vs, b), 0.0), 6) AS cum_value_share
FROM grid LEFT JOIN bucket ON b <= g
GROUP BY g ORDER BY p;""",
)
def x276(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import lorenz_curve

    ev = load_table(spark, sf_dir, "events")
    return lorenz_curve(ev, "user_id", "value", points=10).orderBy("p")


@_declare(
    "X277_partial_correlation",
    # First-order partial correlation (evalmetrics.partial_correlation):
    # value <-> json-k association with hour-of-day partialled out —
    # X265's Simpson check in correlation form. ONE moments aggregate
    # (three Pearson corrs share the NULL-complete sample).
    """WITH base AS (
  SELECT value::DOUBLE AS x,
         CAST(json_extract(props, '$.k') AS DOUBLE) AS y,
         (epoch_us(ts) % 86400000000) / 3600000000.0 AS z
  FROM events
  WHERE value IS NOT NULL AND props IS NOT NULL AND ts IS NOT NULL),
s AS (SELECT COUNT(*)::BIGINT AS n, corr(x, y) AS rxy, corr(x, z) AS rxz,
             corr(y, z) AS ryz
      FROM base WHERE y IS NOT NULL)
SELECT n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
       ROUND(ryz, 6) AS r_yz,
       ROUND(CASE WHEN (1 - rxz*rxz) * (1 - ryz*ryz) > 0
             THEN (rxy - rxz*ryz) / sqrt((1 - rxz*rxz) * (1 - ryz*ryz)) END, 6)
         AS r_xy_given_z
FROM s;""",
)
def x277(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import partial_correlation

    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("x"),
        F.get_json_object("props", "$.k").cast("double").alias("y"),
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) % 86_400_000_000)
            / 3_600_000_000.0
        ).alias("z"),
    )
    return partial_correlation(ev, "x", "y", "z")


@_declare(
    "X278_topk_coverage",
    # Vocabulary-truncation coverage curve (textstats.topk_coverage):
    # share of token occurrences the top-k types cover at k = 10/100/
    # 1000/10000 — the coverage reading of the swivel vocab cut. One
    # count aggregate + ONE two-pass prefix sum in (count desc, token)
    # order + bounded bucket-max.
    """WITH c AS (SELECT w, COUNT(*)::DOUBLE AS c FROM
            (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          GROUP BY 1),
pre AS (SELECT w, c, SUM(c) OVER (ORDER BY c DESC, w) AS cc,
               ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM c),
t AS (SELECT SUM(c) AS tt, COUNT(*) AS v FROM c),
b AS (SELECT CASE WHEN rk <= 10 THEN 10 WHEN rk <= 100 THEN 100
                  WHEN rk <= 1000 THEN 1000 WHEN rk <= 10000 THEN 10000 END AS b,
             cc, rk
      FROM pre WHERE rk <= 10000),
bk AS (SELECT b, arg_max(cc, rk) AS cum, MAX(rk) AS types FROM b GROUP BY 1),
grid AS (SELECT unnest([10, 100, 1000, 10000])::INT AS k)
SELECT k, COALESCE(arg_max(types, b), 0)::BIGINT AS types,
       ROUND(COALESCE(arg_max(cum, b), 0.0) / ANY_VALUE(tt), 6) AS coverage
FROM grid LEFT JOIN bk ON b <= k CROSS JOIN t
GROUP BY k ORDER BY k;""",
)
def x278(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import topk_coverage

    docs = load_table(spark, sf_dir, "documents")
    return topk_coverage(docs).orderBy("k")


@_declare(
    "X279_effective_sample_size",
    # Kish effective sample size per source (sampling.effective_sample_
    # size, 1965): ESS = (sum w)^2 / sum w^2 with w = n_chars — the
    # audit that belongs next to every importance-weighting step (DSIR,
    # temperature, raking): ess_ratio is the fraction of the corpus the
    # weighting statistically keeps. One grouped moments aggregate.
    """SELECT source,
       SUM(CASE WHEN n_chars > 0 THEN 1 ELSE 0 END)::BIGINT AS n,
       SUM(CASE WHEN n_chars IS NULL OR n_chars <= 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_excluded,
       ROUND(pow(SUM(CASE WHEN n_chars > 0 THEN n_chars::DOUBLE END), 2)
             / SUM(CASE WHEN n_chars > 0 THEN n_chars::DOUBLE * n_chars END), 6)
         AS ess,
       ROUND(pow(SUM(CASE WHEN n_chars > 0 THEN n_chars::DOUBLE END), 2)
             / SUM(CASE WHEN n_chars > 0 THEN n_chars::DOUBLE * n_chars END)
             / SUM(CASE WHEN n_chars > 0 THEN 1 ELSE 0 END), 6) AS ess_ratio
FROM documents GROUP BY source ORDER BY source;""",
)
def x279(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import effective_sample_size

    docs = load_table(spark, sf_dir, "documents")
    return effective_sample_size(docs, "n_chars", "source").orderBy("source")


@_declare(
    "X280_icc_reliability",
    # ICC(2,1) absolute-agreement reliability (labeling.icc_2_1, Shrout
    # & Fleiss 1979) on a complete 3-rater continuous score matrix
    # (deterministic per-doc scores: chars, 5x tokens, alpha chars) —
    # the continuous-label companion to Cohen/Fleiss kappa and
    # Dawid-Skene. Control-plane: SS terms are 1-row aggregates.
    """WITH r AS (
  SELECT doc_id AS i, 'r_chars' AS r, length(text)::DOUBLE AS x FROM documents
  UNION ALL
  SELECT doc_id, 'r_tok5', len(string_split(text, ' ')) * 5.0 FROM documents
  UNION ALL
  SELECT doc_id, 'r_alpha', length(regexp_replace(text, '[^a-z ]', '', 'g'))::DOUBLE
  FROM documents),
d AS (SELECT COUNT(DISTINCT i)::BIGINT AS n, COUNT(DISTINCT r)::BIGINT AS k,
             COUNT(*)::DOUBLE AS cells, SUM(x) AS s, SUM(x*x) AS ss FROM r),
im AS (SELECT i, AVG(x) AS mi FROM r GROUP BY 1),
rm AS (SELECT r, AVG(x) AS mr FROM r GROUP BY 1),
t AS (SELECT n, k, ss - cells * pow(s / cells, 2) AS ss_total,
             (SELECT SUM(pow(mi - s / cells, 2)) FROM im, d) * k AS ss_rows,
             (SELECT SUM(pow(mr - s / cells, 2)) FROM rm, d) * n AS ss_cols
      FROM d),
ms AS (SELECT n, k, ss_rows / (n - 1) AS msr, ss_cols / (k - 1) AS msc,
              (ss_total - ss_rows - ss_cols) / ((n - 1) * (k - 1)) AS mse
       FROM t)
SELECT n AS n_items, k AS k_raters, ROUND(msr, 6) AS msr,
       ROUND(msc, 6) AS msc, ROUND(mse, 6) AS mse,
       ROUND(CASE WHEN msr + (k - 1) * mse + k * (msc - mse) / n > 0
             THEN (msr - mse) / (msr + (k - 1) * mse + k * (msc - mse) / n)
             END, 6) AS icc2_1
FROM ms;""",
)
def x280(spark, sf_dir):
    from swivel_spark_prep_spark.operators.labeling import icc_2_1

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    scores = F.array(
        F.struct(F.lit("r_chars").alias("r"),
                 F.length("text").cast("double").alias("x")),
        F.struct(F.lit("r_tok5").alias("r"),
                 (F.size(F.split(F.col("text"), " ")) * 5.0).alias("x")),
        F.struct(F.lit("r_alpha").alias("r"),
                 F.length(F.regexp_replace(F.col("text"), "[^a-z ]", ""))
                 .cast("double").alias("x")),
    )
    ratings = docs.select("doc_id", F.explode(scores).alias("v")).select(
        "doc_id", F.col("v.r").alias("r"), F.col("v.x").alias("x")
    )
    return icc_2_1(ratings, "doc_id", "r", "x")


@_declare(
    "X281_dedup_threshold_sweep",
    # Dedup-threshold tuning table (dedup.near_dup_threshold_sweep):
    # pair + affected-doc counts at jac >= 0.8/0.85/0.9/0.95 from ONE
    # shared LSH + exact-verify pass (recall >= 0.9997 at the 0.8 grid
    # floor — the same guarantee X06's oracle equality rests on). The
    # oracle bins the exact all-pairs relation.
    """WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3])) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh) WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT d1, d2,
         len(list_intersect(x.shingles, y.shingles))::DOUBLE /
         (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
  FROM cand JOIN sh x ON x.doc_id = d1 JOIN sh y ON y.doc_id = d2),
grid AS (SELECT unnest([0.8, 0.85, 0.9, 0.95]) AS threshold),
np AS (SELECT threshold,
              COALESCE(SUM(CASE WHEN jac >= threshold THEN 1 END), 0)::BIGINT
                AS n_pairs
       FROM grid LEFT JOIN pairs ON TRUE GROUP BY 1),
pd AS (SELECT jac, unnest([d1, d2]) AS d FROM pairs),
nd AS (SELECT threshold,
              COUNT(DISTINCT CASE WHEN jac >= threshold THEN d END)::BIGINT
                AS n_docs
       FROM grid LEFT JOIN pd ON TRUE GROUP BY 1)
SELECT threshold, n_pairs, n_docs
FROM np JOIN nd USING (threshold) ORDER BY threshold;""",
)
def x281(spark, sf_dir):
    from swivel_spark_prep_spark.operators.dedup import near_dup_threshold_sweep

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_threshold_sweep(docs).orderBy("threshold")


@_declare(
    "X282_vocab_churn",
    # Vocabulary churn between snapshot halves (textstats.vocab_churn):
    # exclusive types per side, the token MASS those exclusives carry,
    # and the type-set Jaccard — the corpus-snapshot diff that catches
    # a silently rotating vocabulary. Halves split by doc_id parity
    # (stable). One count aggregate per side + one vocab-keyed
    # full-outer join + a 1-row rollup.
    """WITH ca AS (SELECT w, COUNT(*)::DOUBLE AS ca FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
cb AS (SELECT w, COUNT(*)::DOUBLE AS cb FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
j AS (SELECT ca.w AS wa, cb.w AS wb, ca, cb
      FROM ca FULL OUTER JOIN cb ON ca.w = cb.w)
SELECT SUM(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS types_a,
       SUM(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS types_b,
       SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS types_both,
       SUM(CASE WHEN ca IS NOT NULL AND cb IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS types_only_a,
       SUM(CASE WHEN cb IS NOT NULL AND ca IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS types_only_b,
       ROUND(COALESCE(SUM(CASE WHEN cb IS NULL THEN ca END), 0)
             / SUM(COALESCE(ca, 0)), 6) AS mass_only_a,
       ROUND(COALESCE(SUM(CASE WHEN ca IS NULL THEN cb END), 0)
             / SUM(COALESCE(cb, 0)), 6) AS mass_only_b,
       ROUND(SUM(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)
             / COUNT(*)::DOUBLE, 6) AS type_jaccard
FROM j;""",
)
def x282(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import vocab_churn

    docs = load_table(spark, sf_dir, "documents")
    return vocab_churn(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


@_declare(
    "X283_circular_stats",
    # Circular time-of-day statistics per event type (timeseries.
    # circular_stats, Fisher): mean direction as an hour, resultant
    # length, Rayleigh z = n*R^2 — the correct "when does this happen"
    # summary (a linear mean averages 23:00 and 01:00 to noon). One
    # grouped sum of cos/sin.
    """WITH base AS (
  SELECT event_type, (epoch_us(ts) % 86400000000) / 1000000.0
           / 86400.0 * 2 * pi() AS th
  FROM events WHERE ts IS NOT NULL),
a AS (SELECT event_type, COUNT(*)::DOUBLE AS n, SUM(cos(th)) AS sc,
             SUM(sin(th)) AS ss
      FROM base GROUP BY 1)
SELECT event_type, n::BIGINT AS n,
       ROUND(CASE WHEN atan2(ss, sc) < 0 THEN atan2(ss, sc) + 2 * pi()
             ELSE atan2(ss, sc) END / (2 * pi()) * 24.0, 6) AS mean_hour,
       ROUND(sqrt(sc * sc + ss * ss) / n, 6) AS resultant,
       ROUND(n * pow(sqrt(sc * sc + ss * ss) / n, 2), 6) AS rayleigh_z
FROM a ORDER BY event_type;""",
)
def x283(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import circular_stats

    ev = load_table(spark, sf_dir, "events")
    return circular_stats(ev, "ts", "event_type").orderBy("event_type")


@_declare(
    "X284_ks_uniform_tod",
    # One-sample KS of time-of-day vs Uniform[0,1) per event type
    # (timeseries.ks_uniform_time_of_day): exact D via grouped
    # prefix-sum ranks (the Rayleigh test's distributional complement —
    # it catches symmetric bimodality Rayleigh misses). Compare
    # sqrt(n)*D to 1.36 (alpha .05).
    """WITH base AS (
  SELECT event_type AS g, (((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
             / 86400000000.0 AS x
  FROM events WHERE ts IS NOT NULL),
r AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rk,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM base)
SELECT g AS event_type, ANY_VALUE(n)::BIGINT AS n,
       ROUND(MAX(greatest(rk / n::DOUBLE - x, x - (rk - 1) / n::DOUBLE)), 6)
         AS d_stat,
       ROUND(sqrt(ANY_VALUE(n))
             * MAX(greatest(rk / n::DOUBLE - x, x - (rk - 1) / n::DOUBLE)), 6)
         AS sqrt_n_d
FROM r GROUP BY g ORDER BY g;""",
)
def x284(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        ks_uniform_time_of_day,
    )

    ev = load_table(spark, sf_dir, "events")
    return ks_uniform_time_of_day(ev, "ts", "event_type").orderBy("event_type")


def _weiszfeld_sql(iters: int = 5) -> str:
    """Unrolled-iteration DuckDB twin for X285 (the X174 GD-trajectory
    convention, round-13 verdict Next #4): the 5 FIXED Weiszfeld rounds
    from the coordinate mean are each two CTEs — per-row distance to
    the previous center, then the per-dim weighted mean. Generated
    because the SQL is mechanical in the iteration index."""
    s = """WITH e AS (SELECT vec_id AS rid, embedding::DOUBLE[] AS v
       FROM embeddings WHERE embedding IS NOT NULL),
x AS (SELECT rid, unnest(range(1, len(v) + 1)) AS d, unnest(v) AS val FROM e),
c0 AS (SELECT d, AVG(val) AS c FROM x GROUP BY d)"""
    prev = "c0"
    for i in range(1, iters + 1):
        s += f""",
d{i} AS (SELECT rid, sqrt(SUM((val - c) * (val - c))) AS dist
         FROM x JOIN {prev} USING (d) GROUP BY rid),
w{i} AS (SELECT rid, 1.0 / greatest(dist, 1e-9) AS w FROM d{i}),
c{i} AS (SELECT d, SUM(val * w) / SUM(w) AS c
         FROM x JOIN w{i} USING (rid) GROUP BY d)"""
        prev = f"c{i}"
    return s + f"""
SELECT (d - 1)::INT AS dim, ROUND(c, 6) AS value FROM {prev} ORDER BY dim;"""


@_declare(
    "X285_geometric_median",
    # Geometric median of the embedding corpus (similarity.geometric_
    # median, Weiszfeld 1937): the L1-optimal robust center — one
    # aggregate per iteration with the dim-sized center as the only
    # driver materialization. The 5 fixed iterations from the
    # coordinate mean unroll into a generated DuckDB twin
    # (_weiszfeld_sql); outlier robustness and the fixed-point are
    # additionally property-pinned (tests/test_round13_ops.py).
    _weiszfeld_sql(),
)
def x285(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import geometric_median

    emb = load_table(spark, sf_dir, "embeddings")
    c = geometric_median(emb, "embedding", iterations=5)
    return spark.createDataFrame(
        [(int(d), round(float(v), 6)) for d, v in enumerate(c)],
        "dim int, value double",
    )


@_declare(
    "X286_precision_coverage",
    # Selective-prediction table (evalmetrics.precision_coverage,
    # El-Yaniv & Wiener): coverage + precision at each confidence
    # cutoff for the length->is-en classifier — the abstention-cutoff
    # read a PR curve hides. Same bounded-bin plan as X257.
    """WITH d AS (SELECT n_chars::DOUBLE AS s, (lang = 'en') AS y
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
t AS (SELECT COUNT(*)::DOUBLE AS tn FROM d),
thr AS (SELECT unnest([100.0, 200.0, 300.0, 400.0]) AS threshold)
SELECT threshold,
       COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0)::BIGINT AS n_covered,
       ROUND(COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0) / ANY_VALUE(tn), 6)
         AS coverage,
       ROUND(CASE WHEN COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0) > 0
             THEN SUM(CASE WHEN s >= threshold AND y THEN 1 ELSE 0 END)
                  / COALESCE(SUM(CASE WHEN s >= threshold THEN 1 END), 0)::DOUBLE
             END, 6) AS precision
FROM thr CROSS JOIN d CROSS JOIN t GROUP BY threshold ORDER BY threshold;""",
)
def x286(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import precision_coverage

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"), (F.col("lang") == "en").alias("y")
    )
    return precision_coverage(
        docs, "s", "y", [100.0, 200.0, 300.0, 400.0]
    ).orderBy("threshold")


@_declare(
    "X287_dispersion_index",
    # Poissonness pre-check (evalmetrics.dispersion_index, Fisher): is
    # "events per user" Poisson or overdispersed (bursty -> negative
    # binomial), per event type. Counts relation from one aggregate,
    # moments from a second — both grouped, no windows.
    """WITH c AS (SELECT event_type AS g, user_id, COUNT(*)::DOUBLE AS x
          FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
s AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(x*x) AS sxx
      FROM c GROUP BY 1)
SELECT g AS event_type, n::BIGINT AS n, ROUND(sx / n, 6) AS mean,
       ROUND(CASE WHEN n >= 2 AND sx > 0
             THEN ((sxx - sx*sx/n) / (n - 1)) / (sx / n) END, 6)
         AS var_mean_ratio,
       ROUND(CASE WHEN n >= 2 AND sx > 0
             THEN (n - 1) * ((sxx - sx*sx/n) / (n - 1)) / (sx / n) END, 6)
         AS dispersion_d
FROM s ORDER BY event_type;""",
)
def x287(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import dispersion_index

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    return dispersion_index(counts, "cnt", "event_type").orderBy("event_type")


@_declare(
    "X288_james_stein",
    # Empirical-Bayes shrinkage of per-source mean document length
    # (evalmetrics.james_stein_means, Efron-Morris form): noisy small
    # sources borrow strength from the grand mean. Pooled sigma^2 and
    # moment tau^2 are 1-row re-aggregates; the oracle replays the
    # identical decomposition.
    """WITH per AS (SELECT source AS g, COUNT(*)::DOUBLE AS n, AVG(n_chars) AS m,
                   COALESCE(var_samp(n_chars), 0) AS v
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, SUM(n * m) / SUM(n) AS gm,
               SUM((n - 1) * v) / NULLIF(SUM(n - 1), 0) AS s2 FROM per),
btw AS (SELECT greatest(SUM(n * (m - gm) * (m - gm)) / ANY_VALUE(nn)
                        - ANY_VALUE(s2) * ANY_VALUE(k) / ANY_VALUE(nn), 0)
          AS tau2
        FROM per CROSS JOIN tot)
SELECT g AS source, n::BIGINT AS n, ROUND(m, 6) AS mean_raw,
       ROUND(CASE WHEN s2 / n + tau2 > 0
             THEN (s2 / n) / (s2 / n + tau2) ELSE 1.0 END, 6) AS shrinkage,
       ROUND(CASE WHEN s2 / n + tau2 > 0
             THEN (s2 / n) / (s2 / n + tau2) ELSE 1.0 END * gm
             + (1 - CASE WHEN s2 / n + tau2 > 0
                    THEN (s2 / n) / (s2 / n + tau2) ELSE 1.0 END) * m, 6)
         AS mean_shrunk
FROM per CROSS JOIN tot CROSS JOIN btw ORDER BY source;""",
)
def x288(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import james_stein_means

    docs = load_table(spark, sf_dir, "documents")
    return james_stein_means(docs, "n_chars", "source").orderBy("source")


@_declare(
    "X289_rank_movers",
    # Head-vocabulary movers between snapshot halves (textstats.
    # topk_rank_movers): each top-50 term's rank on both sides with the
    # movement and entered/exited status — names what X255's overlap
    # number hides. Two TakeOrdered(k) cuts + a <= 2k-row join.
    """WITH ca AS (SELECT w, COUNT(*)::BIGINT AS c FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE doc_id % 2 = 0) GROUP BY 1
        ORDER BY c DESC, w LIMIT 50),
cb AS (SELECT w, COUNT(*)::BIGINT AS c FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE doc_id % 2 = 1) GROUP BY 1
        ORDER BY c DESC, w LIMIT 50),
ra AS (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w)::BIGINT AS rank_a FROM ca),
rb AS (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w)::BIGINT AS rank_b FROM cb)
SELECT COALESCE(ra.w, rb.w) AS term, rank_a, rank_b,
       rank_a - rank_b AS delta,
       CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 'moved'
            WHEN rank_a IS NULL THEN 'entered' ELSE 'exited' END AS status
FROM ra FULL OUTER JOIN rb ON ra.w = rb.w
ORDER BY COALESCE(abs(rank_a - rank_b), 50) DESC, term;""",
)
def x289(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import topk_rank_movers

    docs = load_table(spark, sf_dir, "documents")
    return topk_rank_movers(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=50,
    )


@_declare(
    "X290_split_leakage",
    # Train/test leakage audit (contamination.split_leakage_audit): docs
    # with an exact or near duplicate ACROSS the 80/20 hash split — the
    # contamination split-then-dedup silently ships. Exact side is one
    # md5-group aggregate (no pair join); near-dup side filters the
    # banded LSH pair relation to cross-split pairs. The oracle replays
    # the md5 split and the exact jac>=0.8 pair relation.
    """WITH tagged AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 1000000
           < 800000 AS tr
  FROM documents),
sides AS (SELECT SUM(tr::INT)::BIGINT AS n_train,
                 SUM((NOT tr)::INT)::BIGINT AS n_test FROM tagged),
ex AS (SELECT COUNT(*)::BIGINT AS exact_cross_digests,
              COALESCE(SUM(c), 0)::BIGINT AS exact_cross_docs
       FROM (SELECT md5(text) AS h, COUNT(*) AS c, SUM(tr::INT) AS ctr
             FROM tagged GROUP BY 1)
       WHERE ctr > 0 AND ctr < c),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3])) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN inv b USING (sh) WHERE a.doc_id < b.doc_id),
pairs AS (
  SELECT d1, d2 FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
  WHERE len(list_intersect(x.shingles,y.shingles))::DOUBLE /
        (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.8),
nd AS (SELECT COUNT(*)::BIGINT AS neardup_cross_pairs
       FROM pairs JOIN tagged a ON a.doc_id = d1 JOIN tagged b ON b.doc_id = d2
       WHERE a.tr <> b.tr)
SELECT n_train, n_test, exact_cross_digests, exact_cross_docs,
       neardup_cross_pairs
FROM sides CROSS JOIN ex CROSS JOIN nd;""",
)
def x290(spark, sf_dir):
    from swivel_spark_prep_spark.operators.contamination import (
        split_leakage_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return split_leakage_audit(docs, train_frac=0.8)


@_declare(
    "X291_aa_test",
    # A/A calibration check (the harness-validation experiment every
    # A/B platform runs first): split users by an independent hash salt
    # into two pseudo-arms and run Welch's t on event value — a healthy
    # pipeline shows |t| small; a big |t| means the assignment, the
    # metric, or the variance model is broken. Pure composition of
    # hash_bucket + the sufficient-stats Welch arithmetic.
    """WITH armed AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5('aa' || user_id::VARCHAR), 1, 8)) AS BIGINT)
              % 1000000 < 500000 THEN 'a' ELSE 'b' END AS arm,
         value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
s AS (SELECT arm, COUNT(*)::DOUBLE AS n, AVG(x) AS m, var_samp(x) AS v
      FROM armed GROUP BY 1),
w AS (SELECT
        MAX(CASE WHEN arm = 'a' THEN n END) AS na,
        MAX(CASE WHEN arm = 'a' THEN m END) AS ma,
        MAX(CASE WHEN arm = 'a' THEN v END) AS va,
        MAX(CASE WHEN arm = 'b' THEN n END) AS nb,
        MAX(CASE WHEN arm = 'b' THEN m END) AS mb,
        MAX(CASE WHEN arm = 'b' THEN v END) AS vb
      FROM s)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(ma - mb, 6) AS diff,
       ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       ROUND(pow(va / na + vb / nb, 2)
             / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)), 6)
         AS df_welch
FROM w;""",
)
def x291(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    armed = ev.select(
        F.when(
            hash_bucket(F.col("user_id"), 1_000_000, "aa") < 500_000, "a"
        ).otherwise("b").alias("arm"),
        F.col("value").cast("double").alias("x"),
    )
    s = armed.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("m"),
        F.var_samp("x").alias("v"),
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == "a", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "a", F.col("m"))).alias("ma"),
        F.max(F.when(F.col("arm") == "a", F.col("v"))).alias("va"),
        F.max(F.when(F.col("arm") == "b", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "b", F.col("m"))).alias("mb"),
        F.max(F.when(F.col("arm") == "b", F.col("v"))).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma") - F.col("mb"), 6).alias("diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
                + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


@_declare(
    "X292_ad_uniform_tod",
    # Anderson-Darling one-sample test of time-of-day vs Uniform[0,1)
    # per event type (timeseries.ad_uniform_time_of_day): the
    # tail-weighted complement to X284's KS — A2 up-weights the tails
    # by 1/(F(1-F)). Tie-stable rank-free form: per distinct u with
    # tied count t and exclusive prefix count s the (2i-1) weights
    # regroup to (2st+t^2)ln(u) + (2t(n-s)-t^2)ln(1-u); the oracle
    # replays the same regrouped sum. Compare a2 to 2.492 (alpha .05).
    """WITH base AS (
  SELECT event_type AS g,
         least(1 - 1e-12, greatest(1e-12,
           (epoch_us(ts) % 86400000000) / 86400000000.0)) AS u
  FROM events WHERE ts IS NOT NULL),
dv AS (SELECT g, u, COUNT(*)::DOUBLE AS t FROM base GROUP BY 1, 2),
pc AS (SELECT g, u, t,
              COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY u
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s,
              SUM(t) OVER (PARTITION BY g) AS n
       FROM dv)
SELECT g AS event_type, ANY_VALUE(n)::BIGINT AS n,
       ROUND(-ANY_VALUE(n)
             - SUM((2*s*t + t*t) * ln(u) + (2*t*(n - s) - t*t) * ln(1 - u))
               / ANY_VALUE(n), 6) AS a2_stat
FROM pc GROUP BY g ORDER BY g;""",
)
def x292(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        ad_uniform_time_of_day,
    )

    ev = load_table(spark, sf_dir, "events")
    return ad_uniform_time_of_day(ev, "ts", "event_type").orderBy("event_type")


@_declare(
    "X293_mantel_haenszel",
    # Mantel-Haenszel stratification-adjusted pooled odds ratio
    # (evalmetrics.mantel_haenszel) with the Robins-Breslow-Greenland
    # SE — the constructive follow-up to X265's Simpson detector:
    # exposure = an independent md5 hash arm on user_id (salt 'mh'),
    # outcome = value > 50, strata = event_type. One grouped
    # conditional-sum aggregate + a broadcast 1-row pooled relation.
    """WITH b AS (
  SELECT event_type AS stratum,
         CAST(('0x' || substr(md5('mh' || user_id::VARCHAR), 1, 8)) AS BIGINT)
           % 1000000 < 500000 AS e,
         value > 50.0 AS o
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
per AS (SELECT stratum,
               SUM((e AND o)::INT)::DOUBLE AS a,
               SUM((e AND NOT o)::INT)::DOUBLE AS bb,
               SUM((NOT e AND o)::INT)::DOUBLE AS c,
               SUM((NOT e AND NOT o)::INT)::DOUBLE AS d
        FROM b GROUP BY 1),
pool AS (SELECT SUM(a*d/(a+bb+c+d)) AS r, SUM(bb*c/(a+bb+c+d)) AS s,
                SUM((a+d)/(a+bb+c+d) * a*d/(a+bb+c+d)) AS pr,
                SUM((a+d)/(a+bb+c+d) * bb*c/(a+bb+c+d)
                    + (bb+c)/(a+bb+c+d) * a*d/(a+bb+c+d)) AS psqr,
                SUM((bb+c)/(a+bb+c+d) * bb*c/(a+bb+c+d)) AS qs
         FROM per),
pm AS (SELECT r / NULLIF(s, 0) AS ormh,
              sqrt(pr/(2*r*r) + psqr/(2*r*s) + qs/(2*s*s)) AS se
       FROM pool)
SELECT stratum, a::BIGINT AS a, bb::BIGINT AS b, c::BIGINT AS c, d::BIGINT AS d,
       ROUND(a*d / NULLIF(bb*c, 0), 6) AS or_stratum,
       ROUND(ormh, 6) AS or_mh, ROUND(se, 6) AS se_log_or,
       ROUND(exp(ln(ormh) - 1.959964*se), 6) AS or_lo95,
       ROUND(exp(ln(ormh) + 1.959964*se), 6) AS or_hi95
FROM per CROSS JOIN pm ORDER BY stratum;""",
)
def x293(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mantel_haenszel
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    armed = ev.select(
        F.col("event_type"),
        (hash_bucket(F.col("user_id"), 1_000_000, "mh") < 500_000).alias(
            "exposed"
        ),
        (F.col("value") > 50.0).alias("outcome"),
    )
    return mantel_haenszel(armed, "event_type", "exposed", "outcome").orderBy(
        "stratum"
    )


@_declare(
    "X294_friedman_test",
    # Friedman rank test + Kendall's W over k=5 related treatments
    # (evalmetrics.friedman_test): each user ranks the event types by
    # mean value internally, so between-user level shifts cancel —
    # the repeated-measures complement to X217's Kruskal-Wallis. Only
    # complete blocks enter; midranks for ties. Windows are
    # partitioned by BLOCK (user), never global.
    """WITH cell AS (SELECT user_id AS b, event_type AS t, AVG(value) AS x
              FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
              GROUP BY 1, 2),
k AS (SELECT COUNT(DISTINCT t)::DOUBLE AS k FROM cell),
complete AS (SELECT c.* FROM cell c
             JOIN (SELECT b FROM cell GROUP BY b
                   HAVING COUNT(*) = (SELECT k FROM k)) ok USING (b)),
r AS (SELECT b, t,
             RANK() OVER (PARTITION BY b ORDER BY x) - 1
             + (COUNT(*) OVER (PARTITION BY b, x) + 1) / 2.0 AS rk
      FROM complete),
per AS (SELECT t, COUNT(*)::DOUBLE AS n, SUM(rk) AS rs FROM r GROUP BY 1),
st AS (SELECT ANY_VALUE(n) AS nb, (SELECT k FROM k) AS kk,
              SUM(rs*rs) AS rs2 FROM per),
ch AS (SELECT nb, kk,
              12.0/(nb*kk*(kk+1))*rs2 - 3*nb*(kk+1) AS chi2 FROM st)
SELECT t AS treatment, n::BIGINT AS n_blocks, ROUND(rs, 6) AS rank_sum,
       ROUND(rs/n, 6) AS mean_rank, kk::BIGINT AS k,
       ROUND(chi2, 6) AS chi2_f, ROUND(chi2/(nb*(kk-1)), 6) AS kendall_w
FROM per CROSS JOIN ch ORDER BY treatment;""",
)
def x294(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import friedman_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return friedman_test(ev, "user_id", "event_type", "value").orderBy(
        "treatment"
    )


@_declare(
    "X295_ratio_metric_ci",
    # Delta-method CI for the per-event value ratio with USER as the
    # iid unit (evalmetrics.ratio_metric_ci; Deng/Knoblich/Lu KDD'18):
    # events within a user are correlated, so the naive per-event SE
    # is anti-conservative — the delta method corrects with per-user
    # (sum, count) covariances. Two shrinking aggregates, no windows.
    """WITH per AS (SELECT event_type AS g, user_id AS u,
                    SUM(value) AS y, COUNT(*)::DOUBLE AS x
             FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1, 2),
m AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(y) AS sy, SUM(x) AS sx,
             var_samp(y) AS vy, var_samp(x) AS vx, covar_samp(y, x) AS cyx
      FROM per GROUP BY 1),
c AS (SELECT g, n, sx, sy, sy/sx AS r,
             (vy - 2*(sy/sx)*cyx + (sy/sx)*(sy/sx)*vx)
               / (n * (sx/n) * (sx/n)) AS v
      FROM m)
SELECT g AS event_type, n::BIGINT AS n_units, sx::BIGINT AS n_events,
       ROUND(r, 6) AS ratio,
       ROUND(CASE WHEN v >= 0 THEN sqrt(v) END, 6) AS se,
       ROUND(r - 1.959964 * CASE WHEN v >= 0 THEN sqrt(v) END, 6) AS lo95,
       ROUND(r + 1.959964 * CASE WHEN v >= 0 THEN sqrt(v) END, 6) AS hi95
FROM c ORDER BY event_type;""",
)
def x295(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import ratio_metric_ci

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return ratio_metric_ci(ev, "user_id", "value", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X296_g_test",
    # G-test (log-likelihood-ratio) of lang x source independence
    # (evalmetrics.g_test): the information-theoretic twin of X160's
    # chi2 — G = 2N*I(A;B) nats, additive across table partitions,
    # exact 0*ln0 handling. Same plan shape as chi2_independence.
    """WITH cells AS (SELECT lang AS a, source AS b, COUNT(*)::DOUBLE AS o
               FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM cells),
j AS (SELECT a, b, o, ra, cb, n
      FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
SELECT ANY_VALUE(n)::BIGINT AS n,
       COUNT(DISTINCT a)::BIGINT AS r_levels,
       COUNT(DISTINCT b)::BIGINT AS c_levels,
       ((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1))::BIGINT AS df,
       ROUND(SUM(2 * o * ln(o * n / (ra * cb))), 6) AS g_stat,
       ROUND(SUM(2 * o * ln(o * n / (ra * cb))) / (2 * ANY_VALUE(n)), 6)
         AS mi_nats
FROM j;""",
)
def x296(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import g_test

    docs = load_table(spark, sf_dir, "documents")
    return g_test(docs, "lang", "source")


@_declare(
    "X297_inequality_indices",
    # Theil-T / Theil-L / Atkinson(1) inequality of document length per
    # source (quality.inequality_indices): the DECOMPOSABLE complements
    # to X162's Gini and X276's Lorenz — all three indices are pure
    # arithmetic on one grouped (n, sum x, sum ln x, sum x ln x)
    # sufficient-statistics aggregate, so there is no second pass.
    """WITH a AS (SELECT source,
                  SUM((n_chars <= 0)::INT)::BIGINT AS np,
                  COUNT(CASE WHEN n_chars > 0 THEN 1 END)::DOUBLE AS n,
                  SUM(CASE WHEN n_chars > 0 THEN n_chars END)::DOUBLE AS sx,
                  SUM(CASE WHEN n_chars > 0 THEN ln(n_chars) END) AS sl,
                  SUM(CASE WHEN n_chars > 0 THEN n_chars * ln(n_chars) END)
                    AS sxl
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
SELECT source, n::BIGINT AS n, np AS n_nonpos, ROUND(sx/n, 6) AS mean,
       ROUND(sxl/sx - ln(sx/n), 6) AS theil_t,
       ROUND(ln(sx/n) - sl/n, 6) AS theil_l,
       ROUND(1 - exp(-(ln(sx/n) - sl/n)), 6) AS atkinson_1
FROM a ORDER BY source;""",
)
def x297(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import inequality_indices

    docs = load_table(spark, sf_dir, "documents")
    return inequality_indices(docs, "n_chars", "source").orderBy("source")


@_declare(
    "X299_gumbel_maxima",
    # Gumbel extreme-value fit on daily block maxima of event value per
    # type (timeseries.gumbel_block_maxima; Fisher-Tippett type I,
    # method of moments): beta = s*sqrt(6)/pi, mu = m - gamma*beta, and
    # the 100-day return level — the tail-monitoring statistic means
    # and p99s are blind to. Two shrinking aggregates, no windows.
    """WITH b AS (SELECT event_type AS g, CAST(ts AS DATE) AS day, MAX(value) AS mx
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
a AS (SELECT g, COUNT(*)::DOUBLE AS nb, AVG(mx) AS m, stddev_samp(mx) AS s
      FROM b GROUP BY 1)
SELECT g AS event_type, nb::BIGINT AS n_blocks,
       ROUND(m, 6) AS max_mean, ROUND(s, 6) AS max_sd,
       ROUND(m - 0.5772156649015329 * (s*sqrt(6)/pi()), 6) AS mu,
       ROUND(s*sqrt(6)/pi(), 6) AS beta,
       ROUND(m - 0.5772156649015329 * (s*sqrt(6)/pi())
             - (s*sqrt(6)/pi()) * ln(-ln(1.0 - 1.0/100)), 6) AS ret_level
FROM a ORDER BY event_type;""",
)
def x299(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        gumbel_block_maxima,
    )

    ev = load_table(spark, sf_dir, "events")
    return gumbel_block_maxima(
        ev, "ts", "value", "event_type", return_period=100
    ).orderBy("event_type")


@_declare(
    "X300_bernstein_bounds",
    # Per-source empirical-Bernstein mean bound (quality.
    # empirical_bernstein_bounds; Maurer-Pontil 2009 Thm 4, delta=.05):
    # variance-adaptive — low-variance sources get sqrt(V)-rate CLT-like
    # bounds instead of Hoeffding's range-driven R/sqrt(n). One grouped
    # moments aggregate; observed range as the plug-in R (reported).
    """WITH a AS (SELECT source, COUNT(*)::DOUBLE AS n, AVG(n_chars) AS m,
                  var_samp(n_chars) AS v,
                  (MAX(n_chars) - MIN(n_chars))::DOUBLE AS r
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
b AS (SELECT source, n, m, v, r,
             CASE WHEN n >= 2
                  THEN sqrt(2*v*ln(2.0/0.05)/n) + 7*r*ln(2.0/0.05)/(3*(n-1))
             END AS bound
      FROM a)
SELECT source, n::BIGINT AS n, ROUND(m, 6) AS mean, ROUND(sqrt(v), 6) AS sd,
       ROUND(r, 6) AS range_r, ROUND(bound, 6) AS bound,
       ROUND(m - bound, 6) AS lo, ROUND(m + bound, 6) AS hi
FROM b ORDER BY source;""",
)
def x300(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import (
        empirical_bernstein_bounds,
    )

    docs = load_table(spark, sf_dir, "documents")
    return empirical_bernstein_bounds(docs, "n_chars", "source", delta=0.05).orderBy(
        "source"
    )


@_declare(
    "X301_page_hinkley",
    # Page-Hinkley upward mean-shift detector per event type
    # (timeseries.page_hinkley; Page 1954): self-referenced against the
    # expanding mean — no a-priori target like X172's CUSUM needs.
    # Three stacked windows, all partitioned by event_type, ordered by
    # (ts, event_id) for determinism under equal timestamps; lambda=100.
    """WITH b AS (SELECT event_type AS g, ts, event_id, value::DOUBLE AS x
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
t1 AS (SELECT g, ts, event_id, x,
              x - AVG(x) OVER (PARTITION BY g ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS term
       FROM b),
t2 AS (SELECT g, ts, event_id,
              SUM(term) OVER (PARTITION BY g ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
       FROM t1),
t3 AS (SELECT g, ts,
              u - MIN(u) OVER (PARTITION BY g ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
       FROM t2)
SELECT g AS event_type, COUNT(*)::BIGINT AS n, ROUND(MAX(ph), 6) AS max_ph,
       SUM((ph > 100.0)::INT)::BIGINT AS n_alarms,
       MIN(CASE WHEN ph > 100.0 THEN ts END) AS first_alarm_ts
FROM t3 GROUP BY g ORDER BY g;""",
)
def x301(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import page_hinkley

    ev = load_table(spark, sf_dir, "events")
    return page_hinkley(
        ev, "ts", "value", "event_type", order_tiebreak="event_id", lam=100.0
    ).orderBy("event_type")


@_declare(
    "X302_holm_adjust",
    # Holm step-down FWER adjustment over the X199 per-language KS
    # drift p-values (quality.holm_adjust; Holm 1979) — BH (X199)
    # bounds the false-discovery RATE for screening; Holm bounds the
    # probability of ANY false page. Tie-safe competition-rank
    # formulation; both prefixes (count and step-down max envelope)
    # ride the range-partitioned two-pass scheme, no global window.
    """WITH g AS (SELECT lang, n_chars AS v,
                 (source = 'src0')::INT AS a, (source = 'src1')::INT AS b
          FROM documents
          WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            AND source IN ('src0', 'src1')),
c AS (SELECT lang, v, SUM(a) AS ca, SUM(b) AS cb FROM g GROUP BY 1, 2),
cu AS (SELECT lang,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cca,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS ccb
       FROM c),
t AS (SELECT lang, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM c GROUP BY 1),
ks AS (SELECT lang,
              MAX(CASE WHEN na > 0 AND nb > 0 THEN ABS(cca / na - ccb / nb) END)
              * SQRT(na * nb / (na + nb)) AS k
       FROM cu JOIN t USING (lang) GROUP BY lang, na, nb),
p AS (SELECT lang, k, LEAST(1.0, 2 * exp(-2 * k * k)) AS pv FROM ks),
m AS (SELECT COUNT(pv)::DOUBLE AS m FROM p),
dp AS (SELECT pv AS pd, COUNT(*)::DOUBLE AS t FROM p WHERE pv IS NOT NULL
       GROUP BY 1),
st AS (SELECT pd,
              LEAST(1.0, (m.m - COALESCE((SELECT SUM(d2.t) FROM dp d2
                                          WHERE d2.pd < dp.pd), 0)) * pd)
                AS step
       FROM dp, m),
env AS (SELECT pd, MAX(step) OVER (ORDER BY pd
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS holm FROM st)
SELECT lang, ROUND(k, 4) AS ks_stat, ROUND(pv, 6) AS p,
       m.m::BIGINT AS m_tests, ROUND(env.holm, 6) AS p_holm,
       COALESCE(env.holm <= 0.05, FALSE) AS rejected
FROM p LEFT JOIN env ON p.pv = env.pd CROSS JOIN m ORDER BY lang;""",
)
def x302(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import holm_adjust, ks_test

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    ks = ks_test(docs, "n_chars", "source", "src0", "src1", slice_col="lang")
    # persist the lang-count-sized p-value relation (round 16, guide
    # §5): holm_adjust, like fdr_bh (X199), consumes its input three
    # times and each re-ran the per-slice KS pipeline.
    from swivel_spark_prep_spark.cache import track_persist

    withp = track_persist(ks.select(
        "lang",
        F.col("ks_stat").alias("k"),
        F.least(
            F.lit(1.0), 2 * F.exp(-2 * F.col("ks_stat") * F.col("ks_stat"))
        ).alias("pv"),
    ))
    return (
        holm_adjust(withp, "pv", alpha=0.05)
        .select(
            "lang",
            F.round("k", 4).alias("ks_stat"),
            F.round("pv", 6).alias("p"),
            F.col("m_tests").cast("long").alias("m_tests"),
            "p_holm",
            "rejected",
        )
        .orderBy("lang")
    )


@_declare(
    "X298_margin_neighbors",
    # Margin-based neighbor mining (similarity.margin_neighbors;
    # Artetxe-Schwenk ACL'19 ratio margin, the CCMatrix bitext-mining
    # criterion): even vec_ids are sources, odd are targets; each
    # source's best target by cos normalized by both sides' k=4
    # local-density averages. Exact baseline on the blocked-matmul
    # pair primitive; the oracle replays the quadratic directly.
    """WITH p AS (
  SELECT a.vec_id AS x, b.vec_id AS y,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           AS sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
ax AS (SELECT x, AVG(sim) AS akx FROM (
         SELECT x, sim, ROW_NUMBER() OVER (PARTITION BY x
           ORDER BY sim DESC, y) AS rn FROM p) t
       WHERE rn <= 4 GROUP BY x),
ay AS (SELECT y, AVG(sim) AS aky FROM (
         SELECT y, sim, ROW_NUMBER() OVER (PARTITION BY y
           ORDER BY sim DESC, x) AS rn FROM p) t
       WHERE rn <= 4 GROUP BY y),
m AS (SELECT p.x, p.y, p.sim, p.sim / ((ax.akx + ay.aky) / 2) AS margin
      FROM p JOIN ax USING (x) JOIN ay USING (y)),
best AS (SELECT x, y, sim, margin,
                ROW_NUMBER() OVER (PARTITION BY x
                  ORDER BY margin DESC, y) AS rn FROM m)
SELECT x, y, ROUND(sim, 4) AS sim, ROUND(margin, 4) AS margin
FROM best WHERE rn = 1 ORDER BY x;""",
)
def x298(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.margin_neighbors(emb, k=4).orderBy("x")


def _hour_x():
    return (
        (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000) % 86400)
        / 3600.0
    )


@_declare(
    "X303_hosmer_lemeshow",
    # Hosmer-Lemeshow GOF test over X152's length-sigmoid pseudo-
    # probability for lang='en' (evalmetrics.hosmer_lemeshow): ECE
    # averages the calibration gap, HL tests whether it exceeds
    # binomial noise — equal-count deciles of risk via the range-
    # partitioned prefix rank (never ntile's global window).
    """WITH g AS (SELECT 1/(1+exp(-(n_chars-350)/60.0)) AS p,
                 (lang='en')::INT::DOUBLE AS y, doc_id
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
r AS (SELECT p, y, ROW_NUMBER() OVER (ORDER BY p, doc_id) AS rk,
             COUNT(*) OVER () AS n FROM g),
b AS (SELECT CAST(FLOOR((rk-1)*10/n::DOUBLE) AS BIGINT) AS bin, p, y FROM r),
per AS (SELECT bin, COUNT(*)::DOUBLE AS nb, SUM(y) AS o1, SUM(p) AS e1
        FROM b GROUP BY 1),
st AS (SELECT SUM((o1-e1)*(o1-e1)/e1
                  + ((nb-o1)-(nb-e1))*((nb-o1)-(nb-e1))/(nb-e1)) AS hl
       FROM per)
SELECT bin, nb::BIGINT AS n, o1::BIGINT AS obs_pos, ROUND(e1, 6) AS exp_pos,
       ROUND(hl, 6) AS hl_stat, 8::BIGINT AS df
FROM per CROSS JOIN st ORDER BY bin;""",
)
def x303(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import hosmer_lemeshow

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    scored = docs.select(
        (1 / (1 + F.exp(-(F.col("n_chars") - 350) / 60.0))).alias("p"),
        (F.col("lang") == "en").alias("y"),
        "doc_id",
    )
    return hosmer_lemeshow(scored, "p", "y", "doc_id", bins=10).orderBy("bin")


@_declare(
    "X304_breusch_pagan",
    # Breusch-Pagan heteroscedasticity test per event type
    # (linear.breusch_pagan, Koenker LM form) for value ~ hour-of-day:
    # decides whether X191-style OLS standard errors are trustworthy.
    # Two sequential moments aggregates; LM = n*corr(e^2, x)^2.
    """WITH d AS (
  SELECT event_type AS g, (epoch_us(ts) // 1000000 % 86400)/3600.0 AS x,
         value::DOUBLE AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
m AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(x) AS mx, AVG(y) AS my,
             SUM(x*x) AS xx, SUM(x*y) AS xy, SUM(y*y) AS yy FROM d GROUP BY 1),
c AS (SELECT g, (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0) AS b,
             my - (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0)*mx AS a FROM m),
e AS (SELECT d.g, (y - a - b*x)*(y - a - b*x) AS e2, x, b, a
      FROM d JOIN c ON d.g = c.g),
o AS (SELECT g, COUNT(*)::DOUBLE AS n, ANY_VALUE(b) AS b, ANY_VALUE(a) AS a,
             corr(e2, x) AS r FROM e GROUP BY g)
SELECT g AS event_type, n::BIGINT AS n, ROUND(b, 6) AS slope,
       ROUND(a, 6) AS intercept, ROUND(n*r*r, 6) AS lm_stat
FROM o ORDER BY event_type;""",
)
def x304(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import breusch_pagan

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    d = ev.select(
        F.col("event_type"), _hour_x().alias("hour"), F.col("value")
    )
    return breusch_pagan(d, "hour", "value", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X305_durbin_watson",
    # Durbin-Watson serial-correlation check of the value ~ hour
    # residuals per event type in (ts, event_id) order
    # (linear.durbin_watson): DW ~ 2 means independent residuals;
    # the time-series sibling of X304 in the diagnostics family.
    """WITH d AS (
  SELECT event_type AS g, (epoch_us(ts) // 1000000 % 86400)/3600.0 AS x,
         value::DOUBLE AS y, ts, event_id
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
m AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(x) AS mx, AVG(y) AS my,
             SUM(x*x) AS xx, SUM(x*y) AS xy FROM d GROUP BY 1),
c AS (SELECT g, (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0) AS b,
             my - (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0)*mx AS a FROM m),
e AS (SELECT d.g, ts, event_id, (y - a - b*x) AS e
      FROM d JOIN c ON d.g = c.g),
l AS (SELECT g, e, LAG(e) OVER (PARTITION BY g ORDER BY ts, event_id) AS ep
      FROM e)
SELECT g AS event_type, COUNT(*)::BIGINT AS n,
       ROUND(SUM((e-ep)*(e-ep)) / NULLIF(SUM(e*e), 0), 6) AS dw_stat
FROM l GROUP BY g ORDER BY g;""",
)
def x305(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import durbin_watson

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    d = ev.select(
        F.col("event_type"),
        _hour_x().alias("hour"),
        F.col("value"),
        F.col("ts"),
        F.col("event_id"),
    )
    return durbin_watson(
        d, "hour", "value", "ts", "event_type", tiebreak_col="event_id"
    ).orderBy("event_type")


@_declare(
    "X306_cooks_distance",
    # Top-5 most influential events per type by Cook's distance under
    # value ~ hour (linear.cooks_distance_topk): leverage and SSR come
    # from the ONE closed-form moments pass (no residual re-scan);
    # the top-k cut keeps output bounded at any corpus size.
    """WITH d AS (
  SELECT event_type AS g, (epoch_us(ts) // 1000000 % 86400)/3600.0 AS x,
         value::DOUBLE AS y, event_id
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
m AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(x) AS mx, AVG(y) AS my,
             SUM(x*x) AS xx, SUM(x*y) AS xy, SUM(y*y) AS yy FROM d GROUP BY 1),
c AS (SELECT g, n, mx, (xx - n*mx*mx) AS sxx,
             (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0) AS b,
             my - (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0)*mx AS a,
             ((yy - n*my*my) - (xy - n*mx*my)/NULLIF(xx - n*mx*mx, 0)
                               *(xy - n*mx*my)) / (n - 2) AS s2
      FROM m),
s AS (SELECT d.g, event_id, x, y,
             1/n + (x-mx)*(x-mx)/sxx AS h,
             (y - a - b*x) AS e, s2
      FROM d JOIN c ON d.g = c.g),
r AS (SELECT g, event_id, x, y, h,
             e*e*h/(2*s2*(1-h)*(1-h)) AS dd,
             ROW_NUMBER() OVER (PARTITION BY g
               ORDER BY e*e*h/(2*s2*(1-h)*(1-h)) DESC, event_id) AS rn
      FROM s)
SELECT g AS event_type, event_id, ROUND(x, 6) AS x, ROUND(y, 6) AS y,
       ROUND(h, 6) AS leverage, ROUND(dd, 6) AS cooks_d
FROM r WHERE rn <= 5 ORDER BY event_type, cooks_d DESC, event_id;""",
)
def x306(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import cooks_distance_topk

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    d = ev.select(
        F.col("event_type"),
        _hour_x().alias("hour"),
        F.col("value"),
        F.col("event_id"),
    )
    return cooks_distance_topk(
        d, "hour", "value", "event_id", "event_type", k=5
    ).orderBy("event_type", F.desc("cooks_d"), "event_id")


@_declare(
    "X307_chow_test",
    # Chow structural-break test at each event type's temporal midpoint
    # (linear.chow_test): did the value ~ hour RELATIONSHIP change
    # between the two halves of the time range — the regression-level
    # complement to the CUSUM / Page-Hinkley level detectors. All
    # three regime SSRs from ONE conditional-moments aggregate.
    """WITH d AS (
  SELECT event_type AS g, epoch_us(ts)/1000000.0 AS t,
         (epoch_us(ts) // 1000000 % 86400)/3600.0 AS x, value::DOUBLE AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
mid AS (SELECT g, (MIN(t)+MAX(t))/2 AS mid FROM d GROUP BY 1),
j AS (SELECT d.*, mid FROM d JOIN mid USING (g)),
a AS (SELECT g,
        COUNT(*)::DOUBLE AS np, SUM(x) AS sxp, SUM(y) AS syp,
        SUM(x*x) AS xxp, SUM(x*y) AS xyp, SUM(y*y) AS yyp,
        SUM((t <= mid)::INT)::DOUBLE AS n1,
        SUM(CASE WHEN t <= mid THEN x END) AS sx1,
        SUM(CASE WHEN t <= mid THEN y END) AS sy1,
        SUM(CASE WHEN t <= mid THEN x*x END) AS xx1,
        SUM(CASE WHEN t <= mid THEN x*y END) AS xy1,
        SUM(CASE WHEN t <= mid THEN y*y END) AS yy1,
        SUM((t > mid)::INT)::DOUBLE AS n2,
        SUM(CASE WHEN t > mid THEN x END) AS sx2,
        SUM(CASE WHEN t > mid THEN y END) AS sy2,
        SUM(CASE WHEN t > mid THEN x*x END) AS xx2,
        SUM(CASE WHEN t > mid THEN x*y END) AS xy2,
        SUM(CASE WHEN t > mid THEN y*y END) AS yy2
      FROM j GROUP BY 1),
f AS (SELECT g, np, n1, n2,
        (yyp - syp*syp/np) - (xyp - sxp*syp/np)*(xyp - sxp*syp/np)
          / NULLIF(xxp - sxp*sxp/np, 0) AS ssrp,
        (yy1 - sy1*sy1/n1) - (xy1 - sx1*sy1/n1)*(xy1 - sx1*sy1/n1)
          / NULLIF(xx1 - sx1*sx1/n1, 0) AS ssr1,
        (yy2 - sy2*sy2/n2) - (xy2 - sx2*sy2/n2)*(xy2 - sx2*sy2/n2)
          / NULLIF(xx2 - sx2*sx2/n2, 0) AS ssr2
      FROM a)
SELECT g AS event_type, np::BIGINT AS n, n1::BIGINT AS n_1, n2::BIGINT AS n_2,
       ROUND(CASE WHEN n1 >= 3 AND n2 >= 3
             THEN ((ssrp - ssr1 - ssr2)/2)
                  / (NULLIF(ssr1 + ssr2, 0)/(np - 4)) END, 6)
         AS f_stat
FROM f ORDER BY event_type;""",
)
def x307(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import chow_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    d = ev.select(
        F.col("event_type"), _hour_x().alias("hour"), F.col("value"), F.col("ts")
    )
    return chow_test(d, "hour", "value", "ts", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X308_bowker_symmetry",
    # Bowker's test of symmetry over each user's (first, last) event
    # type (evalmetrics.bowker_test; McNemar's kxk generalization):
    # do users drift between states in a preferred DIRECTION or churn
    # symmetrically — the significance layer over X114's transition
    # matrix. First/last via min_by/max_by (hash agg, no window).
    """WITH o AS (SELECT user_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rf,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rl
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND ts IS NOT NULL),
fl AS (SELECT user_id,
              MAX(CASE WHEN rf = 1 THEN event_type END) AS a,
              MAX(CASE WHEN rl = 1 THEN event_type END) AS b
       FROM o GROUP BY 1),
cells AS (SELECT a, b, COUNT(*)::DOUBLE AS n FROM fl GROUP BY 1, 2),
fwd AS (SELECT a AS f, b AS t2, n AS nf FROM cells WHERE a < b),
rev AS (SELECT b AS f, a AS t2, n AS nr FROM cells WHERE a > b),
p AS (SELECT COALESCE(fwd.f, rev.f) AS from_type,
             COALESCE(fwd.t2, rev.t2) AS to_type,
             COALESCE(nf, 0) AS nf, COALESCE(nr, 0) AS nr
      FROM fwd FULL OUTER JOIN rev ON fwd.f = rev.f AND fwd.t2 = rev.t2),
pc AS (SELECT *, CASE WHEN nf + nr > 0
                      THEN (nf-nr)*(nf-nr)/(nf+nr) END AS ctr FROM p),
st AS (SELECT COUNT(ctr)::BIGINT AS df, SUM(ctr) AS bstat FROM pc)
SELECT from_type, to_type, nf::BIGINT AS n_fwd, nr::BIGINT AS n_rev,
       ROUND(ctr, 6) AS contrib, df, ROUND(bstat, 6) AS bowker_stat
FROM pc CROSS JOIN st ORDER BY from_type, to_type;""",
)
def x308(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import bowker_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    fl = ev.groupBy("user_id").agg(
        F.expr("min_by(event_type, struct(ts, event_id))").alias("first_t"),
        F.expr("max_by(event_type, struct(ts, event_id))").alias("last_t"),
    )
    return bowker_test(fl, "first_t", "last_t").orderBy(
        "from_type", "to_type"
    )


@_declare(
    "X309_krippendorff_alpha",
    # Krippendorff's alpha, nominal (evalmetrics.krippendorff_alpha):
    # X225's three rule raters plus a FOURTH ('contains in') who only
    # rates documents with n_chars > 300 — the varying-raters-per-item
    # case Fleiss kappa cannot handle; coincidence-matrix form.
    """WITH r AS (
  SELECT doc_id, CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END AS c
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% and %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% of %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% in %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL AND n_chars > 300),
cells AS (SELECT doc_id, c, COUNT(*)::DOUBLE AS n FROM r GROUP BY 1, 2),
pi AS (SELECT doc_id, SUM(n) AS m, SUM(n*n) AS sq FROM cells GROUP BY 1
       HAVING SUM(n) >= 2),
obs AS (SELECT COUNT(*)::BIGINT AS items, SUM(m) AS ntot,
               SUM((m*m - sq)/(m - 1)) AS don FROM pi),
pc AS (SELECT SUM(nc*nc) AS sqc FROM
         (SELECT c, SUM(n) AS nc FROM cells JOIN pi USING (doc_id)
          GROUP BY c) t)
SELECT items AS n_items, ntot::BIGINT AS n_ratings,
       ROUND(don/ntot, 6) AS d_o,
       ROUND((ntot*ntot - sqc)/(ntot*(ntot - 1)), 6) AS d_e,
       ROUND(1 - (don/ntot) / ((ntot*ntot - sqc)/(ntot*(ntot - 1))), 6)
         AS alpha
FROM obs CROSS JOIN pc;""",
)
def x309(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        krippendorff_alpha,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )

    def rater(pat):
        return F.when(F.col("text").like(f"% {pat} %"), "en").otherwise(
            "other"
        )

    ratings = (
        docs.select("doc_id", rater("the").alias("c"))
        .unionAll(docs.select("doc_id", rater("and").alias("c")))
        .unionAll(docs.select("doc_id", rater("of").alias("c")))
        .unionAll(
            docs.filter(F.col("n_chars") > 300).select(
                "doc_id", rater("in").alias("c")
            )
        )
    )
    return krippendorff_alpha(ratings, "doc_id", "c")


@_declare(
    "X310_yuen_trimmed_t",
    # Yuen's 20%-trimmed-mean t-test of src0 vs src1 document length
    # (evalmetrics.yuen_trimmed_t): the heavy-tail-robust member of
    # the two-sample family — trimmed means with winsorized variances.
    # The trim cut is a grouped order statistic via the range-
    # partitioned prefix rank (unique (value, doc_id) order).
    """WITH b AS (SELECT source AS g, n_chars::DOUBLE AS x, doc_id
           FROM documents
           WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')),
r AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY g) AS n FROM b),
j AS (SELECT *, FLOOR(0.2*n) AS gt FROM r),
kept AS (SELECT g, x FROM j WHERE rk > gt AND rk <= n - gt),
cuts AS (SELECT g, COUNT(*)::DOUBLE AS h, AVG(x) AS tm,
                MIN(x) AS lo, MAX(x) AS hi FROM kept GROUP BY 1),
wz AS (SELECT j.g, j.n::DOUBLE AS n, c.h, c.tm,
              GREATEST(c.lo, LEAST(c.hi, j.x)) AS w
       FROM j JOIN cuts c ON j.g = c.g),
per AS (SELECT g, ANY_VALUE(n) AS n, ANY_VALUE(h) AS h, ANY_VALUE(tm) AS tm,
               var_samp(w) AS sw2 FROM wz GROUP BY 1),
w2 AS (SELECT
        MAX(CASE WHEN g = 'src0' THEN n END) AS na,
        MAX(CASE WHEN g = 'src0' THEN h END) AS ha,
        MAX(CASE WHEN g = 'src0' THEN tm END) AS tma,
        MAX(CASE WHEN g = 'src0' THEN sw2 END) AS sw2a,
        MAX(CASE WHEN g = 'src1' THEN n END) AS nb,
        MAX(CASE WHEN g = 'src1' THEN h END) AS hb,
        MAX(CASE WHEN g = 'src1' THEN tm END) AS tmb,
        MAX(CASE WHEN g = 'src1' THEN sw2 END) AS sw2b
       FROM per),
dd AS (SELECT *, sw2a*(na - 1)/(ha*(ha - 1)) AS da,
              sw2b*(nb - 1)/(hb*(hb - 1)) AS db FROM w2)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, ha::BIGINT AS h_a,
       hb::BIGINT AS h_b, ROUND(tma, 6) AS tmean_a, ROUND(tmb, 6) AS tmean_b,
       ROUND(tma - tmb, 6) AS diff,
       ROUND((tma - tmb)/sqrt(da + db), 6) AS t_stat,
       ROUND((da + db)*(da + db)
             / (da*da/(ha - 1) + db*db/(hb - 1)), 6) AS df_yuen
FROM dd;""",
)
def x310(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import yuen_trimmed_t

    docs = load_table(spark, sf_dir, "documents")
    return yuen_trimmed_t(
        docs, "n_chars", "source", "src0", "src1", "doc_id", trim=0.2
    )


@_declare(
    "X311_rmst",
    # Restricted mean survival time over X197's time-to-first-error
    # cohort at tau=24h (timeseries.rmst): the single-number survival
    # summary that stays valid when hazards cross. No lead() window —
    # the KM jump identity integral = tau - sum(delta_i*(tau-t_i)) with
    # delta_i = S(t_{i-1})*d_i/n_i from the EXCLUSIVE prefix product.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev
  FROM u),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM subj),
per AS (SELECT t, SUM(ev)::BIGINT AS d, COUNT(*)::BIGINT AS c FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM per),
r AS (SELECT t, d, (n - (cc - c))::BIGINT AS nr FROM cum, tot),
f2 AS (SELECT t, d, nr,
              CASE WHEN d < nr THEN ln(1 - d::DOUBLE / nr) ELSE 0 END AS lnf,
              (d >= nr)::INT AS z
       FROM r),
s AS (SELECT t, d, nr, lnf, z,
             SUM(lnf) OVER w AS lncum, SUM(z) OVER w AS zcum
      FROM f2
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT 24.0 AS tau, (SELECT n FROM tot) AS n_subjects,
       SUM(d)::BIGINT AS n_events_used,
       ROUND(24.0 - SUM((CASE WHEN zcum - z > 0 THEN 0.0
                              ELSE exp(lncum - lnf) END)
                        * d::DOUBLE / nr * (24.0 - t)), 6) AS rmst
FROM s WHERE d > 0 AND t <= 24.0;""",
)
def x311(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rmst

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
    )
    return rmst(subj, "t", "ev", tau=24.0)


@_declare(
    "X312_aalen_johansen",
    # Aalen-Johansen cumulative incidence under COMPETING risks
    # (timeseries.aalen_johansen): first 'error' (cause 1) vs first
    # 'purchase' (cause 2) per user, censored at 48h — 1-KM-per-cause
    # overcounts here; AJ charges each increment against the all-cause
    # survival. Ties go to cause 1 by the equality check order.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS t1,
                 min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN ts_ IS NOT NULL AND ts_ - f <= 48 * 3600e6
         THEN floor((ts_ - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    CASE WHEN ts_ IS NOT NULL AND ts_ - f <= 48 * 3600e6
         THEN CASE WHEN t1 = ts_ THEN 1 ELSE 2 END ELSE 0 END AS k
  FROM (SELECT *, least(t1, t2) AS ts_ FROM u)),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM subj),
per AS (SELECT t, SUM((k = 1)::INT)::BIGINT AS d1,
               SUM((k = 2)::INT)::BIGINT AS d2, COUNT(*)::BIGINT AS c
        FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM per),
r AS (SELECT t, d1, d2, (n - (cc - c))::BIGINT AS nr FROM cum, tot),
f2 AS (SELECT t, d1, d2, nr,
              CASE WHEN d1 + d2 < nr THEN ln(1 - (d1 + d2)::DOUBLE / nr)
                   ELSE 0 END AS lnf,
              (d1 + d2 >= nr)::INT AS z
       FROM r),
s AS (SELECT *, SUM(lnf) OVER w AS lncum, SUM(z) OVER w AS zcum FROM f2
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
inc AS (SELECT t, d1, d2, nr,
               (CASE WHEN zcum - z > 0 THEN 0.0 ELSE exp(lncum - lnf) END)
                 * d1::DOUBLE / nr AS i1,
               (CASE WHEN zcum - z > 0 THEN 0.0 ELSE exp(lncum - lnf) END)
                 * d2::DOUBLE / nr AS i2
        FROM s),
ci AS (SELECT t, d1, d2, nr, SUM(i1) OVER w AS c1, SUM(i2) OVER w AS c2
       FROM inc
       WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT t AS duration, nr AS n_risk, d1 AS d_cause1, d2 AS d_cause2,
       ROUND(c1, 6) AS cif_cause1, ROUND(c2, 6) AS cif_cause2
FROM ci WHERE d1 + d2 > 0 ORDER BY duration;""",
)
def x312(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import aalen_johansen

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("t1"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t2"),
    )
    tstar = F.least(F.col("t1"), F.col("t2"))
    horizon = 48 * 3600e6
    observed = tstar.isNotNull() & (tstar - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((tstar - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        F.when(
            observed, F.when(F.col("t1") == tstar, 1).otherwise(2)
        )
        .otherwise(0)
        .alias("k"),
    )
    return aalen_johansen(subj, "t", "k").orderBy("duration")


@_declare(
    "X313_mann_kendall",
    # Mann-Kendall monotonic-trend test on daily mean value per event
    # type (timeseries.mann_kendall): the significance companion to
    # X205's Theil-Sen slope. Pair join on the calendar-BOUNDED daily
    # relation (X267's discipline); tie-corrected variance; +-1
    # continuity correction.
    """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d, AVG(value) AS x
               FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
p AS (SELECT a.g, sign(b.x - a.x) AS sg
      FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d),
s AS (SELECT g, SUM(sg) AS s FROM p GROUP BY 1),
nd AS (SELECT g, COUNT(*)::DOUBLE AS n FROM daily GROUP BY 1),
tc AS (SELECT g, SUM(t*(t-1)*(2*t+5)) AS tc FROM
         (SELECT g, x, COUNT(*)::DOUBLE AS t FROM daily GROUP BY 1, 2) q
       GROUP BY 1),
j AS (SELECT s.g, s.s, nd.n, (nd.n*(nd.n-1)*(2*nd.n+5) - tc.tc)/18.0 AS v
      FROM s JOIN nd USING (g) JOIN tc USING (g))
SELECT g AS event_type, n::BIGINT AS n_days, s::BIGINT AS s_stat,
       ROUND(v, 6) AS var_s,
       ROUND(CASE WHEN v > 0 THEN
             (CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1
                   ELSE 0 END) / sqrt(v) END, 6) AS z
FROM j ORDER BY event_type;""",
)
def x313(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import mann_kendall

    ev = load_table(spark, sf_dir, "events")
    return mann_kendall(ev, "ts", "value", "event_type").orderBy("event_type")


@_declare(
    "X314_seasonal_strength",
    # Hour-of-day seasonal strength per event type
    # (timeseries.seasonal_strength; Hyndman's STL strength measure
    # F_s = max(0, 1 - Var(remainder)/Var(x)) with per-hour means as
    # the seasonal component) — the one-number "does this metric have
    # a daily rhythm" over the same decomposition X203 flags pointwise.
    """WITH b AS (SELECT event_type AS g,
                 floor((epoch_us(ts) // 1000000 % 86400) / 3600) AS h,
                 value::DOUBLE AS x
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
prof AS (SELECT g, h, AVG(x) AS hm FROM b GROUP BY 1, 2),
j AS (SELECT b.g, b.x, b.x - prof.hm AS r
      FROM b JOIN prof ON b.g = prof.g AND b.h = prof.h),
o AS (SELECT g, COUNT(*)::BIGINT AS n, var_pop(x) AS vt, var_pop(r) AS vr
      FROM j GROUP BY 1)
SELECT g AS event_type, n, ROUND(vt, 6) AS var_total,
       ROUND(vr, 6) AS var_resid,
       ROUND(greatest(0, 1 - vr / NULLIF(vt, 0)), 6) AS strength
FROM o ORDER BY event_type;""",
)
def x314(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import seasonal_strength

    ev = load_table(spark, sf_dir, "events")
    return seasonal_strength(ev, "ts", "value", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X315_runs_test",
    # Wald-Wolfowitz runs test of the above/below-median sign sequence
    # per event type in (ts, event_id) order (timeseries.runs_test):
    # the serial-independence checker under the iid-presuming tests —
    # too few runs = clustering, too many = alternation.
    """WITH b AS (SELECT event_type AS g, ts, event_id, value::DOUBLE AS x
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
med AS (SELECT g, quantile_cont(x, 0.5) AS med FROM b GROUP BY 1),
sgn AS (SELECT b.g, ts, event_id, (x > med)::INT AS s
        FROM b JOIN med ON b.g = med.g WHERE x <> med),
l AS (SELECT g, s, LAG(s) OVER (PARTITION BY g ORDER BY ts, event_id) AS p
      FROM sgn),
a AS (SELECT g, SUM(s)::DOUBLE AS np, SUM(1 - s)::DOUBLE AS nm,
             1 + SUM((p IS NOT NULL AND s <> p)::INT) AS r FROM l GROUP BY 1),
c AS (SELECT g, np, nm, r,
             2*np*nm/(np+nm) + 1 AS er,
             2*np*nm*(2*np*nm - (np+nm))
               / ((np+nm)*(np+nm)*((np+nm) - 1)) AS vr FROM a)
SELECT g AS event_type, np::BIGINT AS n_plus, nm::BIGINT AS n_minus,
       r::BIGINT AS runs,
       ROUND(CASE WHEN vr > 0 THEN (r - er)/sqrt(vr) END, 6) AS z
FROM c ORDER BY event_type;""",
)
def x315(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import runs_test

    ev = load_table(spark, sf_dir, "events")
    return runs_test(
        ev, "ts", "value", "event_type", tiebreak_col="event_id"
    ).orderBy("event_type")


@_declare(
    "X316_ljung_box",
    # Ljung-Box portmanteau whiteness test on the daily-mean series per
    # event type, h=7 (timeseries.ljung_box): the one-number roll-up of
    # X168's ACF table using the textbook fixed-mean estimator the
    # chi2(h) reference assumes. Lag axis = the X168 exploded-literal
    # shape (B=7) on the day-bounded relation.
    """WITH daily AS (SELECT event_type AS g, (epoch_us(ts) // 86400000000) AS t,
                 AVG(value) AS x
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
st AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(x) AS m,
              SUM(x*x) - COUNT(*)::DOUBLE*AVG(x)*AVG(x) AS ss
       FROM daily GROUP BY 1),
c AS (SELECT daily.g, t, x - m AS cx, n, ss FROM daily JOIN st USING (g)),
lagax AS (SELECT g, cx, n, ss, u.lag, t + u.lag AS tj
          FROM c, UNNEST([1, 2, 3, 4, 5, 6, 7]) AS u(lag)),
p AS (SELECT a.g, a.lag, a.n, a.ss, a.cx, b.cx AS cy
      FROM lagax a JOIN c b ON a.g = b.g AND a.tj = b.t),
rk AS (SELECT g, lag, ANY_VALUE(n) AS n,
              SUM(cx*cy) / ANY_VALUE(ss) AS r FROM p GROUP BY 1, 2)
SELECT g AS event_type, ANY_VALUE(n)::BIGINT AS n, COUNT(*)::BIGINT AS h,
       ROUND(ANY_VALUE(n)*(ANY_VALUE(n) + 2)*SUM(r*r/(n - lag)), 6) AS q_stat
FROM rk GROUP BY g ORDER BY g;""",
)
def x316(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import ljung_box

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("day"),
    ).agg(F.avg("value").alias("xbar"))
    return ljung_box(daily, "event_type", "day", "xbar", max_lag=7).orderBy(
        "event_type"
    )


@_declare(
    "X317_chapman_vocab",
    # Chapman capture-recapture estimate of total vocabulary from the
    # doc_id-parity halves (textstats.chapman_vocab_estimate): the
    # mark-recapture complement to X241's Chao1 — disagreement between
    # the two flags heterogeneous type probabilities (Zipf's reality:
    # both read as lower bounds).
    """WITH ta AS (SELECT DISTINCT w FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0) q
        WHERE w <> ''),
tb AS (SELECT DISTINCT w FROM
          (SELECT unnest(string_split(lower(text), ' ')) AS w
           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1) q
        WHERE w <> ''),
n1 AS (SELECT COUNT(*)::DOUBLE AS n1 FROM ta),
n2 AS (SELECT COUNT(*)::DOUBLE AS n2 FROM tb),
m AS (SELECT COUNT(*)::DOUBLE AS m FROM ta JOIN tb USING (w))
SELECT n1::BIGINT AS n_types_a, n2::BIGINT AS n_types_b, m::BIGINT AS m_shared,
       (n1 + n2 - m)::BIGINT AS union_observed,
       ROUND((n1+1)*(n2+1)/(m+1) - 1, 6) AS chapman_n,
       ROUND(sqrt((n1+1)*(n2+1)*(n1-m)*(n2-m)
                  / ((m+1)*(m+1)*(m+2))), 6) AS se
FROM n1, n2, m;""",
)
def x317(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        chapman_vocab_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chapman_vocab_estimate(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


@_declare(
    "X318_quantile_effects",
    # Quantile treatment effects between two md5-hash pseudo-arms
    # (evalmetrics.quantile_treatment_effects; Doksum 1974): per-
    # quantile arm differences at p in {.25,.5,.75,.9} — the
    # distributional view a t-test flattens. One exact-percentile-
    # array aggregate per arm.
    """WITH armed AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5('qte' || user_id::VARCHAR), 1, 8)) AS BIGINT)
              % 1000000 < 500000 THEN 'a' ELSE 'b' END AS g,
         value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
q AS (SELECT g, quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.5) AS q2,
             quantile_cont(x, 0.75) AS q3, quantile_cont(x, 0.9) AS q4
      FROM armed GROUP BY 1),
w AS (SELECT MAX(CASE WHEN g = 'a' THEN q1 END) AS a1,
             MAX(CASE WHEN g = 'a' THEN q2 END) AS a2,
             MAX(CASE WHEN g = 'a' THEN q3 END) AS a3,
             MAX(CASE WHEN g = 'a' THEN q4 END) AS a4,
             MAX(CASE WHEN g = 'b' THEN q1 END) AS b1,
             MAX(CASE WHEN g = 'b' THEN q2 END) AS b2,
             MAX(CASE WHEN g = 'b' THEN q3 END) AS b3,
             MAX(CASE WHEN g = 'b' THEN q4 END) AS b4
      FROM q)
SELECT 0.25 AS p, ROUND(a1, 6) AS q_a, ROUND(b1, 6) AS q_b,
       ROUND(a1 - b1, 6) AS qte FROM w
UNION ALL SELECT 0.5, ROUND(a2, 6), ROUND(b2, 6), ROUND(a2 - b2, 6) FROM w
UNION ALL SELECT 0.75, ROUND(a3, 6), ROUND(b3, 6), ROUND(a3 - b3, 6) FROM w
UNION ALL SELECT 0.9, ROUND(a4, 6), ROUND(b4, 6), ROUND(a4 - b4, 6) FROM w
ORDER BY p;""",
)
def x318(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        quantile_treatment_effects,
    )
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    armed = ev.select(
        F.when(
            hash_bucket(F.col("user_id"), 1_000_000, "qte") < 500_000, "a"
        )
        .otherwise("b")
        .alias("arm"),
        F.col("value"),
    )
    return quantile_treatment_effects(
        armed, "arm", "value", "a", "b"
    ).orderBy("p")


@_declare(
    "X319_did_estimate",
    # Difference-in-differences with paired per-user deltas
    # (evalmetrics.did_estimate): md5 pseudo-arms x (before/after the
    # global time midpoint); SE over unit deltas clusters at the user
    # automatically — the 2x2 four-cell variance is wrong when users
    # contribute many events.
    """WITH b AS (
  SELECT user_id, value::DOUBLE AS x, epoch_us(ts) AS us,
         CASE WHEN CAST(('0x' || substr(md5('did' || user_id::VARCHAR), 1, 8)) AS BIGINT)
              % 1000000 < 500000 THEN 'a' ELSE 'b' END AS g
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
mid AS (SELECT (MIN(us) + MAX(us))/2 AS mid FROM b),
per AS (SELECT user_id AS u, g, us > mid AS p, AVG(x) AS m
        FROM b, mid GROUP BY 1, 2, 3),
unit AS (SELECT u, g, MAX(CASE WHEN p THEN m END) AS post,
                MAX(CASE WHEN NOT p THEN m END) AS pre FROM per GROUP BY 1, 2),
st AS (SELECT g, COUNT(*)::DOUBLE AS ntot, COUNT(post - pre)::DOUBLE AS n,
              AVG(post - pre) AS md, var_samp(post - pre) AS vd
       FROM unit GROUP BY 1),
w AS (SELECT
        MAX(CASE WHEN g = 'a' THEN ntot END) AS ntota,
        MAX(CASE WHEN g = 'a' THEN n END) AS na,
        MAX(CASE WHEN g = 'a' THEN md END) AS mda,
        MAX(CASE WHEN g = 'a' THEN vd END) AS vda,
        MAX(CASE WHEN g = 'b' THEN ntot END) AS ntotb,
        MAX(CASE WHEN g = 'b' THEN n END) AS nb,
        MAX(CASE WHEN g = 'b' THEN md END) AS mdb,
        MAX(CASE WHEN g = 'b' THEN vd END) AS vdb
      FROM st)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       (ntota + ntotb - na - nb)::BIGINT AS n_dropped,
       ROUND(mda, 6) AS delta_a, ROUND(mdb, 6) AS delta_b,
       ROUND(mda - mdb, 6) AS did,
       ROUND(sqrt(vda/na + vdb/nb), 6) AS se,
       ROUND((mda - mdb)/sqrt(vda/na + vdb/nb), 6) AS t_stat
FROM w;""",
)
def x319(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import did_estimate
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = ev.agg(((F.min(us) + F.max(us)) / 2).alias("_mid"))
    armed = ev.crossJoin(F.broadcast(mid)).select(
        F.col("user_id"),
        F.when(
            hash_bucket(F.col("user_id"), 1_000_000, "did") < 500_000, "a"
        )
        .otherwise("b")
        .alias("arm"),
        (us > F.col("_mid")).alias("period"),
        F.col("value"),
    )
    return did_estimate(armed, "user_id", "arm", "period", "value", "a", "b")


@_declare(
    "X320_logrank_k",
    # k-group log-rank (Peto's chi2 = sum (O-E)^2/E approximation) over
    # time-to-first-error cohorts keyed by each user's FIRST event type
    # (timeseries.logrank_k): the omnibus "do ANY cohorts' survival
    # curves differ" X216's two-sample test can't ask. Risk sets via
    # one grouped prefix pass per cohort.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
ft AS (SELECT user_id, event_type AS g FROM (
         SELECT user_id, event_type,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events WHERE ts IS NOT NULL) q WHERE rn = 1),
subj AS (SELECT ft.g,
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev
  FROM u JOIN ft USING (user_id)),
per AS (SELECT g, t, SUM(ev)::BIGINT AS d, COUNT(*)::BIGINT AS c
        FROM subj GROUP BY 1, 2),
grid AS (SELECT gg.g, tt0.t FROM (SELECT DISTINCT g FROM per) gg
         CROSS JOIN (SELECT DISTINCT t FROM per) tt0),
dense AS (SELECT grid.g, grid.t, COALESCE(d, 0) AS d, COALESCE(c, 0) AS c
          FROM grid LEFT JOIN per ON grid.g = per.g AND grid.t = per.t),
cum AS (SELECT *, SUM(c) OVER (PARTITION BY g ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM dense),
gt AS (SELECT g, SUM(c)::BIGINT AS ng FROM per GROUP BY 1),
r AS (SELECT cum.g, t, d, (ng - (cc - c)) AS nr FROM cum JOIN gt USING (g)),
tt AS (SELECT t, SUM(d) AS dt, SUM(nr) AS nt FROM r GROUP BY 1
       HAVING SUM(d) > 0),
j AS (SELECT r.g, r.d, r.nr, tt.dt, tt.nt FROM r JOIN tt USING (t)),
oe AS (SELECT g, SUM(d)::DOUBLE AS o, SUM(nr*dt/nt) AS ex FROM j GROUP BY 1),
st AS (SELECT SUM((o - ex)*(o - ex)/ex) AS chi2,
              (COUNT(*) - 1)::BIGINT AS df FROM oe)
SELECT oe.g AS first_t, gt.ng AS n, o::BIGINT AS observed,
       ROUND(ex, 6) AS expected, ROUND(o/ex, 6) AS oe_ratio,
       ROUND(chi2, 6) AS chi2, df
FROM oe JOIN gt USING (g) CROSS JOIN st ORDER BY first_t;""",
)
def x320(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import logrank_k

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    ft = ev.groupBy("user_id").agg(
        F.expr("min_by(event_type, struct(ts, event_id))").alias("first_t")
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.join(ft, "user_id").select(
        "first_t",
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
    )
    return logrank_k(subj, "t", "ev", "first_t").orderBy("first_t")


@_declare(
    "X321_brunner_munzel",
    # Brunner-Munzel test of src0 vs src1 document length
    # (evalmetrics.brunner_munzel): the rank test for when Mann-
    # Whitney's equal-shape-under-H0 assumption is itself in doubt;
    # combined-vs-within midrank placements, Satterthwaite df. Two
    # _fractional_ranks prefix passes, no global window.
    """WITH b AS (SELECT source AS g, n_chars::DOUBLE AS x
           FROM documents
           WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')),
rc AS (SELECT g, x,
              RANK() OVER (ORDER BY x) - 1
                + (COUNT(*) OVER (PARTITION BY x) + 1)/2.0 AS rcm,
              RANK() OVER (PARTITION BY g ORDER BY x) - 1
                + (COUNT(*) OVER (PARTITION BY g, x) + 1)/2.0 AS rwm
       FROM b),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(rcm) AS rbar,
               var_samp(rcm - rwm) AS s2 FROM rc GROUP BY 1),
w AS (SELECT
        MAX(CASE WHEN g = 'src0' THEN n END) AS na,
        MAX(CASE WHEN g = 'src0' THEN rbar END) AS rbara,
        MAX(CASE WHEN g = 'src0' THEN s2 END) AS s2a,
        MAX(CASE WHEN g = 'src1' THEN n END) AS nb,
        MAX(CASE WHEN g = 'src1' THEN rbar END) AS rbarb,
        MAX(CASE WHEN g = 'src1' THEN s2 END) AS s2b
      FROM per)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND((rbarb - (nb + 1)/2)/na, 6) AS p_hat,
       ROUND(CASE WHEN (na + nb)*sqrt(na*s2a + nb*s2b) > 0
             THEN na*nb*(rbarb - rbara)
                  / ((na + nb)*sqrt(na*s2a + nb*s2b)) END, 6) AS bm_stat,
       ROUND(CASE WHEN pow(na*s2a, 2)/(na - 1) + pow(nb*s2b, 2)/(nb - 1) > 0
             THEN pow(na*s2a + nb*s2b, 2)
                  / (pow(na*s2a, 2)/(na - 1) + pow(nb*s2b, 2)/(nb - 1))
             END, 6) AS df_bm
FROM w;""",
)
def x321(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import brunner_munzel

    docs = load_table(spark, sf_dir, "documents")
    return brunner_munzel(docs, "n_chars", "source", "src0", "src1")


@_declare(
    "X322_quantile_order_ci",
    # Distribution-free order-statistic CI for the per-type median
    # value (evalmetrics.quantile_order_ci; binomial rank argument,
    # Conover): error bars on a quantile at ZERO replicates — X194's
    # bootstrap pays a 100x scan for the same answer on the median.
    # Ranks via grouped distinct-value prefix spans (ties handled).
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS x
           FROM events WHERE value IS NOT NULL),
dv AS (SELECT g, x, COUNT(*)::BIGINT AS t FROM b GROUP BY 1, 2),
cum AS (SELECT g, x, t, SUM(t) OVER (PARTITION BY g ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hispan
        FROM dv),
c2 AS (SELECT *, hispan - t + 1 AS lospan FROM cum),
tot AS (SELECT g, COUNT(*)::DOUBLE AS n FROM b GROUP BY 1),
j AS (SELECT c2.*, n FROM c2 JOIN tot USING (g)),
rr AS (SELECT *,
              greatest(1.0, floor(n*0.5 - 1.959964*sqrt(n*0.5*0.5))) AS r,
              least(n, ceil(n*0.5 + 1.959964*sqrt(n*0.5*0.5)) + 1) AS s,
              ceil(n*0.5) AS qr FROM j)
SELECT g AS event_type, ANY_VALUE(n)::BIGINT AS n, 0.5::DOUBLE AS p,
       MAX(r)::BIGINT AS lo_rank, MAX(s)::BIGINT AS hi_rank,
       ROUND(MIN(CASE WHEN lospan <= qr AND qr <= hispan THEN x END), 6) AS q,
       ROUND(MIN(CASE WHEN lospan <= r AND r <= hispan THEN x END), 6) AS lo,
       ROUND(MIN(CASE WHEN lospan <= s AND s <= hispan THEN x END), 6) AS hi
FROM rr GROUP BY g ORDER BY g;""",
)
def x322(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import quantile_order_ci

    ev = load_table(spark, sf_dir, "events")
    return quantile_order_ci(ev, "value", "event_type", p=0.5).orderBy(
        "event_type"
    )


@_declare(
    "X323_target_encode_oof",
    # Out-of-fold target encoding of lang by mean n_chars, K=5
    # deterministic md5 folds (sampling.target_encode_oof; Micci-
    # Barreca 2001 with the K-fold leakage guard): a row never sees
    # its own label through its own feature — the constructive fix for
    # the leakage X132's audit detects. Verified at the (category,
    # fold) grain (the encoding is constant within a cell).
    """WITH folded AS (
  SELECT lang AS c, n_chars::DOUBLE AS y,
         (CAST(('0x' || substr(md5('te' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
          % 5)::INT AS fold
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cf AS (SELECT c, fold, COUNT(*)::DOUBLE AS n, SUM(y) AS s
       FROM folded GROUP BY 1, 2),
ct AS (SELECT c, SUM(n) AS nc, SUM(s) AS sc FROM cf GROUP BY 1),
gm AS (SELECT SUM(s)/SUM(n) AS gm FROM cf),
enc AS (SELECT cf.c, cf.fold,
               CASE WHEN nc > n THEN (sc - s)/(nc - n) ELSE gm END AS e,
               n FROM cf JOIN ct USING (c) CROSS JOIN gm)
SELECT c AS lang, fold, ROUND(e, 6) AS target_enc, n::BIGINT AS n_rows
FROM enc ORDER BY lang, fold;""",
)
def x323(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import target_encode_oof

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    enc = target_encode_oof(docs, "lang", "n_chars", "doc_id", 5, "te")
    return (
        enc.groupBy("lang", "fold")
        .agg(
            F.round(F.min("target_enc"), 6).alias("target_enc"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("lang", "fold")
    )


@_declare(
    "X324_session_stats",
    # Gap-rule sessionization summary (timeseries.session_stats; the
    # 30-minute-timeout convention): sessions per user via lag-gap
    # windows, bounce rate, exact p50/p90 session length and duration
    # — the engagement table over the same per-key windows the
    # streaming sessionizer uses.
    """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
m AS (SELECT k, us, event_id,
             COALESCE(us - LAG(us) OVER (PARTITION BY k ORDER BY us, event_id)
                      > 30*60*1000000, TRUE)::INT AS new
      FROM b),
sid AS (SELECT k, us, SUM(new) OVER (PARTITION BY k ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM (SELECT k, us, event_id, new FROM m) q),
per AS (SELECT k, sid, COUNT(*) AS ne, (MAX(us) - MIN(us))/1e6 AS dur
        FROM sid GROUP BY 1, 2)
SELECT COUNT(DISTINCT k)::BIGINT AS n_keys, COUNT(*)::BIGINT AS n_sessions,
       SUM(ne)::BIGINT AS n_events,
       ROUND(AVG((ne = 1)::INT::DOUBLE), 6) AS bounce_rate,
       quantile_cont(ne, 0.5) AS p50_events,
       ROUND(quantile_cont(dur, 0.5), 6) AS p50_duration_s,
       ROUND(quantile_cont(dur, 0.9), 6) AS p90_duration_s
FROM per;""",
)
def x324(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(
        ev, "user_id", "ts", gap_minutes=30.0, tiebreak_col="event_id"
    )


@_declare(
    "X325_script_mix_audit",
    # Mixed-script / homoglyph exposure per source (textstats.
    # script_mix_audit; Unicode TR39 threat model): Latin text salted
    # with Cyrillic/Greek lookalikes defeats exact dedup and keyword
    # filters — length-difference regexp counters, one scan.
    """SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(((length(text) > length(regexp_replace(text, '[A-Za-z]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')))::INT
          >= 2)::INT)::BIGINT AS mixed_docs,
       ROUND(AVG(((length(text) > length(regexp_replace(text, '[A-Za-z]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g')))::INT
          + (length(text) > length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')))::INT
          >= 2)::INT::DOUBLE), 6) AS mixed_share,
       SUM((length(text) > length(regexp_replace(text, '[A-Za-z]', '', 'g')))::INT)::BIGINT AS latin_docs,
       SUM((length(text) > length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g')))::INT)::BIGINT AS cyrillic_docs,
       SUM((length(text) > length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g')))::INT)::BIGINT AS greek_docs,
       SUM((length(text) > length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')))::INT)::BIGINT AS cjk_docs
FROM documents WHERE text IS NOT NULL GROUP BY source ORDER BY source;""",
)
def x325(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import script_mix_audit

    docs = load_table(spark, sf_dir, "documents")
    return script_mix_audit(docs, "text", "source").orderBy("source")


@_declare(
    "X326_negative_binomial",
    # Negative-binomial MoM fit of per-user purchase counts among ALL
    # active users (evalmetrics.negative_binomial_fit; Gamma-Poisson):
    # the constructive follow-up to X287's dispersion verdict — r, p,
    # and predicted-vs-observed zero fraction (zeros come from the
    # users x type grid, so absent-type users count).
    """WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
cnt AS (SELECT user_id, COUNT(*)::DOUBLE AS c FROM events
        WHERE user_id IS NOT NULL AND event_type = 'purchase' GROUP BY 1),
full_ AS (SELECT COALESCE(c, 0) AS c FROM users LEFT JOIN cnt USING (user_id)),
a AS (SELECT COUNT(*)::DOUBLE AS n, AVG(c) AS m, var_samp(c) AS v,
             AVG((c = 0)::INT::DOUBLE) AS z FROM full_)
SELECT n::BIGINT AS n, ROUND(m, 6) AS mean, ROUND(v, 6) AS var,
       ROUND(CASE WHEN v > m THEN m*m/(v - m) END, 6) AS r,
       ROUND(CASE WHEN v > m THEN m/v END, 6) AS p,
       ROUND(z, 6) AS zero_obs,
       ROUND(CASE WHEN v > m THEN pow((m*m/(v-m)) / (m*m/(v-m) + m), m*m/(v-m)) END, 6)
         AS zero_nb
FROM a;""",
)
def x326(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        negative_binomial_fit,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    users = ev.select("user_id").distinct()
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("double").alias("c"))
    )
    grid = users.join(cnt, "user_id", "left").select(
        F.coalesce("c", F.lit(0.0)).alias("c")
    )
    return negative_binomial_fit(grid, "c")


@_declare(
    "X327_post_stratified",
    # Post-stratified mean of n_chars by lang over a deterministic 10%
    # doc sample (sampling.post_stratified_mean; Holt-Smith): reweight
    # sample stratum means by POPULATION shares — repairs a sample
    # whose lang mix drifted; deff quantifies the precision bought.
    """WITH pop AS (SELECT lang AS s, COUNT(*)::DOUBLE AS np FROM documents
            WHERE lang IS NOT NULL GROUP BY 1),
popw AS (SELECT s, np / SUM(np) OVER () AS w FROM pop),
samp0 AS (SELECT lang AS s, n_chars::DOUBLE AS y FROM documents
          WHERE CAST(('0x' || substr(md5('ps' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
                % 1000000 < 100000),
samp AS (SELECT s, COUNT(*)::DOUBLE AS n, AVG(y) AS m, var_samp(y) AS v
         FROM samp0 WHERE s IS NOT NULL AND y IS NOT NULL GROUP BY 1),
srs AS (SELECT COUNT(*)::DOUBLE AS nsrs, AVG(y) AS msrs, var_samp(y) AS vsrs
        FROM samp0 WHERE y IS NOT NULL),
j AS (SELECT w, n, m, v FROM popw FULL JOIN samp USING (s)),
o AS (SELECT SUM(n) AS ns, SUM((w IS NOT NULL)::INT)::BIGINT AS k,
             SUM((w IS NOT NULL AND m IS NULL)::INT)::BIGINT AS miss,
             SUM((w IS NULL)::INT)::BIGINT AS sonly,
             COALESCE(SUM(CASE WHEN m IS NULL THEN w END), 0) AS missw,
             SUM(w*m) AS ypost, SUM(w*w*v/n) AS vpost
      FROM j)
SELECT ns::BIGINT AS n_sample, k AS n_strata, miss AS n_missing_strata,
       sonly AS n_sample_only_strata,
       ROUND(missw, 6) AS missing_weight,
       ROUND(msrs, 6) AS ybar_srs, ROUND(ypost, 6) AS ybar_post,
       ROUND(sqrt(vpost), 6) AS se_post,
       ROUND(vpost / (vsrs / nsrs), 6) AS deff
FROM o CROSS JOIN srs;""",
)
def x327(spark, sf_dir):
    from swivel_spark_prep_spark.operators.sampling import (
        hash_sample,
        post_stratified_mean,
    )

    docs = load_table(spark, sf_dir, "documents")
    pop = docs.filter(F.col("lang").isNotNull())
    samp = hash_sample(docs, "doc_id", 0.1, salt="ps")
    return post_stratified_mean(pop, samp, "lang", "n_chars")


@_declare(
    "X328_cronbach_alpha",
    # Cronbach's alpha over four rule-rater 'en' indicators per doc
    # (evalmetrics.cronbach_alpha): do the k quality signals measure
    # one construct, the check before averaging them into one score.
    # One single-pass aggregate (item variances + total-score variance).
    """WITH it AS (SELECT
    (text LIKE '% the %')::INT::DOUBLE AS i1,
    (text LIKE '% and %')::INT::DOUBLE AS i2,
    (text LIKE '% of %')::INT::DOUBLE AS i3,
    (text LIKE '% in %')::INT::DOUBLE AS i4
  FROM documents WHERE text IS NOT NULL),
a AS (SELECT COUNT(*)::BIGINT AS n,
             var_samp(i1) AS v1, var_samp(i2) AS v2,
             var_samp(i3) AS v3, var_samp(i4) AS v4,
             var_samp(i1 + i2 + i3 + i4) AS vt FROM it)
SELECT 4::BIGINT AS n_items, n AS n_subjects,
       ROUND(v1 + v2 + v3 + v4, 6) AS sum_item_var,
       ROUND(vt, 6) AS total_var,
       ROUND(CASE WHEN vt > 0
             THEN (4.0/3.0) * (1 - (v1 + v2 + v3 + v4)/vt) END, 6) AS alpha
FROM a;""",
)
def x328(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cronbach_alpha

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    it = docs.select(
        *[
            F.col("text").like(f"% {w} %").cast("int").alias(f"i{n}")
            for n, w in enumerate(["the", "and", "of", "in"], 1)
        ]
    )
    return cronbach_alpha(it, ["i1", "i2", "i3", "i4"])


@_declare(
    "X329_mahalanobis_outliers",
    # Top-10 embedding outliers by diagonal-covariance Mahalanobis
    # distance (similarity.mahalanobis_outliers): per-dimension
    # standardization catches the garbage vectors a plain L2-to-
    # centroid misses; chi2(dim) review cut reported alongside.
    """WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 generate_subscripts(embedding, 1) AS j
          FROM embeddings),
st AS (SELECT j, AVG(x) AS mu, var_pop(x) AS s2 FROM e GROUP BY 1),
dim AS (SELECT COUNT(*)::DOUBLE AS d FROM st),
d2 AS (SELECT vec_id,
              SUM(CASE WHEN s2 > 0 THEN (x - mu)*(x - mu)/s2 ELSE 0 END) AS d2
       FROM e JOIN st USING (j) GROUP BY 1)
SELECT vec_id, ROUND(d2, 6) AS d2,
       ROUND(d + 3*sqrt(2*d), 6) AS chi2_cut
FROM d2 CROSS JOIN dim
ORDER BY d2 DESC, vec_id LIMIT 10;""",
)
def x329(spark, sf_dir):
    from swivel_spark_prep_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mahalanobis_outliers(emb, k=10)


@_declare(
    "X330_pacf",
    # Partial autocorrelation at lags 1-3 of the daily-mean series per
    # event type (timeseries.pacf3; Durbin-Levinson closed form): the
    # AR-order identification read the raw ACF can't give — PACF cuts
    # off after lag p. One lag-exploded join (X168 shape, B=3) pivoted
    # to a 1-row recursion.
    """WITH daily AS (SELECT event_type AS g, (epoch_us(ts) // 86400000000) AS t,
                 AVG(value) AS x
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
st AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(x) AS m,
              SUM(x*x) - COUNT(*)::DOUBLE*AVG(x)*AVG(x) AS ss
       FROM daily GROUP BY 1),
c AS (SELECT daily.g, t, x - m AS cx, n, ss FROM daily JOIN st USING (g)),
lagax AS (SELECT g, cx, n, ss, u.lag, t + u.lag AS tj
          FROM c, UNNEST([1, 2, 3]) AS u(lag)),
p AS (SELECT a.g, a.lag, a.n, a.cx, a.ss, b.cx AS cy
      FROM lagax a JOIN c b ON a.g = b.g AND a.tj = b.t),
rk AS (SELECT g, lag, ANY_VALUE(n) AS n, SUM(cx*cy)/ANY_VALUE(ss) AS r
       FROM p GROUP BY 1, 2),
w AS (SELECT g, ANY_VALUE(n) AS n,
             MAX(CASE WHEN lag = 1 THEN r END) AS r1,
             MAX(CASE WHEN lag = 2 THEN r END) AS r2,
             MAX(CASE WHEN lag = 3 THEN r END) AS r3 FROM rk GROUP BY 1),
q AS (SELECT *, r1 AS p11,
             CASE WHEN 1 - r1*r1 <> 0 THEN (r2 - r1*r1)/(1 - r1*r1) END AS p22,
             CASE WHEN 1 - r1*r1 <> 0 THEN r1*(1 - r2)/(1 - r1*r1) END AS p21
      FROM w)
SELECT g AS event_type, n::BIGINT AS n, ROUND(r1, 6) AS r1,
       ROUND(r2, 6) AS r2, ROUND(r3, 6) AS r3,
       ROUND(p11, 6) AS pacf1, ROUND(p22, 6) AS pacf2,
       ROUND(CASE WHEN 1 - p21*r1 - p22*r2 <> 0
             THEN (r3 - p21*r2 - p22*r1)/(1 - p21*r1 - p22*r2) END, 6)
         AS pacf3,
       ROUND(1.959964/sqrt(n), 6) AS band
FROM q ORDER BY event_type;""",
)
def x330(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import pacf3

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).alias("day"),
    ).agg(F.avg("value").alias("xbar"))
    return pacf3(daily, "event_type", "day", "xbar").orderBy("event_type")


@_declare(
    "X331_kendall_tau_daily",
    # Kendall's tau-b between the daily purchase and click mean-value
    # series (timeseries.kendall_tau_daily): rank-robust day-over-day
    # association the Pearson CCF (X267) overstates under heavy tails;
    # pair join on the calendar-bounded paired-day relation (X313
    # discipline), tie-corrected denominator.
    """WITH base AS (SELECT CAST(ts AS DATE) AS d, event_type AS s, AVG(value) AS x
              FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
                AND event_type IN ('purchase', 'click') GROUP BY 1, 2),
paired AS (SELECT a.d, a.x AS xa, b.x AS xb
           FROM (SELECT d, x FROM base WHERE s = 'purchase') a
           JOIN (SELECT d, x FROM base WHERE s = 'click') b USING (d)),
pr AS (SELECT sign(b.xa - a.xa)*sign(b.xb - a.xb) AS sg
       FROM paired a JOIN paired b ON a.d < b.d),
cd AS (SELECT SUM((sg > 0)::INT)::BIGINT AS c,
              SUM((sg < 0)::INT)::BIGINT AS dd FROM pr),
n AS (SELECT COUNT(*)::DOUBLE AS n FROM paired),
t1 AS (SELECT COALESCE(SUM(t*(t-1)/2), 0) AS n1 FROM
         (SELECT xa, COUNT(*)::DOUBLE AS t FROM paired GROUP BY 1) q),
t2 AS (SELECT COALESCE(SUM(t*(t-1)/2), 0) AS n2 FROM
         (SELECT xb, COUNT(*)::DOUBLE AS t FROM paired GROUP BY 1) q)
SELECT n::BIGINT AS n_days, c AS concordant, dd AS discordant,
       ROUND((c - dd)/sqrt((n*(n-1)/2 - n1)*(n*(n-1)/2 - n2)), 6) AS tau_b,
       ROUND(3*(c - dd)/sqrt(n*(n-1)*(2*n+5)/2), 6) AS z
FROM cd, n, t1, t2;""",
)
def x331(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import kendall_tau_daily

    ev = load_table(spark, sf_dir, "events")
    return kendall_tau_daily(
        ev, "ts", "value", "event_type", "purchase", "click"
    )


@_declare(
    "X332_poisson_rate_test",
    # Two-period Poisson rate-change test per event type
    # (timeseries.poisson_rate_test): did the EVENT RATE itself move
    # between the halves of the time range — the counting-process
    # complement to the value-level Chow/Page-Hinkley detectors. One
    # (min,max) pass broadcast back + one conditional-count aggregate.
    """WITH b AS (SELECT event_type AS g, epoch_us(ts) AS us
           FROM events WHERE ts IS NOT NULL),
rng AS (SELECT g, MIN(us) AS lo, MAX(us) AS hi FROM b GROUP BY 1),
j AS (SELECT b.g, us, lo, hi, (lo + hi)/2 AS mid FROM b JOIN rng USING (g)),
a AS (SELECT g, COUNT(*)::BIGINT AS n,
             SUM((us <= mid)::INT)::DOUBLE AS c1,
             SUM((us > mid)::INT)::DOUBLE AS c2,
             ANY_VALUE(mid - lo) AS t1, ANY_VALUE(hi - mid) AS t2
      FROM j GROUP BY 1)
SELECT g AS event_type, n, c1::BIGINT AS c_1, c2::BIGINT AS c_2,
       ROUND((c1/t1)/NULLIF(c2/t2, 0), 6) AS rate_ratio,
       ROUND(CASE WHEN sqrt(c1/(t1*t1) + c2/(t2*t2)) > 0
             THEN (c1/t1 - c2/t2)/sqrt(c1/(t1*t1) + c2/(t2*t2)) END, 6) AS z
FROM a ORDER BY event_type;""",
)
def x332(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import poisson_rate_test

    ev = load_table(spark, sf_dir, "events")
    return poisson_rate_test(ev, "ts", "event_type").orderBy("event_type")


@_declare(
    "X333_novelty_timeline",
    # Weekly vocabulary-novelty curve (textstats.novelty_timeline):
    # share of token mass whose TYPE first appeared that week — the
    # freshness trajectory between X189's global Heaps fit and X282's
    # two-snapshot churn; a cliff = new ingest source, ~0 = re-crawl.
    # Documents carry no timestamp, so the audit runs on the event
    # stream's joined week via doc_id % user-activity... instead the
    # deterministic stand-in: week = doc_id bucketed into 8 pseudo-
    # weeks (ingest order proxy), replayed identically by the oracle.
    """WITH docs2 AS (SELECT doc_id, text,
                 DATE '2024-01-01' + INTERVAL ((doc_id % 8) * 7) DAY AS ts
          FROM documents WHERE text IS NOT NULL),
toks AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS b,
                unnest(string_split(lower(text), ' ')) AS w
         FROM docs2),
per AS (SELECT b, w, COUNT(*)::BIGINT AS c FROM toks WHERE w <> ''
        GROUP BY 1, 2),
f AS (SELECT w, MIN(b) AS fb FROM per GROUP BY 1),
j AS (SELECT per.b, per.c, (per.b = f.fb)::INT AS isnew
      FROM per JOIN f USING (w))
SELECT b::VARCHAR AS bucket, SUM(c)::BIGINT AS n_tokens,
       SUM(isnew)::BIGINT AS new_types,
       SUM(CASE WHEN isnew = 1 THEN c ELSE 0 END)::BIGINT AS new_token_mass,
       ROUND(SUM(CASE WHEN isnew = 1 THEN c ELSE 0 END)::DOUBLE / SUM(c), 6)
         AS novelty_share
FROM j GROUP BY b ORDER BY bucket;""",
)
def x333(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import novelty_timeline

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    staged = docs.withColumn(
        "ts",
        F.date_add(F.lit("2024-01-01").cast("date"), ((F.col("doc_id") % 8) * 7).cast("int")),
    )
    out = novelty_timeline(staged, "ts", "text", bucket="week")
    # string bucket: the driver's dtype check treats Spark date (object)
    # vs DuckDB DATE (datetime64) as a mismatch
    return out.withColumn("bucket", F.col("bucket").cast("string")).orderBy(
        "bucket"
    )


@_declare(
    "X334_anisotropy",
    # Embedding-space anisotropy (similarity.anisotropy_score;
    # Ethayarajh 2019's expected pairwise cosine in closed form
    # ||mu||^2 / E||x||^2): cone collapse silently breaks every
    # cosine-threshold op downstream; norm spread ruins dot ranking.
    """WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 generate_subscripts(embedding, 1) AS j
          FROM embeddings),
mu AS (SELECT j, AVG(x) AS m FROM e GROUP BY 1),
m2 AS (SELECT SUM(m*m) AS mu2, COUNT(*)::BIGINT AS dim FROM mu),
nm AS (SELECT vec_id, SUM(x*x) AS n2 FROM e GROUP BY 1),
a AS (SELECT COUNT(*)::BIGINT AS n, AVG(n2) AS en2,
             AVG(sqrt(n2)) AS mn, stddev_samp(sqrt(n2)) AS sn FROM nm)
SELECT n, dim, ROUND(mn, 6) AS mean_norm, ROUND(sn, 6) AS sd_norm,
       ROUND(mu2/en2, 6) AS anisotropy
FROM a CROSS JOIN m2;""",
)
def x334(spark, sf_dir):
    from swivel_spark_prep_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.anisotropy_score(emb)


@_declare(
    "X335_burstiness",
    # Goh-Barabasi burstiness B = (sd-mu)/(sd+mu) and memory M =
    # corr(gap_i, gap_{i+1}) of per-user event streams by type
    # (timeseries.burstiness): the (B, M) pair separates bots
    # (B~-1) from humans (B>0, M>0) at identical rates.
    """WITH b AS (SELECT event_type AS g, user_id AS k, epoch_us(ts) AS us, event_id
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
gaps AS (SELECT g, k, us, event_id,
                (us - LAG(us) OVER (PARTITION BY g, k ORDER BY us, event_id))/1e6 AS d
         FROM b),
fl AS (SELECT g, k, us, event_id, d FROM gaps WHERE d IS NOT NULL),
pairs AS (SELECT g, k, d,
                 LEAD(d) OVER (PARTITION BY g, k ORDER BY us, event_id) AS dn
          FROM fl),
a AS (SELECT g, COUNT(DISTINCT k)::BIGINT AS n_keys, COUNT(*)::BIGINT AS n_gaps,
             AVG(d) AS mu, stddev_samp(d) AS sd,
             COUNT(dn)::DOUBLE AS np,
             SUM(CASE WHEN dn IS NOT NULL THEN d END) AS sx, SUM(dn) AS sy,
             SUM(CASE WHEN dn IS NOT NULL THEN d*d END) AS sxx,
             SUM(dn*dn) AS syy, SUM(d*dn) AS sxy
      FROM pairs GROUP BY 1)
SELECT g AS event_type, n_keys, n_gaps, ROUND(mu, 6) AS mean_gap_s,
       ROUND(CASE WHEN sd + mu > 0 THEN (sd - mu)/(sd + mu) END, 6) AS b_burst,
       ROUND(CASE WHEN (np*sxx - sx*sx)*(np*syy - sy*sy) > 0
             THEN (np*sxy - sx*sy)/sqrt((np*sxx - sx*sx)*(np*syy - sy*sy))
             END, 6) AS m_memory
FROM a ORDER BY event_type;""",
)
def x335(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import burstiness

    ev = load_table(spark, sf_dir, "events")
    return burstiness(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    ).orderBy("event_type")


@_declare(
    "X336_variance_decomposition",
    # One-way variance decomposition of n_chars by source
    # (evalmetrics.variance_decomposition): eta^2 = SSB/SST plus
    # ICC(1) with Donner's n0 for unequal groups — the effect-size
    # companion to X209's F ("how much does source explain", not just
    # "do the means differ").
    """WITH per AS (SELECT source AS g, COUNT(*)::DOUBLE AS n, AVG(n_chars) AS m,
                   COALESCE(var_samp(n_chars), 0) AS v
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn,
               SUM(n*m)/SUM(n) AS gm, SUM(n*n) AS sn2 FROM per),
a AS (SELECT ANY_VALUE(k) AS k, ANY_VALUE(nn) AS nn, ANY_VALUE(sn2) AS sn2,
             SUM(n*(m - gm)*(m - gm)) AS ssb,
             SUM((n - 1)*v) AS ssw
      FROM per CROSS JOIN tot),
b AS (SELECT *, ssb/(k - 1) AS msb, ssw/(nn - k) AS msw,
             (nn - sn2/nn)/(k - 1) AS n0 FROM a)
SELECT k::BIGINT AS k, nn::BIGINT AS n,
       ROUND(ssb/NULLIF(ssb + ssw, 0), 6) AS eta2,
       ROUND(msb, 6) AS msb, ROUND(msw, 6) AS msw, ROUND(n0, 6) AS n0,
       ROUND((msb - msw)/(msb + (n0 - 1)*msw), 6) AS icc1
FROM b;""",
)
def x336(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        variance_decomposition,
    )

    docs = load_table(spark, sf_dir, "documents")
    return variance_decomposition(docs, "n_chars", "source")


@_declare(
    "X337_beta_binomial_shrink",
    # Empirical-Bayes shrinkage of per-source 'contains the' rates
    # (evalmetrics.beta_binomial_shrink; Kleinman moment route): the
    # PROPORTIONS twin of X288 — prior weight M = (1-rho)/rho from the
    # binary-outcome ICC, rate_shrunk = (x + M*pbar)/(n + M).
    """WITH b AS (SELECT source AS g, (text LIKE '% the %')::INT::DOUBLE AS y
           FROM documents WHERE text IS NOT NULL),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, SUM(y) AS x, AVG(y) AS m,
               COALESCE(var_samp(y), 0) AS v FROM b GROUP BY 1),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, SUM(x)/SUM(n) AS pbar,
               SUM(n*n) AS sn2 FROM per),
a AS (SELECT ANY_VALUE(k) AS k, ANY_VALUE(nn) AS nn, ANY_VALUE(sn2) AS sn2,
             ANY_VALUE(pbar) AS pbar,
             SUM(n*(m - pbar)*(m - pbar)) AS ssb, SUM((n - 1)*v) AS ssw
      FROM per CROSS JOIN tot),
r AS (SELECT pbar,
             ((ssb/(k - 1)) - (ssw/(nn - k)))
               / ((ssb/(k - 1)) + ((nn - sn2/nn)/(k - 1) - 1)*(ssw/(nn - k)))
               AS rho
      FROM a)
SELECT g AS source, n::BIGINT AS n, x::BIGINT AS successes,
       ROUND(m, 6) AS rate_raw,
       ROUND(CASE WHEN rho > 0 THEN (1 - rho)/rho END, 6) AS prior_m,
       ROUND(CASE WHEN rho > 0
             THEN (x + ((1 - rho)/rho)*pbar)/(n + (1 - rho)/rho)
             ELSE pbar END, 6) AS rate_shrunk
FROM per CROSS JOIN r ORDER BY source;""",
)
def x337(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        beta_binomial_shrink,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    b = docs.select(
        "source", F.col("text").like("% the %").alias("hit")
    )
    return beta_binomial_shrink(b, "hit", "source").orderBy("source")


@_declare(
    "X338_qini_curve",
    # Qini uplift curve by targeting-score decile (evalmetrics.
    # qini_curve; Radcliffe): per-user treated = md5 arm, outcome =
    # made a purchase, score = total event value; incremental
    # conversions vs the concurrent control at each cumulative decile,
    # with the random-targeting diagonal. Global score rank via the
    # range-partitioned prefix count, never ntile.
    """WITH u AS (SELECT user_id,
                 CAST(('0x' || substr(md5('up' || user_id::VARCHAR), 1, 8)) AS BIGINT)
                   % 1000000 < 500000 AS t,
                 MAX((event_type = 'purchase')::INT) AS y,
                 SUM(value) AS score
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY 1),
r AS (SELECT t, y, ROW_NUMBER() OVER (ORDER BY -score, user_id) AS rk,
             COUNT(*) OVER () AS n FROM u),
bnd AS (SELECT CAST(FLOOR((rk - 1)*10/n::DOUBLE) AS BIGINT) AS d, t, y FROM r),
per AS (SELECT d, SUM(t::INT)::BIGINT AS nt, SUM((NOT t)::INT)::BIGINT AS nc,
               SUM(CASE WHEN t THEN y ELSE 0 END)::BIGINT AS ct,
               SUM(CASE WHEN NOT t THEN y ELSE 0 END)::BIGINT AS cc
        FROM bnd GROUP BY 1),
cum AS (SELECT d, SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
               SUM(ct) OVER w AS cct, SUM(cc) OVER w AS ccc
        FROM per WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
g AS (SELECT SUM(ct) AS gt, SUM(cc) AS gc, SUM(nt) AS gnt, SUM(nc) AS gnc FROM per)
SELECT (d + 1)::BIGINT AS decile, cnt::BIGINT AS n_treated,
       cnc::BIGINT AS n_control, cct::BIGINT AS conv_treated,
       ccc::BIGINT AS conv_control,
       ROUND(cct - ccc*cnt/NULLIF(cnc::DOUBLE, 0), 6) AS qini,
       ROUND((gt - gc*gnt/gnc::DOUBLE)*(d + 1)/10.0, 6) AS qini_random
FROM cum CROSS JOIN g ORDER BY decile;""",
)
def x338(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import qini_curve
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    # persist the per-user relation (round 16, guide §5): qini_curve
    # consumes it through both the global-rank prefix sum and the total
    # count, re-running the events scan + groupBy per consumer.
    # Interleaved A/B: 2.35 -> 2.10 s.
    from swivel_spark_prep_spark.cache import track_persist

    u = track_persist(ev.groupBy("user_id").agg(
        (hash_bucket(F.col("user_id"), 1_000_000, "up") < 500_000).alias(
            "treated"
        ),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        ),
        F.sum("value").alias("score"),
    ))
    return qini_curve(
        u, "treated", "converted", "score", "user_id", deciles=10
    ).orderBy("decile")


@_declare(
    "X339_pocock_monitor",
    # Group-sequential monitoring with the Pocock K=5 boundary
    # (evalmetrics.pocock_monitor): five accrual-ordered interim looks
    # at the md5-arm mean difference, each tested at 2.413 — peeking
    # with a license (five 1.96 tests inflate alpha to ~14%). Accrual
    # rank via the range-partitioned prefix count; one cumulative pass
    # over the 5-row look relation.
    """WITH b AS (
  SELECT ts, event_id,
         (CAST(('0x' || substr(md5('aa' || user_id::VARCHAR), 1, 8)) AS BIGINT)
          % 1000000 < 500000)::INT AS a,
         value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
r AS (SELECT a, x, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rk,
             COUNT(*) OVER () AS n FROM b),
lk AS (SELECT CAST(FLOOR((rk - 1)*5/n::DOUBLE) AS BIGINT) AS l, a, x FROM r),
per AS (SELECT l, SUM(a)::DOUBLE AS na, SUM(1 - a)::DOUBLE AS nb,
               SUM(CASE WHEN a = 1 THEN x END) AS sa,
               SUM(CASE WHEN a = 0 THEN x END) AS sb,
               SUM(CASE WHEN a = 1 THEN x*x END) AS qa,
               SUM(CASE WHEN a = 0 THEN x*x END) AS qb
        FROM lk GROUP BY 1),
cum AS (SELECT l, SUM(na) OVER w AS cna, SUM(nb) OVER w AS cnb,
               SUM(sa) OVER w AS csa, SUM(sb) OVER w AS csb,
               SUM(qa) OVER w AS cqa, SUM(qb) OVER w AS cqb
        FROM per WINDOW w AS (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
zc AS (SELECT l, cna, cnb,
              (csa/cna - csb/cnb)
                / sqrt(((cqa - cna*(csa/cna)*(csa/cna))/(cna - 1))/cna
                       + ((cqb - cnb*(csb/cnb)*(csb/cnb))/(cnb - 1))/cnb) AS z
       FROM cum),
sc AS (SELECT (l + 1)::BIGINT AS look, cna::BIGINT AS n_a, cnb::BIGINT AS n_b,
              ROUND(z, 6) AS z, COALESCE(abs(z) > 2.413, FALSE) AS crossed,
              2.413::DOUBLE AS pocock_bound
       FROM zc),
fc AS (SELECT MIN(CASE WHEN crossed THEN look END) AS first_crossed_look FROM sc)
SELECT sc.*, fc.first_crossed_look FROM sc CROSS JOIN fc ORDER BY look;""",
)
def x339(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import pocock_monitor
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    # persist the narrow armed relation (round 16, guide §5): the
    # monitor's accrual rank (prefix sum) and its total count diverge
    # BEFORE any exchange, so the events scan ran twice. Interleaved
    # A/B: 3.43 -> 2.75 s.
    from swivel_spark_prep_spark.cache import track_persist

    armed = track_persist(ev.select(
        "ts",
        "event_id",
        F.when(
            hash_bucket(F.col("user_id"), 1_000_000, "aa") < 500_000, "a"
        )
        .otherwise("b")
        .alias("arm"),
        F.col("value"),
    ))
    return pocock_monitor(
        armed, "ts", "arm", "value", "a", "b", looks=5,
        tiebreak_col="event_id",
    ).orderBy("look")


@_declare(
    "X340_dim_correlation",
    # Top-5 most-correlated embedding dimension pairs
    # (similarity.dim_correlation_pairs): the redundancy audit next to
    # X334's anisotropy — |r|->1 dims carry one dimension of signal at
    # two dimensions of cost; dim^2 moment matrix from one pass.
    """WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings),
p AS (SELECT a.i AS i, b.i AS j, a.x AS x, b.x AS y
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i < b.i),
m AS (SELECT i, j, COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM p GROUP BY 1, 2),
r AS (SELECT i, j, n,
             CASE WHEN (n*sxx - sx*sx)*(n*syy - sy*sy) > 0
                  THEN (n*sxy - sx*sy)/sqrt((n*sxx - sx*sx)*(n*syy - sy*sy))
             END AS r
      FROM m)
SELECT i AS dim_i, j AS dim_j, ROUND(r, 6) AS r, n::BIGINT AS n
FROM r ORDER BY abs(r) DESC, dim_i, dim_j LIMIT 5;""",
)
def x340(spark, sf_dir):
    from swivel_spark_prep_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.dim_correlation_pairs(emb, k=5)


@_declare(
    "X341_risk_table",
    # 2x2 risk table with RD (Wald), RR (Katz log) and OR (Woolf log)
    # CIs (evalmetrics.risk_table): exposure = md5 arm on user_id,
    # outcome = value > 50 — the unstratified companion to X293's
    # Mantel-Haenszel; one conditional-count aggregate.
    """WITH b AS (
  SELECT CAST(('0x' || substr(md5('mh' || user_id::VARCHAR), 1, 8)) AS BIGINT)
           % 1000000 < 500000 AS e,
         value > 50.0 AS o
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
t AS (SELECT SUM((e AND o)::INT)::DOUBLE AS a, SUM((e AND NOT o)::INT)::DOUBLE AS bb,
             SUM((NOT e AND o)::INT)::DOUBLE AS c, SUM((NOT e AND NOT o)::INT)::DOUBLE AS d
      FROM b),
w AS (SELECT *, a + bb AS n1, c + d AS n0, a/(a + bb) AS p1, c/(c + d) AS p0,
             (a > 0 AND bb > 0 AND c > 0 AND d > 0) AS pos FROM t),
x AS (SELECT *,
        sqrt(p1*(1 - p1)/n1 + p0*(1 - p0)/n0) AS rdse,
        sqrt(1/a - 1/n1 + 1/c - 1/n0) AS rrse,
        sqrt(1/a + 1/bb + 1/c + 1/d) AS orse FROM w)
SELECT a::BIGINT AS a, bb::BIGINT AS b, c::BIGINT AS c, d::BIGINT AS d,
       ROUND(p1 - p0, 6) AS rd,
       ROUND(p1 - p0 - 1.959964*rdse, 6) AS rd_lo,
       ROUND(p1 - p0 + 1.959964*rdse, 6) AS rd_hi,
       ROUND(CASE WHEN pos THEN p1/p0 END, 6) AS rr,
       ROUND(CASE WHEN pos THEN exp(ln(p1/p0) - 1.959964*rrse) END, 6) AS rr_lo,
       ROUND(CASE WHEN pos THEN exp(ln(p1/p0) + 1.959964*rrse) END, 6) AS rr_hi,
       ROUND(CASE WHEN pos THEN (a*d)/(bb*c) END, 6) AS odds_ratio,
       ROUND(CASE WHEN pos THEN exp(ln((a*d)/(bb*c)) - 1.959964*orse) END, 6) AS or_lo,
       ROUND(CASE WHEN pos THEN exp(ln((a*d)/(bb*c)) + 1.959964*orse) END, 6) AS or_hi
FROM x;""",
)
def x341(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import risk_table
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    b = ev.select(
        (hash_bucket(F.col("user_id"), 1_000_000, "mh") < 500_000).alias(
            "exposed"
        ),
        (F.col("value") > 50.0).alias("outcome"),
    )
    return risk_table(b, "exposed", "outcome")


# ----------------------------------------------------------------- round 14


@_declare(
    "X342_periodogram",
    # DFT power at the calendar harmonics (timeseries.periodogram,
    # Schuster 1898): is the event stream daily / half-daily / weekly
    # periodic? One hourly-bucket hash aggregate, a 1-row mean
    # broadcast, one cos/sin aggregate per candidate period (bounded
    # literal fan-out). Power rounded at 3 (large-magnitude sums:
    # cross-engine float-order noise ~1e-7 absolute).
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS t,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
m AS (SELECT AVG(c) AS mu, COUNT(*)::DOUBLE AS mm FROM b),
p AS (SELECT unnest([24.0, 12.0, 168.0, 6.0]) AS ph),
e AS (SELECT ph, c - mu AS d, mm, 2 * pi() * t / ph AS theta
      FROM b CROSS JOIN m CROSS JOIN p),
agg AS (SELECT ph, SUM(d * cos(theta)) AS a, SUM(d * sin(theta)) AS bb,
               MAX(mm) AS mm
        FROM e GROUP BY 1)
SELECT ph AS period_hours, mm::BIGINT AS n_buckets,
       ROUND((a * a + bb * bb) * 2.0 / mm, 3) AS power
FROM agg ORDER BY period_hours;""",
)
def x342(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import periodogram

    ev = load_table(spark, sf_dir, "events")
    out = periodogram(ev, "ts", (24.0, 12.0, 168.0, 6.0))
    # power re-rounded at 3 in the query (see oracle comment); the
    # operator's own 6-digit rounding is a no-op input to this
    return out.select(
        "period_hours", "n_buckets", F.round("power", 3).alias("power")
    )


@_declare(
    "X343_ngram_overlap",
    # Per-source bigram overlap with the rest of the corpus
    # (textstats.cross_source_ngram_overlap; the self-BLEU diversity
    # read): share of each source's DISTINCT bigrams appearing in >= 2
    # sources. Distinct (source, gram) -> gram-keyed source counts ->
    # per-source rollup; never a source x source pair relation.
    """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents
           WHERE text IS NOT NULL AND source IS NOT NULL),
sg AS (SELECT DISTINCT source,
              unnest(list_transform(range(1, len(w)),
                                    i -> w[i] || ' ' || w[i + 1])) AS gr
       FROM t),
gc AS (SELECT gr, COUNT(*) AS nsrc FROM sg GROUP BY 1)
SELECT source, COUNT(*)::BIGINT AS n_grams,
       SUM((nsrc >= 2)::INT)::BIGINT AS shared_grams,
       ROUND(CASE WHEN COUNT(*) > 0
             THEN SUM((nsrc >= 2)::INT)::DOUBLE / COUNT(*) END, 6)
         AS overlap_ratio
FROM sg JOIN gc USING (gr) GROUP BY source ORDER BY source;""",
)
def x343(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        cross_source_ngram_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cross_source_ngram_overlap(docs, n=2)


@_declare(
    "X344_missingness_audit",
    # Pairwise missingness structure (quality.missingness_audit): the
    # MCAR-vs-structured triage. The fixtures are fully dense, so the
    # query plants deterministic hash-keyed nulls — lang/source nulls
    # share a salt (nested, lockstep missingness, Jaccard 2/3 by
    # construction), n_chars nulls use an independent salt — and the
    # audit must recover exactly that structure. ONE aggregate holds
    # all 3 + 3 counters; rows come from a literal struct-array explode.
    """WITH d AS (SELECT
      CASE WHEN CAST(('0x' || substr(md5('ma' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
                % 1000000 < 150000 THEN NULL ELSE lang END AS lang_n,
      CASE WHEN CAST(('0x' || substr(md5('ma' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
                % 1000000 < 100000 THEN NULL ELSE source END AS source_n,
      CASE WHEN CAST(('0x' || substr(md5('mb' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
                % 1000000 < 100000 THEN NULL ELSE n_chars END AS chars_n
    FROM documents),
a AS (SELECT COUNT(*)::BIGINT AS n,
             SUM((lang_n IS NULL)::INT)::BIGINT AS ml,
             SUM((source_n IS NULL)::INT)::BIGINT AS ms,
             SUM((chars_n IS NULL)::INT)::BIGINT AS mc,
             SUM((lang_n IS NULL AND source_n IS NULL)::INT)::BIGINT AS mls,
             SUM((lang_n IS NULL AND chars_n IS NULL)::INT)::BIGINT AS mlc,
             SUM((source_n IS NULL AND chars_n IS NULL)::INT)::BIGINT AS msc
      FROM d)
SELECT * FROM (
  SELECT 'chars_n' AS col_a, 'lang_n' AS col_b, n AS n_rows, mc AS null_a,
         ml AS null_b, mlc AS both_null,
         ROUND(CASE WHEN mc + ml - mlc > 0
               THEN mlc::DOUBLE / (mc + ml - mlc) END, 6) AS null_jaccard
  FROM a
  UNION ALL
  SELECT 'chars_n', 'source_n', n, mc, ms, msc,
         ROUND(CASE WHEN mc + ms - msc > 0
               THEN msc::DOUBLE / (mc + ms - msc) END, 6) FROM a
  UNION ALL
  SELECT 'lang_n', 'source_n', n, ml, ms, mls,
         ROUND(CASE WHEN ml + ms - mls > 0
               THEN mls::DOUBLE / (ml + ms - mls) END, 6) FROM a
) ORDER BY col_a, col_b;""",
)
def x344(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import missingness_audit
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        F.when(
            hash_bucket(F.col("doc_id"), 1_000_000, "ma") < 150_000,
            F.lit(None),
        )
        .otherwise(F.col("lang"))
        .alias("lang_n"),
        F.when(
            hash_bucket(F.col("doc_id"), 1_000_000, "ma") < 100_000,
            F.lit(None),
        )
        .otherwise(F.col("source"))
        .alias("source_n"),
        F.when(
            hash_bucket(F.col("doc_id"), 1_000_000, "mb") < 100_000,
            F.lit(None).cast("long"),
        )
        .otherwise(F.col("n_chars"))
        .alias("chars_n"),
    )
    return missingness_audit(planted, ["chars_n", "lang_n", "source_n"])


@_declare(
    "X345_bartlett",
    # Bartlett's variance-homogeneity chi2 (evalmetrics.bartlett_test,
    # 1937) over event values by type — the normality-assuming,
    # higher-power complement to X273's Brown-Forsythe. ONE grouped
    # moments aggregate + a 1-row rollup.
    """WITH per AS (SELECT event_type AS g, COUNT(*)::DOUBLE AS n,
             var_samp(value::DOUBLE) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1 HAVING COUNT(*) >= 2 AND var_samp(value::DOUBLE) > 0),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn,
               SUM((n - 1) * v) AS sv, SUM((n - 1) * ln(v)) AS slnv,
               SUM(1.0 / (n - 1)) AS sinv
        FROM per)
SELECT k::BIGINT AS k, nn::BIGINT AS n,
       ROUND(CASE WHEN k > 1 AND nn > k AND sv / (nn - k) > 0
             THEN ((nn - k) * ln(sv / (nn - k)) - slnv)
                  / (1.0 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1.0)))
             END, 6) AS chi2,
       (k - 1)::BIGINT AS df
FROM tot;""",
)
def x345(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import bartlett_test

    ev = load_table(spark, sf_dir, "events")
    return bartlett_test(ev, "value", "event_type")


@_declare(
    "X346_mood_median",
    # Mood's median test (evalmetrics.mood_median_test, 1950): classify
    # every event value against the GRAND median, chi2 the 2 x k
    # contingency — the outlier-proof k-sample location test. One
    # 1-row exact-percentile broadcast + one conditional-count
    # aggregate.
    """WITH base AS (SELECT event_type AS g, value::DOUBLE AS x FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL),
gm AS (SELECT quantile_cont(x, 0.5) AS med FROM base),
per AS (SELECT g, MAX(med) AS med,
               SUM((x > med)::INT)::DOUBLE AS a, COUNT(*)::DOUBLE AS n
        FROM base CROSS JOIN gm GROUP BY 1),
marg AS (SELECT SUM(a) AS at, SUM(n) AS nt FROM per)
SELECT COUNT(*)::BIGINT AS k, SUM(n)::BIGINT AS n,
       ROUND(MAX(med), 6) AS grand_median,
       ROUND(SUM(CASE WHEN n * at / nt > 0 AND n * (nt - at) / nt > 0
             THEN (a - n * at / nt) * (a - n * at / nt) / (n * at / nt)
                + ((n - a) - n * (nt - at) / nt)
                  * ((n - a) - n * (nt - at) / nt) / (n * (nt - at) / nt)
             END), 6) AS chi2,
       (COUNT(*) - 1)::BIGINT AS df
FROM per CROSS JOIN marg;""",
)
def x346(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mood_median_test

    ev = load_table(spark, sf_dir, "events")
    return mood_median_test(ev, "value", "event_type")


@_declare(
    "X347_ordinal_association",
    # Goodman-Kruskal gamma / Somers' D / Kendall tau-b from one
    # bounded contingency (evalmetrics.ordinal_association): doc length
    # class (fixed 200/400/600-char cuts) vs whitespace-token class
    # (fixed 50/100/150 cuts) — the concordance triple over cells^2
    # (broadcast nested loop over the bounded cell relation), never
    # rows^2.
    """WITH o AS (SELECT
      CASE WHEN n_chars < 200 THEN 1 WHEN n_chars < 400 THEN 2
           WHEN n_chars < 600 THEN 3 ELSE 4 END AS a,
      CASE WHEN len(string_split(text, ' ')) < 50 THEN 1
           WHEN len(string_split(text, ' ')) < 100 THEN 2
           WHEN len(string_split(text, ' ')) < 150 THEN 3 ELSE 4 END AS b
    FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
cells AS (SELECT a, b, COUNT(*)::DOUBLE AS n FROM o GROUP BY 1, 2),
cd AS (SELECT
         COALESCE(SUM(CASE WHEN c1.b < c2.b THEN c1.n * c2.n END), 0) AS cc,
         COALESCE(SUM(CASE WHEN c1.b > c2.b THEN c1.n * c2.n END), 0) AS dd
       FROM cells c1 JOIN cells c2 ON c1.a < c2.a),
marg AS (SELECT SUM(n) AS nn, COUNT(*)::BIGINT AS ncells FROM cells),
ta AS (SELECT SUM(na * (na - 1) / 2.0) AS t FROM
        (SELECT SUM(n) AS na FROM cells GROUP BY a)),
tb AS (SELECT SUM(nb * (nb - 1) / 2.0) AS t FROM
        (SELECT SUM(n) AS nb FROM cells GROUP BY b))
SELECT nn::BIGINT AS n, ncells AS n_cells,
       cc::BIGINT AS concordant, dd::BIGINT AS discordant,
       ROUND(CASE WHEN cc + dd > 0 THEN (cc - dd) / (cc + dd) END, 6) AS gamma,
       ROUND(CASE WHEN nn * (nn - 1) / 2.0 - ta.t > 0
             THEN (cc - dd) / (nn * (nn - 1) / 2.0 - ta.t) END, 6)
         AS somers_d_ba,
       ROUND(CASE WHEN (nn * (nn - 1) / 2.0 - ta.t)
                       * (nn * (nn - 1) / 2.0 - tb.t) > 0
             THEN (cc - dd) / sqrt((nn * (nn - 1) / 2.0 - ta.t)
                                   * (nn * (nn - 1) / 2.0 - tb.t)) END, 6)
         AS tau_b
FROM cd CROSS JOIN marg CROSS JOIN ta CROSS JOIN tb;""",
)
def x347(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        ordinal_association,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    nt = F.size(F.split(F.col("text"), " "))
    coded = docs.select(
        F.when(F.col("n_chars") < 200, 1)
        .when(F.col("n_chars") < 400, 2)
        .when(F.col("n_chars") < 600, 3)
        .otherwise(4)
        .alias("la"),
        F.when(nt < 50, 1).when(nt < 100, 2).when(nt < 150, 3).otherwise(4)
        .alias("tb"),
    )
    return ordinal_association(coded, "la", "tb")


@_declare(
    "X348_km_greenwood",
    # Kaplan-Meier with the Greenwood variance band (timeseries.
    # kaplan_meier_ci, Greenwood 1926) on X197's time-to-first-error
    # cohort: same two prefix passes, one extra summed column carries
    # Var S = S^2 * sum d/(n(n-d)); plain band clamped to [0,1], NULL
    # once the curve hits exact 0.
    """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                 min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
subj AS (SELECT
    CASE WHEN te IS NOT NULL AND te - f <= 48 * 3600e6
         THEN floor((te - f) / 3600e6) ELSE 48 END::DOUBLE AS t,
    (te IS NOT NULL AND te - f <= 48 * 3600e6)::INT AS ev
  FROM u),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM subj),
per AS (SELECT t, SUM(ev)::BIGINT AS d, COUNT(*)::BIGINT AS c FROM subj GROUP BY 1),
cum AS (SELECT *, SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM per),
r AS (SELECT t, d, (n - (cc - c))::BIGINT AS nr FROM cum, tot),
f2 AS (SELECT t, d, nr,
              CASE WHEN d < nr THEN ln(1 - d::DOUBLE / nr) ELSE 0 END AS lnf,
              CASE WHEN d < nr THEN d::DOUBLE / (nr * (nr - d)::DOUBLE)
                   ELSE 0 END AS gw,
              (d >= nr)::INT AS z
       FROM r),
s AS (SELECT t, d, nr, SUM(lnf) OVER w AS lncum, SUM(gw) OVER w AS gwcum,
             SUM(z) OVER w AS zcum
      FROM f2
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT t AS duration, nr AS n_risk, d AS d_events,
       ROUND(CASE WHEN zcum > 0 THEN 0.0 ELSE exp(lncum) END, 6) AS survival,
       ROUND(CASE WHEN zcum = 0
             THEN exp(lncum) * sqrt(gwcum) END, 6) AS se,
       ROUND(CASE WHEN zcum = 0 THEN greatest(
             exp(lncum) - 1.959964 * exp(lncum) * sqrt(gwcum), 0.0) END, 6)
         AS lo,
       ROUND(CASE WHEN zcum = 0 THEN least(
             exp(lncum) + 1.959964 * exp(lncum) * sqrt(gwcum), 1.0) END, 6)
         AS hi
FROM s WHERE d > 0 ORDER BY duration;""",
)
def x348(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import kaplan_meier_ci

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    horizon = 48 * 3600e6
    observed = F.col("te").isNotNull() & (F.col("te") - F.col("f") <= horizon)
    subj = u.select(
        F.when(observed, F.floor((F.col("te") - F.col("f")) / 3600e6))
        .otherwise(F.lit(48))
        .cast("double")
        .alias("t"),
        observed.cast("int").alias("ev"),
    )
    return kaplan_meier_ci(subj, "t", "ev").orderBy("duration")


@_declare(
    "X349_vif",
    # Variance inflation factors for the (quantity, price, discount)
    # design (evalmetrics.vif3): closed-form inverse-correlation
    # diagonal from ONE moments pass — the multicollinearity gate
    # before trusting regression weights.
    """WITH a AS (SELECT corr(l_quantity::DOUBLE, l_extendedprice::DOUBLE) AS r12,
             corr(l_quantity::DOUBLE, l_discount::DOUBLE) AS r13,
             corr(l_extendedprice::DOUBLE, l_discount::DOUBLE) AS r23,
             COUNT(*)::BIGINT AS n
      FROM lineitem WHERE l_quantity IS NOT NULL
        AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
d AS (SELECT *, 1.0 + 2.0 * r12 * r13 * r23 - r12 * r12 - r13 * r13
               - r23 * r23 AS det FROM a)
SELECT n, ROUND(r12, 6) AS r12, ROUND(r13, 6) AS r13, ROUND(r23, 6) AS r23,
       ROUND(CASE WHEN det > 1e-12 THEN (1.0 - r23 * r23) / det END, 6) AS vif1,
       ROUND(CASE WHEN det > 1e-12 THEN (1.0 - r13 * r13) / det END, 6) AS vif2,
       ROUND(CASE WHEN det > 1e-12 THEN (1.0 - r12 * r12) / det END, 6) AS vif3,
       ROUND(det, 6) AS det
FROM d;""",
)
def x349(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import vif3

    li = load_table(spark, sf_dir, "lineitem")
    return vif3(li, "l_quantity", "l_extendedprice", "l_discount")


@_declare(
    "X350_dunning_llr",
    # Top-20 collocations by Dunning's G2 log-likelihood ratio
    # (lm.dunning_llr_collocations, Dunning 1993) — the count-weighted
    # complement to X117's PMI: the bigram/margin relations are
    # train_bigram_lm's hash aggregates, G2 is row arithmetic over the
    # 2x2 each bigram induces, one TakeOrdered(20).
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents
           WHERE text IS NOT NULL),
bg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
              unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
       FROM t),
bi AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c FROM bg GROUP BY 1, 2),
l AS (SELECT w1, SUM(c) AS c1 FROM bi GROUP BY 1),
r AS (SELECT w2, SUM(c) AS c2 FROM bi GROUP BY 1),
nt AS (SELECT SUM(c) AS nn FROM bi),
sc AS (SELECT bi.w1, bi.w2, bi.c,
              2.0 * (
                CASE WHEN bi.c > 0 THEN bi.c * ln(bi.c / (c1 * c2 / nn)) ELSE 0 END
              + CASE WHEN c1 - bi.c > 0 THEN (c1 - bi.c)
                     * ln((c1 - bi.c) / (c1 * (nn - c2) / nn)) ELSE 0 END
              + CASE WHEN c2 - bi.c > 0 THEN (c2 - bi.c)
                     * ln((c2 - bi.c) / ((nn - c1) * c2 / nn)) ELSE 0 END
              + CASE WHEN nn - c1 - c2 + bi.c > 0 THEN (nn - c1 - c2 + bi.c)
                     * ln((nn - c1 - c2 + bi.c)
                          / ((nn - c1) * (nn - c2) / nn)) ELSE 0 END
              ) AS g2
       FROM bi JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN nt)
SELECT w1, w2, c::BIGINT AS c, ROUND(g2, 6) AS g2
FROM sc ORDER BY g2 DESC, w1, w2 LIMIT 20;""",
)
def x350(spark, sf_dir):
    from swivel_spark_prep_spark.operators.lm import dunning_llr_collocations

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    out = dunning_llr_collocations(docs, k=20)
    return out.select("w1", "w2", F.col("c").cast("long").alias("c"), "g2")


@_declare(
    "X351_obf_monitor",
    # O'Brien-Fleming group-sequential monitor (evalmetrics.
    # obrien_fleming_monitor, 1979) on X339's md5-arm accrual: the
    # decaying boundary c*sqrt(K/look) (4.56 early, ~2.04 late at K=5)
    # — conservative-early where Pocock spends alpha evenly; the same
    # prefix machinery re-scored.
    """WITH b AS (
  SELECT ts, event_id,
         (CAST(('0x' || substr(md5('aa' || user_id::VARCHAR), 1, 8)) AS BIGINT)
          % 1000000 < 500000)::INT AS a,
         value::DOUBLE AS x
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
r AS (SELECT a, x, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rk,
             COUNT(*) OVER () AS n FROM b),
lk AS (SELECT CAST(FLOOR((rk - 1)*5/n::DOUBLE) AS BIGINT) AS l, a, x FROM r),
per AS (SELECT l, SUM(a)::DOUBLE AS na, SUM(1 - a)::DOUBLE AS nb,
               SUM(CASE WHEN a = 1 THEN x END) AS sa,
               SUM(CASE WHEN a = 0 THEN x END) AS sb,
               SUM(CASE WHEN a = 1 THEN x*x END) AS qa,
               SUM(CASE WHEN a = 0 THEN x*x END) AS qb
        FROM lk GROUP BY 1),
cum AS (SELECT l, SUM(na) OVER w AS cna, SUM(nb) OVER w AS cnb,
               SUM(sa) OVER w AS csa, SUM(sb) OVER w AS csb,
               SUM(qa) OVER w AS cqa, SUM(qb) OVER w AS cqb
        FROM per WINDOW w AS (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
zc AS (SELECT l, cna, cnb,
              ROUND((csa/cna - csb/cnb)
                / sqrt(((cqa - cna*(csa/cna)*(csa/cna))/(cna - 1))/cna
                       + ((cqb - cnb*(csb/cnb)*(csb/cnb))/(cnb - 1))/cnb), 6) AS z
       FROM cum),
sc AS (SELECT (l + 1)::BIGINT AS look, cna::BIGINT AS n_a, cnb::BIGINT AS n_b,
              z, COALESCE(abs(z) > ROUND(2.04 * sqrt(5.0 / (l + 1)), 6), FALSE)
                AS crossed,
              ROUND(2.04 * sqrt(5.0 / (l + 1)), 6) AS obf_bound
       FROM zc),
fc AS (SELECT MIN(CASE WHEN crossed THEN look END) AS first_crossed_look FROM sc)
SELECT sc.*, fc.first_crossed_look FROM sc CROSS JOIN fc ORDER BY look;""",
)
def x351(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        obrien_fleming_monitor,
    )
    from swivel_spark_prep_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    # persist the narrow armed relation (round 16, guide §5): same
    # pre-exchange divergence as X339. Interleaved A/B: 3.32 -> 2.56 s.
    from swivel_spark_prep_spark.cache import track_persist

    armed = track_persist(ev.select(
        "ts",
        "event_id",
        F.when(
            hash_bucket(F.col("user_id"), 1_000_000, "aa") < 500_000, "a"
        )
        .otherwise("b")
        .alias("arm"),
        "value",
    ))
    return obrien_fleming_monitor(
        armed, "ts", "arm", "value", "a", "b",
        looks=5, c=2.04, tiebreak_col="event_id",
    ).orderBy("look")


@_declare(
    "X352_theils_u",
    # Theil's uncertainty coefficient U(value-bin | event_type)
    # (evalmetrics.theils_u, 1970): the DIRECTIONAL categorical
    # association X160/X161 can't give — what share of the value-bin
    # entropy does the event type remove? One bounded contingency +
    # margin rollups.
    """WITH base AS (SELECT event_type AS a,
             CASE WHEN value < 25 THEN 1 WHEN value < 50 THEN 2
                  WHEN value < 75 THEN 3 ELSE 4 END AS b
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
cells AS (SELECT a, b, COUNT(*)::DOUBLE AS n FROM base GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS nn FROM cells),
na AS (SELECT a, SUM(n) AS na FROM cells GROUP BY 1),
hba AS (SELECT SUM(-(n / nn) * ln(n / na)) AS hba
        FROM cells JOIN na USING (a) CROSS JOIN tot),
hb AS (SELECT SUM(-(nb / nn) * ln(nb / nn)) AS hb, MAX(nn) AS n2
       FROM (SELECT b, SUM(n) AS nb FROM cells GROUP BY 1) CROSS JOIN tot)
SELECT n2::BIGINT AS n, ROUND(hb, 6) AS h_b, ROUND(hba, 6) AS h_b_given_a,
       ROUND(CASE WHEN hb > 0 THEN (hb - hba) / hb END, 6) AS u_b_a
FROM hb CROSS JOIN hba;""",
)
def x352(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import theils_u

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    binned = ev.select(
        F.col("event_type").alias("et"),
        F.when(F.col("value") < 25, 1)
        .when(F.col("value") < 50, 2)
        .when(F.col("value") < 75, 3)
        .otherwise(4)
        .alias("vb"),
    )
    return theils_u(binned, "et", "vb")


@_declare(
    "X353_coherence",
    # Magnitude-squared coherence between the purchase and click
    # hourly streams at the calendar harmonics (timeseries.coherence):
    # do the two streams share a daily rhythm IN PHASE? One
    # conditional-count bucketing aggregate builds both series;
    # bounded literal period fan-out; coherence in [0,1] rounded 6,
    # raw powers rounded 3 (the X342 convention).
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS t,
             SUM((event_type = 'purchase')::INT)::DOUBLE AS cx,
             SUM((event_type = 'click')::INT)::DOUBLE AS cy
      FROM events WHERE ts IS NOT NULL AND event_type IN ('purchase', 'click')
      GROUP BY 1),
m AS (SELECT AVG(cx) AS mx, AVG(cy) AS my, COUNT(*)::DOUBLE AS mm FROM b),
p AS (SELECT unnest([24.0, 12.0, 168.0, 6.0]) AS ph),
e AS (SELECT ph, cx - mx AS dx, cy - my AS dy, mm,
             2 * pi() * t / ph AS theta
      FROM b CROSS JOIN m CROSS JOIN p),
agg AS (SELECT ph, SUM(dx * cos(theta)) AS ax, SUM(dx * sin(theta)) AS bx,
               SUM(dy * cos(theta)) AS ay, SUM(dy * sin(theta)) AS by,
               MAX(mm) AS mm
        FROM e GROUP BY 1)
SELECT ph AS period_hours, mm::BIGINT AS n_buckets,
       ROUND(CASE WHEN (ax*ax + bx*bx) * (ay*ay + by*by) > 0
             THEN ((ax*ay + bx*by)*(ax*ay + bx*by)
                   + (bx*ay - ax*by)*(bx*ay - ax*by))
                  / ((ax*ax + bx*bx) * (ay*ay + by*by)) END, 6) AS coherence,
       ROUND((ax*ax + bx*bx) * 2.0 / mm, 3) AS power_x,
       ROUND((ay*ay + by*by) * 2.0 / mm, 3) AS power_y
FROM agg ORDER BY period_hours;""",
)
def x353(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import coherence

    ev = load_table(spark, sf_dir, "events")
    return coherence(
        ev, "ts", "event_type", "purchase", "click", (24.0, 12.0, 168.0, 6.0)
    )


def _markov_sql(iters: int = 20) -> str:
    """Unrolled power-iteration DuckDB twin for X354 (the X104/X227
    generated-SQL convention): every iteration is one LEFT JOIN +
    grouped sum over the k²-bounded transition relation, MATERIALIZED
    against exponential CTE inlining; absorbing states keep their
    mass via the COALESCE self-loop, exactly as the operator does."""
    s = """WITH b AS (SELECT user_id, event_type, ts, event_id FROM events
       WHERE ts IS NOT NULL AND event_type IS NOT NULL AND user_id IS NOT NULL),
sq AS (SELECT event_type AS cur,
              LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS nxt
       FROM b),
t AS (SELECT cur, nxt, COUNT(*)::DOUBLE AS n FROM sq WHERE nxt IS NOT NULL
      GROUP BY 1, 2),
p AS MATERIALIZED (SELECT cur, nxt,
       n / SUM(n) OVER (PARTITION BY cur) AS p FROM t),
st AS (SELECT DISTINCT s FROM
        (SELECT cur AS s FROM p UNION ALL SELECT nxt FROM p)),
kk AS (SELECT COUNT(*)::DOUBLE AS k FROM st),
pi0 AS MATERIALIZED (SELECT s, 1.0 / k AS pi FROM st CROSS JOIN kk)"""
    prev = "pi0"
    for i in range(1, iters + 1):
        s += f""",
pi{i} AS MATERIALIZED (SELECT COALESCE(p.nxt, q.s) AS s,
        SUM(q.pi * COALESCE(p.p, 1.0)) AS pi
        FROM {prev} q LEFT JOIN p ON q.s = p.cur GROUP BY 1)"""
        prev = f"pi{i}"
    return s + f""",
rowh AS (SELECT cur, SUM(-p * ln(p)) AS h FROM p GROUP BY 1),
o AS (SELECT q.s AS state, q.pi AS piv, COALESCE(h, 0.0) AS hrow
      FROM {prev} q LEFT JOIN rowh ON q.s = rowh.cur),
rate AS (SELECT SUM(piv * hrow) AS r FROM o)
SELECT state, ROUND(piv, 6) AS stationary_prob, ROUND(hrow, 6) AS row_entropy,
       ROUND(r, 6) AS entropy_rate
FROM o CROSS JOIN rate ORDER BY state;"""


@_declare(
    "X354_markov_stationary",
    # Stationary behavior mix + entropy rate of the per-user
    # event-type Markov chain (timeseries.markov_stationary, Shannon
    # 1948): transitions from ONE per-key lag window + hash aggregate;
    # the 20 power-iteration rounds run driver-side on the collected
    # k²-bounded transition table (the X104 raking convention); the
    # oracle unrolls the identical iterations (_markov_sql).
    _markov_sql(),
)
def x354(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import markov_stationary

    ev = load_table(spark, sf_dir, "events")
    return markov_stationary(
        ev, "user_id", "ts", "event_type", iters=20, tiebreak_col="event_id"
    )


@_declare(
    "X355_head_token_profiles",
    # Pairwise source similarity over top-30 head-token usage profiles
    # (textstats.head_token_profile_similarity; the Mosteller-Wallace
    # function-word fingerprint): TakeOrdered(30) head vocabulary,
    # per-source distribution over exactly those tokens, cosine per
    # source pair — the pair join is (sources x 30)-bounded, keyed on
    # token (allowlisted), never rows².
    """WITH toks AS (SELECT source AS src, unnest(string_split(text, ' ')) AS w
       FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
head AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1)
         ORDER BY c DESC, w LIMIT 30),
prof0 AS (SELECT src, toks.w, COUNT(*)::DOUBLE AS n
          FROM toks JOIN head USING (w) GROUP BY 1, 2),
prof AS (SELECT src, w, n / SUM(n) OVER (PARTITION BY src) AS p FROM prof0),
nrm AS (SELECT src, sqrt(SUM(p * p)) AS nrm FROM prof GROUP BY 1),
dots AS (SELECT a.src AS sa, b.src AS sb, SUM(a.p * b.p) AS dot
         FROM prof a JOIN prof b USING (w)
         WHERE a.src < b.src GROUP BY 1, 2)
SELECT sa AS source_a, sb AS source_b,
       ROUND(CASE WHEN na.nrm * nb.nrm > 0
             THEN dot / (na.nrm * nb.nrm) END, 6) AS cosine
FROM dots JOIN nrm na ON na.src = sa JOIN nrm nb ON nb.src = sb
ORDER BY source_a, source_b;""",
)
def x355(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        head_token_profile_similarity,
    )

    docs = load_table(spark, sf_dir, "documents")
    return head_token_profile_similarity(docs, k=30)


@_declare(
    "X356_shard_skew",
    # Partition-key load-balance audit for hashing orders by customer
    # into 32 shards (quality.shard_skew_audit): a shuffle's wall is
    # its max shard, so imbalance = max/mean IS the straggler factor.
    # One md5-bucket aggregate + a 1-row rollup; empty shards enter
    # through the n_shards denominator.
    """WITH l AS (SELECT CAST(('0x' || substr(md5('sk' || o_custkey::VARCHAR), 1, 8))
                    AS BIGINT) % 32 AS b, COUNT(*)::DOUBLE AS l
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
a AS (SELECT COUNT(*)::BIGINT AS used, SUM(l) AS nr, MAX(l) AS mx,
             SUM(l * l) AS sq FROM l)
SELECT 32::BIGINT AS n_shards, used AS used_shards, nr::BIGINT AS n_rows,
       mx::BIGINT AS max_load, ROUND(nr / 32.0, 6) AS mean_load,
       ROUND(CASE WHEN nr > 0 THEN mx / (nr / 32.0) END, 6) AS imbalance,
       ROUND(CASE WHEN nr > 0 THEN
             sqrt(greatest(sq / 32.0 - (nr / 32.0) * (nr / 32.0), 0.0))
             / (nr / 32.0) END, 6) AS cv
FROM a;""",
)
def x356(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import shard_skew_audit

    orders = load_table(spark, sf_dir, "orders")
    return shard_skew_audit(orders, "o_custkey", n_shards=32, salt="sk")


@_declare(
    "X357_join_fanout",
    # Join fan-out audit for orders ⋈ lineitem on the order key
    # (quality.join_fanout_audit): per-left-key match counts, exact
    # fan-out percentiles, match rate, and the exact output-row count
    # — the "will this join explode" read from the KEY relations, one
    # grouped count per side + one keyed join of distinct keys.
    """WITH lk AS (SELECT o_orderkey AS k, COUNT(*)::DOUBLE AS nl FROM orders
           WHERE o_orderkey IS NOT NULL GROUP BY 1),
rk AS (SELECT l_orderkey AS k, COUNT(*)::DOUBLE AS nr FROM lineitem
       WHERE l_orderkey IS NOT NULL GROUP BY 1),
j AS (SELECT nl, COALESCE(nr, 0) AS fo FROM lk LEFT JOIN rk USING (k))
SELECT COUNT(*)::BIGINT AS n_left_keys,
       SUM((fo > 0)::INT)::BIGINT AS matched_keys,
       ROUND(AVG((fo > 0)::INT::DOUBLE), 6) AS match_rate,
       SUM(nl * fo)::BIGINT AS output_rows, ROUND(AVG(fo), 6) AS fo_mean,
       quantile_cont(fo, 0.5) AS fo_p50, quantile_cont(fo, 0.9) AS fo_p90,
       quantile_cont(fo, 0.99) AS fo_p99, MAX(fo)::BIGINT AS fo_max
FROM j;""",
)
def x357(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import join_fanout_audit

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return join_fanout_audit(orders, li, "o_orderkey", "l_orderkey")


@_declare(
    "X358_cuzick_trend",
    # Cuzick's trend test across ordered time-of-day buckets
    # (evalmetrics.cuzick_trend, 1985): does event value RISE with the
    # 6-hour bucket score — the dose-response read Kruskal-Wallis
    # (X217) can't give. One midrank prefix pass + 1-row arithmetic;
    # classical no-tie-correction variance, replayed verbatim.
    """WITH b AS (SELECT (EXTRACT(hour FROM ts) // 6)::DOUBLE AS s,
             value::DOUBLE AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
r AS (SELECT s, x, RANK() OVER (ORDER BY x) - 1
             + (COUNT(*) OVER (PARTITION BY x) + 1)/2.0 AS rk FROM b),
st AS (SELECT COUNT(*)::DOUBLE AS nn, SUM(s * rk) AS l FROM r),
per AS (SELECT s, COUNT(*)::DOUBLE AS n FROM b GROUP BY 1),
marg AS (SELECT COUNT(*)::BIGINT AS k, SUM(n * s) AS ns,
                SUM(n * s * s) AS ns2 FROM per)
SELECT nn::BIGINT AS n, k, ROUND(l, 6) AS l_stat,
       ROUND((nn + 1) / 2.0 * ns, 6) AS e_l,
       ROUND(CASE WHEN (nn + 1) / 12.0 * (nn * ns2 - ns * ns) > 0
             THEN (l - (nn + 1) / 2.0 * ns)
                  / sqrt((nn + 1) / 12.0 * (nn * ns2 - ns * ns)) END, 6) AS z
FROM st CROSS JOIN marg;""",
)
def x358(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cuzick_trend

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    scored = ev.select(
        F.floor(F.hour("ts") / 6).cast("double").alias("tod"),
        "value",
    )
    return cuzick_trend(scored, "value", "tod")


@_declare(
    "X359_winsorized_stats",
    # Per-event-type winsorized moments at p=0.05 (evalmetrics.
    # winsorized_stats): clamp instead of trim — n is preserved, the
    # tails stop dominating the mean/sd. One grouped exact-percentile
    # aggregate (broadcast) + one clamped moments pass.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS x FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
caps AS (SELECT g, quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
         FROM b GROUP BY 1),
w AS (SELECT b.g, lo, hi, LEAST(GREATEST(x, lo), hi) AS wv
      FROM b JOIN caps USING (g))
SELECT g AS "group", COUNT(*)::BIGINT AS n, ROUND(MAX(lo), 6) AS lo_cap,
       ROUND(MAX(hi), 6) AS hi_cap, ROUND(AVG(wv), 6) AS win_mean,
       ROUND(stddev_samp(wv), 6) AS win_std
FROM w GROUP BY g ORDER BY "group";""",
)
def x359(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import winsorized_stats

    ev = load_table(spark, sf_dir, "events")
    return winsorized_stats(ev, "value", "event_type", p=0.05)


@_declare(
    "X360_grubbs",
    # Grubbs' maximum-normed-residual outlier screen over event values
    # (evalmetrics.grubbs_test, 1950): G = max|x - mean|/sd plus the
    # suspect value — one moments broadcast + one min_by scan, no sort.
    """WITH b AS (SELECT value::DOUBLE AS x FROM events WHERE value IS NOT NULL),
m AS (SELECT COUNT(*)::DOUBLE AS n, AVG(x) AS mu, stddev_samp(x) AS s FROM b),
d AS (SELECT x, n, mu, s, ABS(x - mu) AS dev FROM b CROSS JOIN m),
mx AS (SELECT MAX(dev) AS dmax FROM d)
SELECT MAX(n)::BIGINT AS n, ROUND(MAX(mu), 6) AS mean, ROUND(MAX(s), 6) AS std,
       ROUND(CASE WHEN MAX(s) > 0 THEN MAX(dev) / MAX(s) END, 6) AS g_stat,
       ROUND(MIN(CASE WHEN dev = dmax THEN x END), 6) AS suspect_value
FROM d CROSS JOIN mx;""",
)
def x360(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import grubbs_test

    ev = load_table(spark, sf_dir, "events")
    return grubbs_test(ev, "value")


@_declare(
    "X361_fdr_by",
    # Benjamini-Yekutieli FDR under arbitrary dependence over the SAME
    # per-language KS drift p-values Holm adjusts in X302 (quality.
    # fdr_by, 2001): the harmonic-number price for dependent tests —
    # identical prefix-count plan to fdr_bh, H_m from the single
    # collected test count (one scalar, control-plane).
    """WITH g AS (SELECT lang, n_chars AS v,
                 (source = 'src0')::INT AS a, (source = 'src1')::INT AS b
          FROM documents
          WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            AND source IN ('src0', 'src1')),
c AS (SELECT lang, v, SUM(a) AS ca, SUM(b) AS cb FROM g GROUP BY 1, 2),
cu AS (SELECT lang,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cca,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS ccb
       FROM c),
t AS (SELECT lang, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM c GROUP BY 1),
ks AS (SELECT lang,
              MAX(CASE WHEN na > 0 AND nb > 0 THEN ABS(cca / na - ccb / nb) END)
              * SQRT(na * nb / (na + nb)) AS k
       FROM cu JOIN t USING (lang) GROUP BY lang, na, nb),
p AS (SELECT lang, k, LEAST(1.0, 2 * exp(-2 * k * k)) AS pv FROM ks),
m AS (SELECT COUNT(pv)::BIGINT AS m FROM p),
h AS (SELECT SUM(u) AS hm FROM (SELECT unnest(list_transform(
        range(1, (SELECT m FROM m) + 1), x -> 1.0 / x)) AS u)),
dp AS (SELECT pv AS pd, COUNT(*)::DOUBLE AS t FROM p WHERE pv IS NOT NULL
       GROUP BY 1),
cn AS (SELECT pd, SUM(t) OVER (ORDER BY pd
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM dp),
cut AS (SELECT MAX(pd) AS cut FROM cn CROSS JOIN m CROSS JOIN h
        WHERE pd <= c * 0.05 / (m.m * h.hm))
SELECT lang, ROUND(k, 4) AS ks_stat, ROUND(pv, 6) AS p,
       m.m AS m_tests, ROUND(h.hm, 6) AS h_m, cut.cut AS p_cutoff,
       COALESCE(pv <= cut.cut, FALSE) AS rejected
FROM p CROSS JOIN m CROSS JOIN h CROSS JOIN cut ORDER BY lang;""",
)
def x361(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import fdr_by, ks_test

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    ks = ks_test(docs, "n_chars", "source", "src0", "src1", slice_col="lang")
    withp = ks.select(
        "lang",
        F.col("ks_stat").alias("k"),
        F.least(
            F.lit(1.0), 2 * F.exp(-2 * F.col("ks_stat") * F.col("ks_stat"))
        ).alias("pv"),
    )
    return (
        fdr_by(withp, "pv", q=0.05)
        .select(
            "lang",
            F.round("k", 4).alias("ks_stat"),
            F.round("pv", 6).alias("p"),
            "m_tests",
            "h_m",
            "p_cutoff",
            "rejected",
        )
        .orderBy("lang")
    )


def _ad_ksample_sql(groups=("click", "error", "purchase", "signup", "view")) -> str:
    """Generated DuckDB twin for X362 (Scholz–Stephens k-sample AD):
    the distinct-value window replay of A²ₐₖₙ plus the paper's exact
    variance — harmonic prefix over range(N) and the O(N) identity
    g = Σⱼ (H_{N−1} − H_{N−j})/j as a self-join on the harmonic
    relation. k conditional-count columns are generated per group."""
    k = len(groups)
    fcols = ", ".join(
        f"SUM((g = '{g}')::INT)::DOUBLE AS f{i}" for i, g in enumerate(groups)
    )
    cumcols = ", ".join(
        f"SUM(f{i}) OVER w AS cf{i}" for i in range(k)
    )
    ncols = ", ".join(f"SUM(f{i}) AS n{i}" for i in range(k))
    sterms = ", ".join(
        f"""SUM(CASE WHEN (cl - l/2)*(N - (cl - l/2)) - N*l/4 > 0
        THEN (l/N)*pow(N*(cf{i} - f{i}/2) - n{i}*(cl - l/2), 2)
             / ((cl - l/2)*(N - (cl - l/2)) - N*l/4) ELSE 0 END) AS s{i}"""
        for i in range(k)
    )
    a2sum = " + ".join(f"s{i}/n{i}" for i in range(k))
    hcap = " + ".join(f"1.0/n{i}" for i in range(k))
    return f"""WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l, {fcols} FROM b GROUP BY 1),
cum AS (SELECT *, SUM(l) OVER w AS cl, {cumcols} FROM cells
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (SELECT SUM(l) AS N, {ncols} FROM cells),
s AS (SELECT {sterms} FROM cum CROSS JOIN tot),
a2 AS (SELECT (N - 1)/N*({a2sum}) AS a2, ({hcap}) AS hcap
       FROM s CROSS JOIN tot),
har AS (SELECT i, SUM(1.0/i) OVER (ORDER BY i) AS H
        FROM (SELECT unnest(range(1, (SELECT N::BIGINT FROM tot) + 1)) AS i)),
hn AS (SELECT H AS h FROM har WHERE i = (SELECT N::BIGINT FROM tot) - 1),
gg AS (SELECT SUM((hn.h - h2.H)/j.i) AS g
       FROM har j JOIN har h2 ON h2.i = (SELECT N::BIGINT FROM tot) - j.i
       CROSS JOIN hn
       WHERE j.i BETWEEN 2 AND (SELECT N::BIGINT FROM tot) - 1),
vv AS (SELECT
  (((4*g - 6)*({k} - 1) + (10 - 6*g)*hcap) * N*N*N
   + ((2*g - 4)*{k}*{k} + 8*h*{k} + (2*g - 14*h - 4)*hcap - 8*h + 4*g - 6) * N*N
   + ((6*h + 2*g - 2)*{k}*{k} + (4*h - 4*g + 6)*{k} + (2*h - 6)*hcap + 4*h) * N
   + ((2*h + 6)*{k}*{k} - 4*h*{k}))
  / ((N - 1)*(N - 2)*(N - 3)) AS var
  FROM a2 CROSS JOIN hn CROSS JOIN gg CROSS JOIN tot)
SELECT {k}::BIGINT AS k, N::BIGINT AS n, ROUND(a2, 6) AS a2,
       ROUND(CASE WHEN var > 0 THEN sqrt(var) END, 6) AS sigma,
       ROUND(CASE WHEN var > 0 THEN (a2 - ({k} - 1))/sqrt(var) END, 6)
         AS t_stat
FROM a2 CROSS JOIN vv CROSS JOIN tot;"""


@_declare(
    "X362_ad_ksample",
    # k-sample Anderson-Darling over event values by type (evalmetrics.
    # ad_ksample; Scholz-Stephens 1987 tie-adjusted A2akN + their exact
    # variance): the tail-weighted k-sample comparison that sees mixture
    # shifts KS dilutes. One distinct-value aggregate carrying k
    # conditional-count COLUMNS, one range-partitioned prefix pass,
    # sigma/T from O(1)-driver harmonic scalars (exact running sums
    # below N=1e4, one distributed range aggregate above).
    _ad_ksample_sql(),
)
def x362(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import ad_ksample

    ev = load_table(spark, sf_dir, "events")
    return ad_ksample(ev, "value", "event_type")


@_declare(
    "X363_haar_energy",
    # Haar detail energy by dyadic scale over the hourly event stream
    # (timeseries.haar_energy): at WHAT timescale is the stream bursty
    # — the scale-localized complement of X342's named-period
    # periodogram. One bucketing aggregate + a bounded level explode;
    # observed-buckets convention replayed.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS t,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
e AS (SELECT t, c, unnest([1, 2, 3, 4, 5, 6]) AS s FROM b),
blocks AS (SELECT s, CAST(FLOOR(t / pow(2.0, s)) AS BIGINT) AS p,
           SUM((CASE WHEN ((CAST(FLOOR(t / pow(2.0, s - 1)) AS BIGINT)
                            % 2) + 2) % 2 = 1
                THEN 1.0 ELSE -1.0 END) * c) AS d
           FROM e GROUP BY 1, 2),
lv AS (SELECT s, COUNT(*)::BIGINT AS nb, SUM(d * d) AS e2 FROM blocks GROUP BY 1),
tot AS (SELECT SUM(e2 / pow(2.0, s)) AS tot FROM lv)
SELECT s::BIGINT AS level, CAST(pow(2.0, s) AS BIGINT) AS block_hours,
       nb AS n_blocks, ROUND(e2 / pow(2.0, s), 3) AS energy,
       ROUND(CASE WHEN tot > 0 THEN e2 / pow(2.0, s) / tot END, 6)
         AS energy_share
FROM lv CROSS JOIN tot ORDER BY level;""",
)
def x363(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import haar_energy

    ev = load_table(spark, sf_dir, "events")
    return haar_energy(ev, "ts", levels=6)


@_declare(
    "X364_mcf_recurrent",
    # Mean cumulative function for recurrent events per user by day
    # (timeseries.mcf_recurrent, Nelson's reliability MCF): expected
    # cumulative events PER KEY — the recurrent-events read KM throws
    # away. Fixed-window risk set; one bucketing aggregate + distinct
    # keys broadcast + one prefix pass.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bk
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
nk AS (SELECT COUNT(DISTINCT user_id)::DOUBLE AS nk FROM events
       WHERE ts IS NOT NULL AND user_id IS NOT NULL),
per AS (SELECT bk, COUNT(*)::DOUBLE AS d FROM b GROUP BY 1),
cum AS (SELECT bk, d, SUM(d) OVER (ORDER BY bk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd FROM per)
SELECT bk AS bucket, d::BIGINT AS d_events, ROUND(cd / nk, 6) AS mcf,
       ROUND(sqrt(cd) / nk, 6) AS se
FROM cum CROSS JOIN nk ORDER BY bucket;""",
)
def x364(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import mcf_recurrent

    ev = load_table(spark, sf_dir, "events")
    return mcf_recurrent(ev, "user_id", "ts")


@_declare(
    "X365_chow_sweep",
    # Chow break-point sweep (Quandt sup-F over a bounded fraction
    # grid; linear.chow_sweep): WHERE does the value-vs-time trend
    # regime change — X307 tests the midpoint, this scans 7 candidates
    # in one conditional-moments aggregate (bounded literal explode)
    # and flags the argmax.
    """WITH b AS (SELECT epoch(ts) AS x, value::DOUBLE AS y, epoch(ts) AS t
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
rng AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM b),
e AS (SELECT x, y, t, lo + f * (hi - lo) AS cut, f
      FROM b CROSS JOIN rng
      CROSS JOIN (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS f)),
agg AS (SELECT f,
  SUM(1.0) AS np, SUM(x) AS sxp, SUM(y) AS syp, SUM(x*x) AS xxp,
  SUM(x*y) AS xyp, SUM(y*y) AS yyp,
  SUM((t <= cut)::INT::DOUBLE) AS n1,
  SUM(CASE WHEN t <= cut THEN x END) AS sx1,
  SUM(CASE WHEN t <= cut THEN y END) AS sy1,
  SUM(CASE WHEN t <= cut THEN x*x END) AS xx1,
  SUM(CASE WHEN t <= cut THEN x*y END) AS xy1,
  SUM(CASE WHEN t <= cut THEN y*y END) AS yy1,
  SUM((t > cut)::INT::DOUBLE) AS n2,
  SUM(CASE WHEN t > cut THEN x END) AS sx2,
  SUM(CASE WHEN t > cut THEN y END) AS sy2,
  SUM(CASE WHEN t > cut THEN x*x END) AS xx2,
  SUM(CASE WHEN t > cut THEN x*y END) AS xy2,
  SUM(CASE WHEN t > cut THEN y*y END) AS yy2
  FROM e GROUP BY 1),
sc AS (SELECT ROUND(f, 6) AS frac, n1::BIGINT AS n_1, n2::BIGINT AS n_2,
  ROUND(CASE WHEN n1 >= 3 AND n2 >= 3 THEN
    (((yyp - syp*syp/np) - (xyp - sxp*syp/np)*(xyp - sxp*syp/np)
        / NULLIF(xxp - sxp*sxp/np, 0)
      - ((yy1 - sy1*sy1/n1) - (xy1 - sx1*sy1/n1)*(xy1 - sx1*sy1/n1)
          / NULLIF(xx1 - sx1*sx1/n1, 0))
      - ((yy2 - sy2*sy2/n2) - (xy2 - sx2*sy2/n2)*(xy2 - sx2*sy2/n2)
          / NULLIF(xx2 - sx2*sx2/n2, 0))) / 2)
    / (NULLIF(((yy1 - sy1*sy1/n1) - (xy1 - sx1*sy1/n1)*(xy1 - sx1*sy1/n1)
          / NULLIF(xx1 - sx1*sx1/n1, 0))
      + ((yy2 - sy2*sy2/n2) - (xy2 - sx2*sy2/n2)*(xy2 - sx2*sy2/n2)
          / NULLIF(xx2 - sx2*sx2/n2, 0)), 0) / (np - 4)) END, 6) AS f_stat
  FROM agg),
best AS (SELECT MIN(frac) AS best_frac FROM sc
         WHERE COALESCE(f_stat, -1.0) =
               (SELECT MAX(COALESCE(f_stat, -1.0)) FROM sc))
SELECT sc.*, best.best_frac FROM sc CROSS JOIN best ORDER BY frac;""",
)
def x365(spark, sf_dir):
    from swivel_spark_prep_spark.operators.linear import chow_sweep

    ev = load_table(spark, sf_dir, "events")
    return chow_sweep(ev, "ts", "value", "ts")


def _jt_sql(groups=("click", "error", "purchase", "signup", "view")) -> str:
    """Generated DuckDB twin for X366 (Jonckheere-Terpstra): the same
    distinct-value/exclusive-prefix replay as _ad_ksample_sql, with the
    k(k-1)/2 pairwise U terms and the tie-polynomial sums generated
    from the group tuple. Every U term is a sum of integer x half-
    integer products < 2^53, so both engines compute jt/mean EXACTLY
    (no float-order noise despite the ~1e9 magnitudes); the var/z
    expressions mirror the Spark operator's evaluation order so the
    single IEEE divisions round identically."""
    k = len(groups)
    fcols = ", ".join(
        f"SUM((g = '{gv}')::INT)::DOUBLE AS f{i}" for i, gv in enumerate(groups)
    )
    cumcols = ", ".join(
        f"COALESCE(SUM(f{i}) OVER w, 0) AS c{i}" for i in range(k)
    )
    uterms = ", ".join(
        f"SUM(f{b} * (c{a} + f{a} / 2)) AS u{a}_{b}"
        for a in range(k)
        for b in range(a + 1, k)
    )
    nsums = ", ".join(f"SUM(f{i}) AS n{i}" for i in range(k))
    ntot = " + ".join(f"n{i}" for i in range(k))
    jtsum = " + ".join(
        f"u{a}_{b}" for a in range(k) for b in range(a + 1, k)
    )
    nsq = " + ".join(f"n{i} * n{i}" for i in range(k))
    gp1 = " + ".join(f"n{i} * (n{i} - 1) * (2 * n{i} + 5)" for i in range(k))
    gp2 = " + ".join(f"n{i} * (n{i} - 1) * (n{i} - 2)" for i in range(k))
    gp3 = " + ".join(f"n{i} * (n{i} - 1)" for i in range(k))
    return f"""WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l, {fcols} FROM b GROUP BY 1),
cum AS (SELECT *, {cumcols} FROM cells
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
s AS (SELECT {nsums},
             SUM(l * (l - 1) * (2 * l + 5)) AS t1,
             SUM(l * (l - 1) * (l - 2)) AS t2,
             SUM(l * (l - 1)) AS t3,
             {uterms}
      FROM cum),
f AS (SELECT ({ntot}) AS N, ({jtsum}) AS jt, ({nsq}) AS nsq,
             ({gp1}) AS gp1, ({gp2}) AS gp2, ({gp3}) AS gp3,
             t1, t2, t3 FROM s),
v AS (SELECT N, jt, (N * N - nsq) / 4 AS mean,
             CASE WHEN N > 2 THEN
               (N * (N - 1) * (2 * N + 5) - gp1 - t1) / 72
               + gp2 * t2 / (36 * N * (N - 1) * (N - 2))
               + gp3 * t3 / (8 * N * (N - 1)) END AS var
      FROM f)
SELECT {k}::BIGINT AS k, N::BIGINT AS n, ROUND(jt, 6) AS jt,
       ROUND(mean, 6) AS mean,
       ROUND(CASE WHEN var > 0 THEN sqrt(var) END, 6) AS sigma,
       ROUND(CASE WHEN var > 0 THEN (jt - mean) / sqrt(var) END, 6) AS z
FROM v;"""


@_declare(
    "X366_jonckheere_terpstra",
    # Jonckheere-Terpstra ordered-alternative k-sample test over event
    # values by type (evalmetrics.jonckheere_terpstra; Terpstra 1952 /
    # Jonckheere 1954, Hollander-Wolfe tie-corrected variance): does
    # the metric TREND along the (lexical) group order - the pairwise-U
    # complement to Cuzick's rank-sum scores (X358). One distinct-value
    # aggregate with k conditional-count columns, one range-partitioned
    # prefix pass, one aggregate for all k(k-1)/2 U terms + tie sums;
    # jt/mean are exact half-integer sums in both engines.
    _jt_sql(),
)
def x366(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        jonckheere_terpstra,
    )

    ev = load_table(spark, sf_dir, "events")
    return jonckheere_terpstra(ev, "value", "event_type")


@_declare(
    "X367_ansari_bradley",
    # Ansari-Bradley rank dispersion test, purchase vs click values
    # (evalmetrics.ansari_bradley; Ansari-Bradley 1960, conditional
    # tie-exact moments per Conover): did the SPREAD move, center
    # aside - the rank-robust companion to Bartlett (X345) on the same
    # two-sample cut as the CvM location screen (X224). Folded midrank
    # scores from one distinct-value aggregate + one prefix pass + one
    # moments aggregate; scores are exact half-integers so the AB sum
    # carries no float-order noise.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'purchase')::INT)::DOUBLE AS fa,
                 SUM((g = 'click')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT fa, fb, l,
              least(cl + (l + 1) / 2, N + 1 - (cl + (l + 1) / 2)) AS s
       FROM cum CROSS JOIN tot),
m AS (SELECT MAX(N) AS n, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(fa * s) AS ab, SUM(l * s) AS ls, SUM(l * s * s) AS ls2
      FROM sc CROSS JOIN tot),
v AS (SELECT n, na, nb, ab, na * ls / n AS mean,
             na * nb * (n * ls2 - ls * ls) / (n * n * NULLIF(n - 1, 0)) AS var
      FROM m)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, ROUND(ab, 6) AS ab_stat,
       ROUND(mean, 6) AS mean,
       ROUND(CASE WHEN var > 0 THEN sqrt(var) END, 6) AS sigma,
       ROUND(CASE WHEN var > 0 THEN (ab - mean) / sqrt(var) END, 6) AS z
FROM v;""",
)
def x367(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import ansari_bradley

    ev = load_table(spark, sf_dir, "events")
    return ansari_bradley(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X368_mmd_quadratic",
    # Quadratic-kernel two-sample MMD between embedding labels 0/1
    # (similarity.mmd_quadratic; Gretton et al. 2012): distribution
    # shift beyond the centroid - for k(x,y)=(x.y)^2 the V-statistic
    # collapses EXACTLY to ||E_A[xx^T] - E_B[xx^T]||_F^2, so the whole
    # test is d^2-cell sufficient statistics (partial-aggregated
    # explode, shuffle = tasks x d^2) - no O(n^2) kernel matrix ever.
    """WITH e AS (SELECT label = 0 AS ga, embedding::DOUBLE[] AS x
      FROM embeddings WHERE embedding IS NOT NULL AND label IN (0, 1)),
n AS (SELECT SUM(ga::INT)::DOUBLE AS na, SUM((NOT ga)::INT)::DOUBLE AS nb,
             MAX(len(x)) AS d FROM e),
idx AS (SELECT unnest(range(1, (SELECT d FROM n)::BIGINT + 1)) AS i),
p AS (SELECT ga, (i.i - 1) * (SELECT d FROM n)::BIGINT + (j.i - 1) AS cell,
             x[i.i] * x[j.i] AS v
      FROM e CROSS JOIN idx i CROSS JOIN idx j),
c AS (SELECT cell, SUM(CASE WHEN ga THEN v END) AS sa,
             SUM(CASE WHEN NOT ga THEN v END) AS sb
      FROM p GROUP BY 1)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, d::INT AS d,
       ROUND(CASE WHEN na > 0 AND nb > 0
             THEN SUM((sa / na - sb / nb) * (sa / na - sb / nb)) END, 6) AS mmd2
FROM c CROSS JOIN n GROUP BY na, nb, d;""",
)
def x368(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import mmd_quadratic

    emb = load_table(spark, sf_dir, "embeddings")
    return mmd_quadratic(emb, "embedding", "label", 0, 1)


@_declare(
    "X369_cka_quantization",
    # Linear CKA between the embeddings and their int8-dequantized
    # selves (similarity.cka_quantization_audit; Kornblith et al.
    # 2019): how much representational STRUCTURE quantization keeps -
    # scale-insensitive where X50's error units are not. Same d^2-cell
    # sufficient-statistics pass as X368 + a d-row mean relation
    # broadcast into the centered Frobenius sums; the int8 arithmetic
    # is X50's bit-exact floor convention on both engines.
    """WITH e0 AS (SELECT embedding::DOUBLE[] AS x,
             list_max(list_transform(embedding, u -> abs(u::DOUBLE))) / 127.0 AS scale
      FROM embeddings WHERE embedding IS NOT NULL),
e AS (SELECT x, list_transform(x, u ->
           CASE WHEN scale = 0 THEN 0.0
                ELSE floor(u / scale + 0.5) * scale END) AS y FROM e0),
n AS (SELECT COUNT(*)::DOUBLE AS n, MAX(len(x)) AS d FROM e),
idx AS (SELECT unnest(range(1, (SELECT d FROM n)::BIGINT + 1)) AS i),
m AS (SELECT i.i AS k, SUM(x[i.i]) AS sx, SUM(y[i.i]) AS sy
      FROM e CROSS JOIN idx i GROUP BY 1),
p AS (SELECT i.i AS ki, j.i AS kj,
             SUM(x[i.i] * x[j.i]) AS sxx, SUM(y[i.i] * y[j.i]) AS syy,
             SUM(x[i.i] * y[j.i]) AS sxy
      FROM e CROSS JOIN idx i CROSS JOIN idx j GROUP BY 1, 2),
cc AS (SELECT sxx / n - (mi.sx / n) * (mj.sx / n) AS cxx,
              syy / n - (mi.sy / n) * (mj.sy / n) AS cyy,
              sxy / n - (mi.sx / n) * (mj.sy / n) AS cxy
       FROM p JOIN m mi ON mi.k = p.ki JOIN m mj ON mj.k = p.kj CROSS JOIN n),
f AS (SELECT SUM(cxy * cxy) AS fxy, SUM(cxx * cxx) AS fxx,
             SUM(cyy * cyy) AS fyy FROM cc)
SELECT n::BIGINT AS n, d::INT AS d,
       ROUND(CASE WHEN sqrt(fxx) * sqrt(fyy) > 0
             THEN fxy / (sqrt(fxx) * sqrt(fyy)) END, 6) AS cka
FROM f CROSS JOIN n;""",
)
def x369(spark, sf_dir):
    from swivel_spark_prep_spark.operators.similarity import (
        cka_quantization_audit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # method="pandas" (round-16, guide §4.2): the BLAS-partials
    # sufficient-statistics path — one (1+2d+3d²)-double row per Arrow
    # batch instead of the n·d² exploded-cell pass whose JVM generate
    # constant dominated this query's wall (equality with the explode
    # path is pinned at both SFs in test_round16_ops).
    return cka_quantization_audit(emb, "embedding", method="pandas")


@_declare(
    "X370_youden_thresholds",
    # Per-threshold sensitivity/specificity/Youden-J operating-point
    # table for the length->is-en classifier, J-optimal cutoff flagged
    # (evalmetrics.youden_thresholds; Youden 1950): X150 says the score
    # ranks, THIS says where to cut it. binary_auc's distinct-score +
    # prefix plan; argmax over ROUNDED J (the X365 convention).
    """WITH d AS (SELECT n_chars::DOUBLE AS s, (lang = 'en') AS y FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT s, SUM(y::INT)::DOUBLE AS np, SUM((NOT y)::INT)::DOUBLE AS nn
      FROM d GROUP BY 1),
cu AS (SELECT s, np, nn,
       COALESCE(SUM(np) OVER w, 0) AS pb, COALESCE(SUM(nn) OVER w, 0) AS nb
       FROM c WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
t AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM c),
sc AS (SELECT s AS threshold,
       ROUND(CASE WHEN tp > 0 THEN (tp - pb) / tp END, 6) AS sensitivity,
       ROUND(CASE WHEN tn > 0 THEN nb / tn END, 6) AS specificity,
       ROUND((CASE WHEN tp > 0 THEN (tp - pb) / tp END)
             + (CASE WHEN tn > 0 THEN nb / tn END) - 1.0, 6) AS j
       FROM cu CROSS JOIN t),
best AS (SELECT MIN(threshold) AS best_threshold FROM sc
         WHERE j = (SELECT MAX(j) FROM sc))
SELECT sc.*, best.best_threshold FROM sc CROSS JOIN best ORDER BY threshold;""",
)
def x370(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        youden_thresholds,
    )

    docs = load_table(spark, sf_dir, "documents")
    return youden_thresholds(
        docs.select("n_chars", (F.col("lang") == "en").alias("y")),
        "n_chars",
        "y",
    )


@_declare(
    "X371_lift_gains",
    # Cumulative gains / lift deciles of the length score against
    # is-en (evalmetrics.lift_table): how much of the positives the
    # top-k% capture - the working read of a curation score. Global
    # per-row ranks via the two-pass prefix sum with deterministic
    # (score desc, doc_id) tie-break so both engines bin identically;
    # the cumulative pass is a window over the 10-row bin relation.
    """WITH d AS (SELECT doc_id, n_chars::DOUBLE AS s,
                 (lang = 'en')::INT::DOUBLE AS y
           FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
r AS (SELECT y, ROW_NUMBER() OVER (ORDER BY -s, doc_id) - 1 AS rk FROM d),
t AS (SELECT COUNT(*)::DOUBLE AS tn, SUM(y) AS tp FROM d),
b AS (SELECT CAST(FLOOR(rk * 10 / tn) AS BIGINT) AS bucket, y
      FROM r CROSS JOIN t),
p AS (SELECT bucket, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS positives
      FROM b GROUP BY 1)
SELECT bucket, n, positives,
       ROUND(positives / n::DOUBLE, 6) AS response_rate,
       ROUND(CASE WHEN tp > 0
             THEN (positives / n::DOUBLE) / (tp / tn) END, 6) AS lift,
       ROUND(CASE WHEN tp > 0 THEN SUM(positives) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tp END, 6)
         AS cum_capture
FROM p CROSS JOIN t ORDER BY bucket;""",
)
def x371(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import lift_table

    docs = load_table(spark, sf_dir, "documents")
    return lift_table(
        docs.select(
            "doc_id", "n_chars", (F.col("lang") == "en").alias("y")
        ),
        "n_chars",
        "y",
        "doc_id",
        buckets=10,
    )


@_declare(
    "X372_msprt_monitor",
    # Always-valid mean monitor over the daily event-value stream
    # (timeseries.msprt_monitor; Johari-Koomen-Pekelis-Walsh mixture
    # SPRT): the peeking-safe p-value timeline - read it after every
    # day, no pre-registered look count, the sequential companion to
    # Pocock/OBF (X339/X351). Self-calibrating mu0 = first day's mean,
    # tau^2 = sigma^2 collapses the log-LR to
    # -ln(1+n)/2 + n^2(xbar-mu0)^2/(2 sigma^2 (1+n)).
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bk,
             value::DOUBLE AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
bu AS (SELECT bk, COUNT(*)::DOUBLE AS n, SUM(x) AS sx FROM b GROUP BY 1),
cu AS (SELECT bk, SUM(n) OVER w AS cn, SUM(sx) OVER w AS csx FROM bu
       WINDOW w AS (ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (SELECT AVG(x) AS mu, SUM(x * x) / COUNT(*) - AVG(x) * AVG(x) AS s2 FROM b),
f AS (SELECT sx / n AS mu0 FROM bu WHERE bk = (SELECT MIN(bk) FROM bu)),
ll AS (SELECT bk, cn, csx / cn AS xbar,
       CASE WHEN s2 > 0 THEN -0.5 * ln(1.0 + cn)
            + cn * cn * (csx / cn - mu0) * (csx / cn - mu0)
              / (2.0 * s2 * (1.0 + cn)) END AS l
       FROM cu CROSS JOIN m CROSS JOIN f)
SELECT bk AS bucket, cn::BIGINT AS n_cum, ROUND(xbar, 6) AS mean_cum,
       ROUND(l, 6) AS log_lambda,
       ROUND(LEAST(1.0, exp(-MAX(l) OVER (ORDER BY bk
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6)
         AS p_always_valid
FROM ll ORDER BY bucket;""",
)
def x372(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import msprt_monitor

    ev = load_table(spark, sf_dir, "events")
    return msprt_monitor(ev, "ts", "value")


@_declare(
    "X373_gwet_ac1",
    # Gwet's AC1 over X309's four rule raters (evalmetrics.gwet_ac1;
    # Gwet 2008): the prevalence-robust agreement coefficient - kappa
    # and alpha collapse toward 0 on skewed-label corpora even at 97%
    # raw agreement (the kappa paradox); AC1 does not. Same varying-
    # raters coincidence machinery as Krippendorff (X309).
    """WITH r AS (
  SELECT doc_id, CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END AS c
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% and %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% of %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, CASE WHEN text LIKE '% in %' THEN 'en' ELSE 'other' END
  FROM documents WHERE text IS NOT NULL AND n_chars > 300),
cells AS (SELECT doc_id, c, COUNT(*)::DOUBLE AS n FROM r GROUP BY 1, 2),
pi AS (SELECT doc_id, SUM(n) AS m, SUM(n * (n - 1)) AS pairs FROM cells
       GROUP BY 1 HAVING SUM(n) >= 2),
pa AS (SELECT COUNT(*)::DOUBLE AS items, AVG(pairs / (m * (m - 1))) AS pa
       FROM pi),
sh AS (SELECT c, SUM(n / m) AS sh FROM cells JOIN pi USING (doc_id)
       GROUP BY c),
pe AS (SELECT COUNT(*)::DOUBLE AS q,
              SUM((sh / items) * (1.0 - sh / items)) AS spi
       FROM sh CROSS JOIN pa)
SELECT items::BIGINT AS n_items, q::BIGINT AS q, ROUND(pa, 6) AS p_a,
       ROUND(CASE WHEN q > 1 THEN spi / (q - 1) END, 6) AS p_e,
       ROUND(CASE WHEN q > 1 AND spi / (q - 1) < 1
             THEN (pa - spi / (q - 1)) / (1.0 - spi / (q - 1)) END, 6) AS ac1
FROM pa CROSS JOIN pe;""",
)
def x373(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import gwet_ac1

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )

    def rater(pat):
        return F.when(F.col("text").like(f"% {pat} %"), "en").otherwise(
            "other"
        )

    ratings = (
        docs.select("doc_id", rater("the").alias("c"))
        .unionAll(docs.select("doc_id", rater("and").alias("c")))
        .unionAll(docs.select("doc_id", rater("of").alias("c")))
        .unionAll(
            docs.filter(F.col("n_chars") > 300).select(
                "doc_id", rater("in").alias("c")
            )
        )
    )
    return gwet_ac1(ratings, "doc_id", "c")


@_declare(
    "X374_rate_runs_test",
    # Wald-Wolfowitz runs test on daily event RATES vs their median
    # (timeseries.rate_runs_test; Wald-Wolfowitz 1940) - the bucketed-
    # rate companion to X315's per-group VALUE runs test: is the
    # above/below
    # pattern exchangeable at all - clumping (backfills, regimes) or
    # alternation (overcorrection), the question CUSUM's level-shift
    # lens misses. Median-tied days dropped (standard dichotomization);
    # one bucketing aggregate + bounded-relation percentile + lag.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bk,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
md AS (SELECT quantile_cont(c, 0.5) AS med FROM b),
s AS (SELECT bk, c > med AS s FROM b CROSS JOIN md WHERE c <> med),
fl AS (SELECT s, CASE WHEN LAG(s) OVER (ORDER BY bk) IS NOT NULL
                        AND LAG(s) OVER (ORDER BY bk) <> s
                 THEN 1.0 ELSE 0.0 END AS flip FROM s),
a AS (SELECT COUNT(*)::DOUBLE AS n, SUM(s::INT)::DOUBLE AS n1,
             SUM((NOT s)::INT)::DOUBLE AS n2, SUM(flip) + 1.0 AS r FROM fl),
v AS (SELECT n, n1, n2, r,
             CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
                  THEN 2.0 * n1 * n2 / n + 1.0 END AS mean,
             CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
                  THEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                       / (n * n * (n - 1.0)) END AS var
      FROM a)
SELECT n::BIGINT AS n_days, n1::BIGINT AS n_above, n2::BIGINT AS n_below,
       r::BIGINT AS runs, ROUND(mean, 6) AS mean,
       ROUND(CASE WHEN var > 0 THEN sqrt(var) END, 6) AS sigma,
       ROUND(CASE WHEN var > 0 THEN (r - mean) / sqrt(var) END, 6) AS z
FROM v;""",
)
def x374(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import rate_runs_test

    ev = load_table(spark, sf_dir, "events")
    return rate_runs_test(ev, "ts")


@_declare(
    "X375_turning_points",
    # Kendall turning-point randomness test on the hourly rate
    # (timeseries.turning_point_test; Brockwell-Davis 1.6): count
    # interior local extrema vs E=2(n-2)/3, Var=(16n-29)/90 - too few
    # = persistence, too many = alternation; strict-product ties
    # convention. One bucketing aggregate + one lag/lead window over
    # the bounded bucket relation.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bk,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
t AS (SELECT c, LAG(c) OVER w AS p, LEAD(c) OVER w AS nx FROM b
      WINDOW w AS (ORDER BY bk)),
a AS (SELECT COUNT(*)::DOUBLE AS n,
             SUM(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
                        AND (c - p) * (nx - c) < 0
                 THEN 1.0 ELSE 0.0 END) AS tp FROM t),
v AS (SELECT n, tp,
             CASE WHEN n >= 4 THEN 2.0 * (n - 2.0) / 3.0 END AS mean,
             CASE WHEN n >= 4 THEN (16.0 * n - 29.0) / 90.0 END AS var
      FROM a)
SELECT n::BIGINT AS n_buckets, tp::BIGINT AS turning_points,
       ROUND(mean, 6) AS mean,
       ROUND(CASE WHEN var > 0 THEN sqrt(var) END, 6) AS sigma,
       ROUND(CASE WHEN var > 0 THEN (tp - mean) / sqrt(var) END, 6) AS z
FROM v;""",
)
def x375(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        turning_point_test,
    )

    ev = load_table(spark, sf_dir, "events")
    return turning_point_test(ev, "ts")


@_declare(
    "X376_hellinger_drift",
    # Per-source Hellinger/Bhattacharyya distance to the pooled length
    # distribution (quality.hellinger_drift; Bhattacharyya 1943): the
    # bounded [0,1] drift scale PSI's log-ratio blows up on near-empty
    # bins - every source comparable on one axis. One (source, bin)
    # aggregate + broadcast pooled shares.
    """WITH b AS (SELECT source AS g, FLOOR(n_chars / 100.0) * 100.0 AS bin
      FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
cells AS (SELECT g, bin, COUNT(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
gt AS (SELECT g, SUM(n) AS gn FROM cells GROUP BY 1),
pl AS (SELECT bin, SUM(n) AS bn FROM cells GROUP BY 1),
tt AS (SELECT SUM(bn) AS tot FROM pl),
a AS (SELECT cells.g, MAX(gn) AS gn,
             SUM(sqrt((n / gn) * (bn / tot))) AS bc
      FROM cells JOIN gt ON gt.g = cells.g JOIN pl ON pl.bin = cells.bin
      CROSS JOIN tt GROUP BY 1)
SELECT g AS "group", gn::BIGINT AS n, ROUND(bc, 6) AS bc,
       ROUND(sqrt(1.0 - LEAST(1.0, bc)), 6) AS hellinger,
       ROUND(CASE WHEN bc > 0 THEN -ln(bc) END, 6) AS bhattacharyya_d
FROM a ORDER BY "group";""",
)
def x376(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import hellinger_drift

    docs = load_table(spark, sf_dir, "documents")
    return hellinger_drift(docs, "n_chars", "source")


@_declare(
    "X377_schnabel_vocab",
    # Multi-occasion capture-recapture vocabulary estimate across
    # sources (textstats.schnabel_vocab_estimate; Schnabel 1938,
    # Chapman-corrected): each source is a sampling occasion over the
    # shared token population - the k-source generalization of the
    # Chapman two-sample estimate, with per-occasion recapture
    # diagnostics. Token scan + per-token min-source; occasion table is
    # source-bounded control plane.
    """WITH t AS (SELECT source AS g, unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
pres AS (SELECT DISTINCT g, w FROM t WHERE w <> ''),
fst AS (SELECT w, MIN(g) AS f FROM pres GROUP BY 1),
per AS (SELECT g, COUNT(*)::DOUBLE AS c,
               SUM((f < g)::INT)::DOUBLE AS r,
               SUM((f = g)::INT)::DOUBLE AS nw
        FROM pres JOIN fst USING (w) GROUP BY 1),
occ AS (SELECT g, c, r,
               COALESCE(SUM(nw) OVER (ORDER BY g
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
        FROM per),
nh AS (SELECT SUM(c * m) / (SUM(r) + 1.0) AS nhat FROM occ)
SELECT g AS "group", c::BIGINT AS c_t, m::BIGINT AS m_t, r::BIGINT AS r_t,
       ROUND(nhat, 6) AS n_hat
FROM occ CROSS JOIN nh ORDER BY "group";""",
)
def x377(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        schnabel_vocab_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return schnabel_vocab_estimate(docs)


@_declare(
    "X378_seasonal_strength",
    # Trend/seasonal strength of the hourly rate (timeseries.
    # seasonal_trend_strength; Wang-Smith-Hyndman 2006, the feasts
    # STL-lite): +-12h moving-average trend, hour-of-day seasonal
    # means, strengths = 1 - Var(R)/Var(deseasonalized|detrended) -
    # the quantitative sequel to X342's which-period periodogram.
    # RANGE window on the bucket index so gaps bucket identically.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bk,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
dt AS (SELECT bk, c, c - AVG(c) OVER (ORDER BY bk
         RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS d FROM b),
se AS (SELECT ((bk % 24) + 24) % 24 AS h, AVG(d) AS s FROM dt GROUP BY 1),
j AS (SELECT c, d, d - s AS r, c - s AS cs
      FROM dt JOIN se ON ((dt.bk % 24) + 24) % 24 = se.h),
a AS (SELECT COUNT(*)::DOUBLE AS n,
             SUM(r * r) / COUNT(*) - AVG(r) * AVG(r) AS vr,
             SUM(cs * cs) / COUNT(*) - AVG(cs) * AVG(cs) AS vcs,
             SUM(d * d) / COUNT(*) - AVG(d) * AVG(d) AS vd
      FROM j)
SELECT n::BIGINT AS n_buckets, ROUND(vr, 6) AS var_remainder,
       ROUND(CASE WHEN vcs > 0
             THEN greatest(0.0, 1.0 - vr / vcs) END, 6) AS trend_strength,
       ROUND(CASE WHEN vd > 0
             THEN greatest(0.0, 1.0 - vr / vd) END, 6) AS seasonal_strength
FROM a;""",
)
def x378(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        seasonal_trend_strength,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_trend_strength(ev, "ts")


@_declare(
    "X379_circular_uniformity",
    # Kuiper V + Watson U^2 time-of-day uniformity per event type
    # (timeseries.kuiper_watson_uniformity; Kuiper 1960 / Watson 1961,
    # Stephens 1970 modification): the ROTATION-INVARIANT KS/CvM - a
    # peak straddling midnight splits into edge bumps X284's KS
    # half-sees; V and U^2 are invariant to the cut point. Same
    # grouped prefix-rank plan as X284; tie-stable by the rank-set
    # argument.
    """WITH base AS (
  SELECT event_type AS g, (((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
             / 86400000000.0 AS x
  FROM events WHERE ts IS NOT NULL),
r AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rk,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM base),
a AS (SELECT g, ANY_VALUE(n)::DOUBLE AS n,
             MAX(rk / n::DOUBLE - x) AS dp,
             MAX(x - (rk - 1) / n::DOUBLE) AS dm,
             SUM((x - (2.0 * rk - 1.0) / (2.0 * n)) * (x - (2.0 * rk - 1.0) / (2.0 * n))) AS sw,
             AVG(x) AS xb
      FROM r GROUP BY g)
SELECT g AS event_type, n::BIGINT AS n,
       ROUND(dp + dm, 6) AS kuiper_v,
       ROUND((dp + dm) * (sqrt(n) + 0.155 + 0.24 / sqrt(n)), 6) AS kuiper_stat,
       ROUND(1.0 / (12.0 * n) + sw - n * (xb - 0.5) * (xb - 0.5), 6) AS watson_u2
FROM a ORDER BY event_type;""",
)
def x379(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        kuiper_watson_uniformity,
    )

    ev = load_table(spark, sf_dir, "events")
    return kuiper_watson_uniformity(ev, "ts", "event_type").orderBy(
        "event_type"
    )


@_declare(
    "X380_power_divergence",
    # Cressie-Read power divergence (lambda=2/3) + chi2 + G2 on the
    # event_type x user-parity contingency (evalmetrics.
    # power_divergence; Cressie-Read 1984): the one-parameter family
    # containing both classics - report all three so the practitioner
    # sees lambda-sensitivity under sparse cells. Corpus collapses to
    # the cell relation first; densified grid is broadcast control
    # plane.
    """WITH b AS (SELECT event_type AS r, (user_id % 2)::VARCHAR AS c FROM events
       WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT r, c, COUNT(*)::DOUBLE AS o FROM b GROUP BY 1, 2),
rm AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY 1),
cm AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY 1),
nt AS (SELECT SUM(o) AS n FROM cells),
grid AS (SELECT rm.r, cm.c, n, COALESCE(o, 0.0) AS ob, rt * ct / n AS e
         FROM rm CROSS JOIN cm CROSS JOIN nt
         LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c),
a AS (SELECT MAX(n) AS n, COUNT(DISTINCT r)::BIGINT AS nr,
             COUNT(DISTINCT c)::BIGINT AS nc,
             SUM((ob - e) * (ob - e) / e) AS chi2,
             SUM(CASE WHEN ob > 0 THEN 2.0 * ob * ln(ob / e) ELSE 0.0 END) AS g2,
             SUM(CASE WHEN ob > 0 THEN 2.0 / (0.6666666666666666 * (0.6666666666666666 + 1.0))
                 * ob * (pow(ob / e, 0.6666666666666666) - 1.0) ELSE 0.0 END) AS cr
      FROM grid)
SELECT n::BIGINT AS n, nr AS n_rows, nc AS n_cols,
       (nr - 1) * (nc - 1) AS dof,
       ROUND(chi2, 6) AS chi2, ROUND(g2, 6) AS g2,
       ROUND(cr, 6) AS cressie_read
FROM a;""",
)
def x380(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        power_divergence,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return power_divergence(
        ev.select(
            "event_type", (F.col("user_id") % 2).cast("string").alias("par")
        ),
        "event_type",
        "par",
    )


@_declare(
    "X381_permutation_entropy",
    # Permutation entropy (order 3) of the hourly rate (timeseries.
    # permutation_entropy; Bandt-Pompe 2002): entropy of ordinal
    # patterns - the model-free complexity scale between clockwork
    # (H=0) and white noise (H_norm=1); stable-sort tie convention.
    # One bucketing aggregate + one lead window over the bounded
    # bucket relation + a 6-row pattern aggregate.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bk,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
t AS (SELECT c AS a, LEAD(c, 1) OVER w AS m, LEAD(c, 2) OVER w AS z FROM b
      WINDOW w AS (ORDER BY bk)),
p AS (SELECT ((m < a)::INT + (z < a)::INT) * 9
             + ((a <= m)::INT + (z < m)::INT) * 3
             + ((a <= z)::INT + (m <= z)::INT) AS pt
      FROM t WHERE m IS NOT NULL AND z IS NOT NULL),
c AS (SELECT pt, COUNT(*)::DOUBLE AS k FROM p GROUP BY 1),
n AS (SELECT SUM(k) AS n FROM c)
SELECT n::BIGINT AS n_windows, COUNT(*)::BIGINT AS distinct_patterns,
       ROUND(-SUM((k / n) * ln(k / n)), 6) AS entropy,
       ROUND(-SUM((k / n) * ln(k / n)) / ln(6.0), 6) AS h_norm
FROM c CROSS JOIN n GROUP BY n;""",
)
def x381(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        permutation_entropy,
    )

    ev = load_table(spark, sf_dir, "events")
    return permutation_entropy(ev, "ts")


@_declare(
    "X382_concentration_profile",
    # Source-concentration per language (quality.concentration_profile;
    # Herfindahl/Hirschman, Hill-1973 effective number): HHI, inverse-
    # Simpson effective source count, top-1 share - the absolute-scale
    # diversification read behind a mixture decision. One cell
    # aggregate + broadcast slice totals.
    """WITH b AS (SELECT lang AS sl, source AS g FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL),
cells AS (SELECT sl, g, COUNT(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
t AS (SELECT sl, SUM(n) AS tt FROM cells GROUP BY 1),
a AS (SELECT cells.sl, MAX(tt) AS tt, COUNT(*)::BIGINT AS k,
             SUM((n / tt) * (n / tt)) AS hhi, MAX(n / tt) AS top
      FROM cells JOIN t ON t.sl = cells.sl GROUP BY 1)
SELECT sl AS slice, tt::BIGINT AS n, k AS n_groups, ROUND(hhi, 6) AS hhi,
       ROUND(CASE WHEN hhi > 0 THEN 1.0 / hhi END, 6) AS effective_groups,
       ROUND(top, 6) AS top_share
FROM a ORDER BY slice;""",
)
def x382(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import (
        concentration_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    return concentration_profile(docs, "source", "lang")


@_declare(
    "X383_hurst_rs",
    # Hurst exponent via rescaled-range over dyadic hour blocks
    # (timeseries.hurst_rs; Hurst 1951, Mandelbrot-Wallis 1969):
    # long-range memory of the rate - H~0.5 memoryless, H->1
    # persistent retry-storm territory. Partitioned block windows
    # only; bounded scale explode; full-block + positive-variance
    # filter; log-log OLS over the scale relation.
    """WITH b AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bk,
             COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
e AS (SELECT bk, c, unnest([8, 16, 32, 64]) AS s FROM b),
st AS (SELECT s, CAST(FLOOR(bk / s) AS BIGINT) AS k, COUNT(*)::BIGINT AS n,
              AVG(c) AS m, SUM(c * c) / COUNT(*) - AVG(c) * AVG(c) AS v
       FROM e GROUP BY 1, 2),
d AS (SELECT e.s, st.k, e.bk, e.c - st.m AS dd, st.v
      FROM e JOIN st ON st.s = e.s AND st.k = CAST(FLOOR(e.bk / e.s) AS BIGINT)
      WHERE st.n = e.s AND st.v > 0),
cu AS (SELECT s, k, v, SUM(dd) OVER (PARTITION BY s, k ORDER BY bk
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y FROM d),
rs AS (SELECT s, k, (MAX(y) - MIN(y)) / sqrt(MAX(v)) AS r FROM cu GROUP BY 1, 2),
per AS (SELECT s, COUNT(*)::BIGINT AS n_blocks, AVG(r) AS mrs FROM rs GROUP BY 1),
fit AS (SELECT COUNT(*)::DOUBLE AS np, SUM(ln(s)) AS sx, SUM(ln(mrs)) AS sy,
               SUM(ln(s) * ln(s)) AS sxx, SUM(ln(s) * ln(mrs)) AS sxy
        FROM per WHERE mrs > 0)
SELECT s::BIGINT AS scale, n_blocks, ROUND(mrs, 6) AS mean_rs,
       ROUND(CASE WHEN np * sxx - sx * sx > 0
             THEN (np * sxy - sx * sy) / (np * sxx - sx * sx) END, 6)
         AS hurst
FROM per CROSS JOIN fit ORDER BY scale;""",
)
def x383(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import hurst_rs

    ev = load_table(spark, sf_dir, "events")
    return hurst_rs(ev, "ts")


@_declare(
    "X384_lexical_richness",
    # Classical length-robust lexical-richness quartet per language
    # (textstats.lexical_richness_classics; Yule 1944 K, Sichel 1975 S,
    # Honore 1979 R, Brunet 1978 W - Tweedie-Baayen's survey): the
    # size-invariant repeat-rate/hapax constants that make sources of
    # very different volume comparable - K doubles as a cheap
    # template/boilerplate screen. Word-count shape: token scan ->
    # frequency spectrum -> group-row reduction.
    """WITH t AS (SELECT lang AS g, unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
c AS (SELECT g, w, COUNT(*)::BIGINT AS m FROM t WHERE w <> '' GROUP BY 1, 2),
sp AS (SELECT g, m, COUNT(*)::DOUBLE AS vm FROM c GROUP BY 1, 2),
a AS (SELECT g, SUM(m * vm) AS n, SUM(vm) AS v,
             SUM(CASE WHEN m = 1 THEN vm ELSE 0.0 END) AS v1,
             SUM(CASE WHEN m = 2 THEN vm ELSE 0.0 END) AS v2,
             SUM(m * m * vm) AS smm
      FROM sp GROUP BY 1)
SELECT g AS "group", n::BIGINT AS n_tokens, v::BIGINT AS v_types,
       v1::BIGINT AS v1, v2::BIGINT AS v2,
       ROUND(CASE WHEN n > 0 THEN 1e4 * (smm - n) / (n * n) END, 6) AS yule_k,
       ROUND(CASE WHEN v > 0 THEN v2 / v END, 6) AS sichel_s,
       ROUND(CASE WHEN v > 0 AND v1 < v AND n > 1
             THEN 100.0 * ln(n) / (1.0 - v1 / v) END, 6) AS honore_r,
       ROUND(CASE WHEN n > 1 AND v > 0 THEN pow(n, pow(v, -0.165)) END, 6)
         AS brunet_w
FROM a ORDER BY "group";""",
)
def x384(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import (
        lexical_richness_classics,
    )

    docs = load_table(spark, sf_dir, "documents")
    return lexical_richness_classics(docs, "lang")


@_declare(
    "X385_chatterjee_xi",
    # Chatterjee's rank correlation xi of event value against
    # time-of-day (evalmetrics.chatterjee_xi; Chatterjee JASA 2021,
    # tie-general form): 0 for independence, ->1 for ANY functional
    # dependence - sees the nonmonotone daily shapes Spearman (X83's
    # family) averages away. X-ties break by ascending Y
    # (deterministic; documented). Distinct-(x,y)-cell sequence +
    # y-rank prefix pass + a hash join on index+1 - no global window.
    """WITH b AS (SELECT (((epoch_us(ts) % 86400000000) + 86400000000)
                  % 86400000000) / 1000000.0 AS x, value::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
n AS (SELECT COUNT(*)::DOUBLE AS n FROM b),
yc AS (SELECT y, COUNT(*)::DOUBLE AS cy FROM b GROUP BY 1),
ycum AS (SELECT y, cy, COALESCE(SUM(cy) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS yb
         FROM yc),
cells AS (SELECT x, y, COUNT(*)::DOUBLE AS c FROM b GROUP BY 1, 2),
idx AS (SELECT x, y, c, ROW_NUMBER() OVER (ORDER BY x, y) AS k FROM cells),
rk AS (SELECT k, c, yb + cy AS r, n - yb AS l, n
       FROM idx JOIN ycum USING (y) CROSS JOIN n),
num AS (SELECT COALESCE(SUM(ABS(b2.r - b1.r)), 0) AS num
        FROM rk b1 JOIN rk b2 ON b2.k = b1.k + 1),
den AS (SELECT MAX(n) AS nn, SUM(c * l * (n - l)) AS den FROM rk)
SELECT nn::BIGINT AS n,
       ROUND(CASE WHEN den > 0 THEN 1.0 - nn * num / (2.0 * den) END, 6) AS xi
FROM den CROSS JOIN num;""",
)
def x385(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import chatterjee_xi

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    tod = (
        F.pmod(
            F.unix_micros(F.col("ts").cast("timestamp")),
            F.lit(86_400_000_000),
        )
        / 1_000_000.0
    )
    return chatterjee_xi(ev.select(tod.alias("tod"), "value"), "tod", "value")


@_declare(
    "X386_cucconi",
    # Cucconi joint location-scale test, purchase vs click values
    # (evalmetrics.cucconi_test; Cucconi 1968, moments per Marozzi
    # 2009): squared ranks + squared contrary ranks combined through
    # their exact null correlation - ONE statistic for the shift+
    # spread question X367 (Ansari) and Mann-Whitney each see half of.
    # Midrank ties; classical moments replayed verbatim. Same
    # cells+prefix+1-row-arithmetic shape as X367.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'purchase')::INT)::DOUBLE AS fa,
                 SUM((g = 'click')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT fa, fb, cl + (l + 1.0) / 2.0 AS r,
              N + 1.0 - (cl + (l + 1.0) / 2.0) AS cr, N
       FROM cum CROSS JOIN tot),
m AS (SELECT MAX(N) AS nn, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(fb * r * r) AS sr2, SUM(fb * cr * cr) AS scr2
      FROM sc),
s AS (SELECT nn, na, nb,
             nb * (nn + 1.0) * (2.0 * nn + 1.0) AS cen,
             na * nb * (nn + 1.0) * (2.0 * nn + 1.0) * (8.0 * nn + 11.0)
                 / 5.0 AS den2,
             2.0 * (nn * nn - 4.0) / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0))
                 - 1.0 AS rho,
             sr2, scr2 FROM m),
uv AS (SELECT *,
              CASE WHEN den2 > 0 THEN (6.0 * sr2 - cen) / sqrt(den2) END AS uu,
              CASE WHEN den2 > 0 THEN (6.0 * scr2 - cen) / sqrt(den2) END AS vv
       FROM s)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(uu, 6) AS u, ROUND(vv, 6) AS v, ROUND(rho, 6) AS rho,
       ROUND(CASE WHEN den2 > 0 AND 1.0 - rho * rho > 0
             THEN (uu * uu + vv * vv - 2.0 * rho * uu * vv)
                  / (2.0 * (1.0 - rho * rho)) END, 6) AS c_stat
FROM uv;""",
)
def x386(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cucconi_test

    ev = load_table(spark, sf_dir, "events")
    return cucconi_test(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X387_lepage",
    # Lepage location-scale test, purchase vs click values
    # (evalmetrics.lepage_test; Lepage 1971): D = z_Wilcoxon^2 +
    # z_AnsariBradley^2 ~ chi2_2 - the classical two-component
    # complement to X386's squared-rank Cucconi. Both components from
    # ONE distinct-value aggregate + one prefix pass; Wilcoxon
    # variance tie-corrected, AB moments conditional tie-exact.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'purchase')::INT)::DOUBLE AS fa,
                 SUM((g = 'click')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT fa, fb, l, cl + (l + 1.0) / 2.0 AS r,
              least(cl + (l + 1.0) / 2.0, N + 1.0 - (cl + (l + 1.0) / 2.0))
                  AS s, N
       FROM cum CROSS JOIN tot),
m AS (SELECT MAX(N) AS nn, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(fa * r) AS w, SUM(fa * s) AS ab,
             SUM(l * s) AS ls, SUM(l * s * s) AS ls2,
             SUM(l * l * l - l) AS tie3
      FROM sc),
z AS (SELECT nn, na, nb,
             CASE WHEN na * nb / 12.0 * ((nn + 1.0)
                    - tie3 / NULLIF(nn * (nn - 1.0), 0)) > 0
                  THEN (w - na * (nn + 1.0) / 2.0)
                       / sqrt(na * nb / 12.0 * ((nn + 1.0)
                              - tie3 / NULLIF(nn * (nn - 1.0), 0))) END AS zw,
             CASE WHEN na * nb * (nn * ls2 - ls * ls)
                       / (nn * nn * NULLIF(nn - 1.0, 0)) > 0
                  THEN (ab - na * ls / nn)
                       / sqrt(na * nb * (nn * ls2 - ls * ls)
                              / (nn * nn * NULLIF(nn - 1.0, 0))) END AS zab
      FROM m)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(zw, 6) AS z_w, ROUND(zab, 6) AS z_ab,
       ROUND(zw * zw + zab * zab, 6) AS d_stat
FROM z;""",
)
def x387(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import lepage_test

    ev = load_table(spark, sf_dir, "events")
    return lepage_test(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X388_bws",
    # Baumgartner-Weiss-Schindler two-sample test, purchase vs click
    # (evalmetrics.bws_test; Biometrics 1998): the 1/(t(1-t))-weighted
    # rank CvM that keeps power in the TAILS where Wilcoxon/CvM go
    # blind. Pooled midranks; per-sample index within a tied run is
    # arbitrary but the run SUM is invariant. Spark explodes each tied
    # run to one row per observation (corpus-LINEAR); the twin uses
    # the equivalent per-row window form.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
r AS (SELECT g, v,
             RANK() OVER (ORDER BY v) - 1
               + (COUNT(*) OVER (PARTITION BY v) + 1) / 2.0 AS r,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS i,
             (COUNT(*) OVER (PARTITION BY g))::DOUBLE AS sm,
             (COUNT(*) OVER ())::DOUBLE AS nn
      FROM b),
t AS (SELECT g, sm,
             (r - nn / sm * i) * (r - nn / sm * i)
             / NULLIF((i / (sm + 1.0)) * (1.0 - i / (sm + 1.0))
                      * (nn - sm) * nn / sm, 0) AS term
      FROM r),
per AS (SELECT g, MAX(sm) AS sm, SUM(term) / NULLIF(MAX(sm), 0) AS bg
        FROM t GROUP BY 1)
SELECT COALESCE(MAX(CASE WHEN g = 'purchase' THEN sm END), 0)::BIGINT AS n_a,
       COALESCE(MAX(CASE WHEN g = 'click' THEN sm END), 0)::BIGINT AS n_b,
       ROUND(MAX(CASE WHEN g = 'purchase' THEN bg END), 6) AS b_a,
       ROUND(MAX(CASE WHEN g = 'click' THEN bg END), 6) AS b_b,
       ROUND((MAX(CASE WHEN g = 'purchase' THEN bg END)
              + MAX(CASE WHEN g = 'click' THEN bg END)) / 2.0, 6) AS b_stat
FROM per;""",
)
def x388(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import bws_test

    ev = load_table(spark, sf_dir, "events")
    return bws_test(ev, "value", "event_type", "purchase", "click")


def _x389_oracle() -> str:
    """Generated Fligner–Killeen twin: the normal-scores transform is
    the SAME Acklam probit (coefficients + operation order) the Spark
    op compiles — see evalmetrics.acklam_probit_sql — so both engines
    produce the identical IEEE double for every score."""
    from swivel_spark_prep_spark.operators.evalmetrics import (
        acklam_probit_sql,
    )

    probit = acklam_probit_sql(
        "0.5 + (cl + (l + 1.0) / 2.0) / (2.0 * (N + 1.0))"
    )
    return f"""WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
med AS (SELECT g, quantile_cont(v, 0.5) AS md FROM b GROUP BY 1),
u AS (SELECT b.g, ABS(v - md) AS u FROM b JOIN med USING (g)),
cells AS (SELECT u, COUNT(*)::DOUBLE AS l FROM u GROUP BY 1),
cum AS (SELECT u, l, COALESCE(SUM(l) OVER (ORDER BY u
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT u, {probit} AS a FROM cum CROSS JOIN tot),
rws AS (SELECT g, a FROM u JOIN sc USING (u)),
per AS (SELECT g, COUNT(*)::DOUBLE AS ng, SUM(a) AS sa FROM rws GROUP BY 1),
ov AS (SELECT COUNT(*)::DOUBLE AS nn, SUM(a) AS ta, SUM(a * a) AS ta2
       FROM rws),
fin AS (SELECT COUNT(*)::BIGINT AS k, MAX(nn) AS nn,
               SUM(ng * (sa / ng - ta / nn) * (sa / ng - ta / nn)) AS num,
               MAX((ta2 - nn * (ta / nn) * (ta / nn))
                   / NULLIF(nn - 1.0, 0)) AS s2
        FROM per CROSS JOIN ov)
SELECT k, nn::BIGINT AS n,
       ROUND(CASE WHEN s2 > 0 THEN num / s2 END, 6) AS fk_stat,
       (k - 1)::BIGINT AS dof
FROM fin;"""


@_declare(
    "X389_fligner_killeen",
    # Fligner-Killeen k-sample scale test over all event types
    # (evalmetrics.fligner_killeen; Fligner-Killeen 1976, the
    # median-centered normal-scores form of Conover et al. 1981 - R's
    # fligner.test): the rank-robust k-group variance-homogeneity
    # screen Bartlett (X345) can't give under heavy tails. Normal
    # scores via the Acklam probit, GENERATED into the twin with
    # identical coefficients and operation order (repr() literals).
    _x389_oracle(),
)
def x389(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import fligner_killeen

    ev = load_table(spark, sf_dir, "events")
    return fligner_killeen(ev, "value", "event_type")


@_declare(
    "X390_energy_distance",
    # Szekely-Rizzo two-sample energy distance, purchase vs click
    # (quality.energy_distance; Szekely-Rizzo 2004): E = 2E|X-Y| -
    # E|X-X'| - E|Y-Y'|, a metric on distributions - the third drift
    # lens next to KS (sup) and W1 (X225's family): weights tail mass
    # where W1 saturates. The O(mn) double sums collapse EXACTLY
    # against the sorted axis via exclusive prefix sums of
    # (count, count*value) - the wasserstein_1d shape, one cells pass.
    """WITH b AS (SELECT value::DOUBLE AS v, (event_type = 'purchase') AS ia
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('purchase', 'click')),
per AS (SELECT v, SUM(ia::INT)::DOUBLE AS fa,
               SUM((NOT ia)::INT)::DOUBLE AS fb FROM b GROUP BY 1),
p2 AS (SELECT v, fa, fb, fa * v AS fav, fb * v AS fbv FROM per),
cum AS (SELECT *, COALESCE(SUM(fa) OVER w, 0) AS ca,
               COALESCE(SUM(fb) OVER w, 0) AS cb,
               COALESCE(SUM(fav) OVER w, 0) AS cav,
               COALESCE(SUM(fbv) OVER w, 0) AS cbv
        FROM p2 WINDOW w AS (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
tot AS (SELECT SUM(fa) AS na, SUM(fb) AS nb, SUM(fav) AS ta,
               SUM(fbv) AS tb FROM p2),
agg AS (SELECT MAX(na) AS na, MAX(nb) AS nb,
  SUM(fa * ((v * cb - cbv) + ((tb - cbv - fb * v) - v * (nb - cb - fb))))
      AS sab,
  SUM(fa * ((v * ca - cav) + ((ta - cav - fa * v) - v * (na - ca - fa))))
      AS saa,
  SUM(fb * ((v * cb - cbv) + ((tb - cbv - fb * v) - v * (nb - cb - fb))))
      AS sbb
  FROM cum CROSS JOIN tot),
e AS (SELECT na, nb,
             CASE WHEN na > 0 AND nb > 0
                  THEN 2.0 * sab / (na * nb) - saa / (na * na)
                       - sbb / (nb * nb) END AS ed
      FROM agg)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(ed, 6) AS e_dist,
       ROUND(ed * na * nb / (na + nb), 6) AS t_stat
FROM e;""",
)
def x390(spark, sf_dir):
    from swivel_spark_prep_spark.operators.quality import energy_distance

    ev = load_table(spark, sf_dir, "events")
    return energy_distance(ev, "value", "event_type", "purchase", "click")


@_declare(
    "X391_page_trend",
    # Page's L ordered trend across time-of-day buckets within day
    # blocks (evalmetrics.page_trend; Page 1963): does activity RISE
    # through the day CONSISTENTLY across days - the within-block
    # sequel to Cuzick (X358, which pools all days into one ranking).
    # Only complete blocks enter; classical no-tie variance replayed
    # verbatim (the X358 convention); within-block midranks.
    """WITH g AS (SELECT CAST(ts AS DATE) AS d,
             (EXTRACT(hour FROM ts) // 6)::INT AS t, COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
kk AS (SELECT COUNT(DISTINCT t)::DOUBLE AS k FROM g),
comp AS (SELECT d FROM g GROUP BY d
         HAVING COUNT(DISTINCT t) = (SELECT k FROM kk)),
gg AS (SELECT g.* FROM g JOIN comp USING (d)),
r AS (SELECT d, t, RANK() OVER (PARTITION BY d ORDER BY c) - 1
             + (COUNT(*) OVER (PARTITION BY d, c) + 1) / 2.0 AS r FROM gg),
a AS (SELECT COUNT(DISTINCT d)::DOUBLE AS bb, SUM((t + 1) * r) AS l FROM r)
SELECT bb::BIGINT AS n_blocks, (SELECT k FROM kk)::BIGINT AS k,
       ROUND(l, 6) AS l_stat,
       ROUND(bb * k * (k + 1.0) * (k + 1.0) / 4.0, 6) AS e_l,
       ROUND(CASE WHEN bb * k * k * (k + 1.0) * (k * k - 1.0) / 144.0 > 0
             THEN (l - bb * k * (k + 1.0) * (k + 1.0) / 4.0)
                  / sqrt(bb * k * k * (k + 1.0) * (k * k - 1.0) / 144.0)
             END, 6) AS z
FROM a CROSS JOIN kk;""",
)
def x391(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import page_trend

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    grid = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.floor(F.hour("ts") / 6).cast("int").alias("tod"),
    ).agg(F.count("*").cast("double").alias("cnt"))
    return page_trend(grid, "cnt", "day", "tod")


@_declare(
    "X392_quade",
    # Quade test over the same day x time-of-day grid
    # (evalmetrics.quade_test; Quade 1979): Friedman weighted by each
    # block's RANGE rank - blocks that discriminate more count more,
    # the right weighting when per-day scales differ. Complete blocks
    # only; within-block midranks; block-range midranks across blocks.
    """WITH g AS (SELECT CAST(ts AS DATE) AS d,
             (EXTRACT(hour FROM ts) // 6)::INT AS t, COUNT(*)::DOUBLE AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
kk AS (SELECT COUNT(DISTINCT t)::DOUBLE AS k FROM g),
comp AS (SELECT d FROM g GROUP BY d
         HAVING COUNT(DISTINCT t) = (SELECT k FROM kk)),
gg AS (SELECT g.* FROM g JOIN comp USING (d)),
r AS (SELECT d, t, c, RANK() OVER (PARTITION BY d ORDER BY c) - 1
             + (COUNT(*) OVER (PARTITION BY d, c) + 1) / 2.0 AS r FROM gg),
rg AS (SELECT d, MAX(c) - MIN(c) AS rg FROM gg GROUP BY 1),
q AS (SELECT d, RANK() OVER (ORDER BY rg) - 1
             + (COUNT(*) OVER (PARTITION BY rg) + 1) / 2.0 AS q FROM rg),
s AS (SELECT r.t, q.q * (r.r - ((SELECT k FROM kk) + 1.0) / 2.0) AS s
      FROM r JOIN q USING (d)),
pt AS (SELECT t, SUM(s) AS sj FROM s GROUP BY 1),
at AS (SELECT SUM(s * s) AS a, COUNT(*) / (SELECT k FROM kk) AS bb FROM s),
fin AS (SELECT MAX(bb) AS bb, MAX(a) AS a,
               SUM(sj * sj) / MAX(bb) AS bsum
        FROM pt CROSS JOIN at)
SELECT bb::BIGINT AS n_blocks, (SELECT k FROM kk)::BIGINT AS k,
       ROUND(CASE WHEN a - bsum > 0
             THEN (bb - 1.0) * bsum / (a - bsum) END, 6) AS f_stat
FROM fin;""",
)
def x392(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import quade_test

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    grid = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.floor(F.hour("ts") / 6).cast("int").alias("tod"),
    ).agg(F.count("*").cast("double").alias("cnt"))
    return quade_test(grid, "cnt", "day", "tod")


@_declare(
    "X393_kpss",
    # KPSS level-stationarity of the daily event rate
    # (timeseries.kpss_test; Kwiatkowski-Phillips-Schmidt-Shin 1992):
    # the null is STATIONARITY - the complement to Mann-Kendall/Hurst
    # whose nulls are no-trend/no-memory. Zero-filled calendar, prefix
    # partial sums, Bartlett-kernel long-run variance at the paper's
    # q = floor(4(T/100)^0.25) lag rule; KPSS > 0.463 rejects at 5%.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::DOUBLE AS t FROM daily),
qq AS (SELECT t, FLOOR(4.0 * POW(t / 100.0, 0.25))::BIGINT AS q FROM bd),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
mb AS (SELECT SUM(y) / (SELECT t FROM qq) AS ybar FROM grid),
e AS (SELECT tt, y - ybar AS e FROM grid CROSS JOIN mb),
s AS (SELECT tt, e, SUM(e) OVER (ORDER BY tt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st FROM e),
base AS (SELECT SUM(st * st) / ((SELECT t FROM qq) * (SELECT t FROM qq))
             AS eta,
         SUM(e * e) / (SELECT t FROM qq) AS g0 FROM s),
ll AS (SELECT unnest(range(1, (SELECT q FROM qq) + 1)) AS l),
gl AS (SELECT ll.l, SUM(e1.e * e2.e) / (SELECT t FROM qq) AS g
       FROM ll CROSS JOIN e e1 JOIN e e2 ON e1.tt - ll.l = e2.tt
       GROUP BY ll.l),
ws AS (SELECT SUM(2.0 * (1.0 - l / ((SELECT q FROM qq) + 1.0)) * g) AS w
       FROM gl)
SELECT (SELECT t FROM qq)::BIGINT AS t, (SELECT q FROM qq) AS q,
       ROUND(eta, 6) AS eta,
       ROUND(g0 + COALESCE(w, 0.0), 6) AS lrv,
       ROUND(CASE WHEN g0 + COALESCE(w, 0.0) > 0
             THEN eta / (g0 + COALESCE(w, 0.0)) END, 6) AS kpss_stat
FROM base CROSS JOIN ws;""",
)
def x393(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import kpss_test

    ev = load_table(spark, sf_dir, "events")
    return kpss_test(ev, "ts")


@_declare(
    "X394_cox_stuart",
    # Cox-Stuart trend sign test on the daily rate (timeseries.
    # cox_stuart, 1955): pair day i with day i+ceil(T/2), count
    # up/down moves, binomial z (no continuity correction, both
    # engines replay it) - the assumption-light cheapest member of
    # the trend family; needs no ranks at all.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cc AS (SELECT t, (t + 1) // 2 AS c FROM bd),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
pairs AS (SELECT a.y AS ya, b.y AS yb
          FROM grid a JOIN grid b
            ON a.tt + (SELECT c FROM cc) = b.tt),
agg AS (SELECT SUM((yb > ya)::INT)::DOUBLE AS sp,
               SUM((yb < ya)::INT)::DOUBLE AS sm FROM pairs)
SELECT (SELECT t FROM cc)::BIGINT AS t,
       (sp + sm)::BIGINT AS n_pairs, sp::BIGINT AS s_plus,
       sm::BIGINT AS s_minus,
       ROUND(CASE WHEN sp + sm > 0
             THEN (sp - (sp + sm) / 2.0) / sqrt((sp + sm) / 4.0) END, 6) AS z
FROM agg;""",
)
def x394(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import cox_stuart

    ev = load_table(spark, sf_dir, "events")
    return cox_stuart(ev, "ts")


@_declare(
    "X395_weighted_kappa",
    # Quadratic-weighted Cohen's kappa between each user's FIRST and
    # LAST time-of-day bucket (evalmetrics.weighted_kappa; Cohen
    # 1968): ordinal agreement with partial credit for near-misses -
    # did users keep their daypart, the ordinal sequel to X308's
    # categorical symmetry test. Ordinal index = rank in ascending
    # bucket order (both engines); k x k marginal cross is
    # label-bounded.
    """WITH o AS (SELECT user_id,
                  (EXTRACT(hour FROM ts) // 6)::INT AS bk,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rf,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rl
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
fl AS (SELECT user_id,
              MAX(CASE WHEN rf = 1 THEN bk END) AS a,
              MAX(CASE WHEN rl = 1 THEN bk END) AS b
       FROM o GROUP BY 1),
cats AS (SELECT DISTINCT v FROM
           (SELECT a AS v FROM fl UNION SELECT b AS v FROM fl)),
ci AS (SELECT v, (ROW_NUMBER() OVER (ORDER BY v) - 1)::DOUBLE AS i
       FROM cats),
kk AS (SELECT COUNT(*)::BIGINT AS k FROM cats),
cells AS (SELECT ia.i AS i, ib.i AS j, COUNT(*)::DOUBLE AS n
          FROM fl JOIN ci ia ON fl.a = ia.v JOIN ci ib ON fl.b = ib.v
          GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS N FROM cells),
po AS (SELECT SUM((1.0 - (i - j) * (i - j)
                   / (((SELECT k FROM kk) - 1) * ((SELECT k FROM kk) - 1)))
                  * n) / (SELECT N FROM tot) AS po FROM cells),
ma AS (SELECT i, SUM(n) AS ra FROM cells GROUP BY 1),
mb AS (SELECT j, SUM(n) AS cb FROM cells GROUP BY 1),
pe AS (SELECT SUM((1.0 - (ma.i - mb.j) * (ma.i - mb.j)
                   / (((SELECT k FROM kk) - 1) * ((SELECT k FROM kk) - 1)))
                  * ra * cb)
              / ((SELECT N FROM tot) * (SELECT N FROM tot)) AS pe
       FROM ma CROSS JOIN mb)
SELECT (SELECT k FROM kk) AS k, (SELECT N FROM tot)::BIGINT AS n,
       ROUND(po, 6) AS po_w, ROUND(pe, 6) AS pe_w,
       ROUND(CASE WHEN 1.0 - pe > 0 THEN (po - pe) / (1.0 - pe) END, 6)
         AS kappa_w
FROM po CROSS JOIN pe;""",
)
def x395(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import weighted_kappa

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    bk = F.floor(F.hour("ts") / 6).cast("int")
    fl = ev.select("user_id", "ts", "event_id", bk.alias("bk")).groupBy(
        "user_id"
    ).agg(
        F.expr("min_by(bk, struct(ts, event_id))").alias("first_bk"),
        F.expr("max_by(bk, struct(ts, event_id))").alias("last_bk"),
    )
    return weighted_kappa(fl, "first_bk", "last_bk", weights="quadratic")


@_declare(
    "X396_mtld",
    # MTLD lexical diversity per language (textstats.mtld; McCarthy-
    # Jarvis 2010): mean factor length at the canonical 0.72 TTR
    # threshold, forward+backward averaged - the ORDER-SENSITIVE
    # diversity read X384's frequency-spectrum constants can't give
    # (local boilerplate shortens factors even when the global
    # vocabulary is diverse). Spark: per-doc F.aggregate fold
    # (executor-local, zero shuffle); twin: the identical fold as a
    # recursive CTE against the (doc, tokens) base table.
    """WITH RECURSIVE tl AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
tn AS (SELECT doc_id, lang, ws, len(ws) AS n FROM tl WHERE len(ws) > 0),
fw AS (
  SELECT doc_id, 0 AS pos, []::VARCHAR[] AS seen, 0 AS tf, 0.0 AS fac FROM tn
  UNION ALL
  SELECT doc_id, pos + 1,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72
              THEN []::VARCHAR[] ELSE ns END,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72 THEN 0 ELSE tf + 1 END,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72
              THEN fac + 1.0 ELSE fac END
  FROM (SELECT fw.doc_id, fw.pos, fw.tf, fw.fac,
               CASE WHEN list_contains(fw.seen, t.ws[fw.pos + 1]) THEN fw.seen
                    ELSE list_append(fw.seen, t.ws[fw.pos + 1]) END AS ns
        FROM fw JOIN tn t USING (doc_id) WHERE fw.pos < t.n) s
),
bw AS (
  SELECT doc_id, 0 AS pos, []::VARCHAR[] AS seen, 0 AS tf, 0.0 AS fac FROM tn
  UNION ALL
  SELECT doc_id, pos + 1,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72
              THEN []::VARCHAR[] ELSE ns END,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72 THEN 0 ELSE tf + 1 END,
         CASE WHEN len(ns)::DOUBLE / (tf + 1) < 0.72
              THEN fac + 1.0 ELSE fac END
  FROM (SELECT bw.doc_id, bw.pos, bw.tf, bw.fac,
               CASE WHEN list_contains(bw.seen, t.ws[t.n - bw.pos])
                    THEN bw.seen
                    ELSE list_append(bw.seen, t.ws[t.n - bw.pos]) END AS ns
        FROM bw JOIN tn t USING (doc_id) WHERE bw.pos < t.n) s
),
ff AS (SELECT f.doc_id,
              f.fac + COALESCE((1.0 - len(f.seen)::DOUBLE / NULLIF(f.tf, 0))
                               / (1.0 - 0.72), 0.0) AS facs
       FROM fw f JOIN tn USING (doc_id) WHERE f.pos = tn.n),
bb AS (SELECT b.doc_id,
              b.fac + COALESCE((1.0 - len(b.seen)::DOUBLE / NULLIF(b.tf, 0))
                               / (1.0 - 0.72), 0.0) AS facs
       FROM bw b JOIN tn USING (doc_id) WHERE b.pos = tn.n),
per AS (SELECT tn.lang, tn.n::DOUBLE AS n,
               (tn.n::DOUBLE / NULLIF(ff.facs, 0)
                + tn.n::DOUBLE / NULLIF(bb.facs, 0)) / 2.0 AS m
        FROM tn JOIN ff USING (doc_id) JOIN bb USING (doc_id))
SELECT lang AS "group", COUNT(*)::BIGINT AS n_docs,
       ROUND(AVG(n), 6) AS mean_tokens, ROUND(AVG(m), 6) AS mean_mtld
FROM per GROUP BY lang ORDER BY "group";""",
)
def x396(spark, sf_dir):
    from swivel_spark_prep_spark.operators.textstats import mtld

    docs = load_table(spark, sf_dir, "documents")
    return mtld(docs, "lang")


@_declare(
    "X397_pettitt",
    # Pettitt change-point test on the daily rate (timeseries.
    # pettitt_test; Pettitt 1979): rank-based CUSUM for a single
    # unknown level shift - WHERE did the rate change, after X393
    # (KPSS) says it is not stationary. U_t = 2*sum(midranks<=t) -
    # t(T+1) is an exact INTEGER under midranks, so K/tau/argmax are
    # float-noise-free; p ~ min(1, 2exp(-6K^2/(T^3+T^2))).
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
rk AS (SELECT tt, RANK() OVER (ORDER BY y)
                  + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS r
       FROM grid),
w AS (SELECT tt, SUM(r) OVER (ORDER BY tt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w FROM rk),
u AS (SELECT tt + 1 AS t1,
             ROUND(2.0 * w - (tt + 1) * ((SELECT t FROM bd) + 1.0)) AS u
      FROM w WHERE tt < (SELECT t FROM bd) - 1),
kk AS (SELECT MAX(ABS(u)) AS k FROM u),
tu AS (SELECT MIN(t1) AS tau FROM u
       WHERE ABS(u) = (SELECT k FROM kk))
SELECT (SELECT t FROM bd) AS t, (SELECT tau FROM tu)::BIGINT AS tau,
       (SELECT k FROM kk)::BIGINT AS k_stat,
       ROUND(LEAST(1.0, 2.0 * EXP(-6.0 * (SELECT k FROM kk)
                                  * (SELECT k FROM kk)
             / (POW((SELECT t FROM bd)::DOUBLE, 3)
                + POW((SELECT t FROM bd)::DOUBLE, 2)))), 6) AS p_value;""",
)
def x397(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import pettitt_test

    ev = load_table(spark, sf_dir, "events")
    return pettitt_test(ev, "ts")


@_declare(
    "X398_buishand_range",
    # Buishand range homogeneity test on the daily rate (timeseries.
    # buishand_range; Buishand 1982): rescaled adjusted partial sums -
    # a level shift anywhere pushes the cumulative departure far from
    # zero; R/sqrt(T) vs Buishand's Table 1 (~1.27 at 5%). Population
    # sigma-hat (/T), k = 1..T with S_T = 0 closing the range.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
mm AS (SELECT SUM(y) / (SELECT t FROM bd) AS m,
              SUM(y * y) / (SELECT t FROM bd) AS m2 FROM grid),
dd AS (SELECT m, sqrt(m2 - m * m) AS d FROM mm),
s AS (SELECT tt, SUM(y - (SELECT m FROM dd)) OVER (ORDER BY tt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM grid),
ag AS (SELECT MAX(s) AS mx, MIN(s) AS mn FROM s)
SELECT (SELECT t FROM bd) AS t,
       ROUND(CASE WHEN (SELECT d FROM dd) > 0
             THEN (mx - mn) / (SELECT d FROM dd) END, 6) AS r_range,
       ROUND(CASE WHEN (SELECT d FROM dd) > 0
             THEN (mx - mn) / (SELECT d FROM dd)
                  / sqrt((SELECT t FROM bd)::DOUBLE) END, 6) AS r_stat
FROM ag;""",
)
def x398(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import buishand_range

    ev = load_table(spark, sf_dir, "events")
    return buishand_range(ev, "ts")


@_declare(
    "X399_snht",
    # Standard Normal Homogeneity Test on the daily rate (timeseries.
    # snht_test; Alexandersson 1986): max over split points of
    # k*z1bar^2 + (T-k)*z2bar^2 - the parametric change-point
    # complement to X397's rank CUSUM. Sample sd (/(T-1)); the argmax
    # compares ROUND(T(k),6) with smallest-k tie-break in BOTH
    # engines.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
mm AS (SELECT SUM(y) AS tot, SUM(y) / (SELECT t FROM bd) AS m FROM grid),
sd AS (SELECT m, tot,
              sqrt(SUM((y - m) * (y - m)) / ((SELECT t FROM bd) - 1.0)) AS sd
       FROM grid CROSS JOIN mm GROUP BY m, tot),
p AS (SELECT tt, SUM(y) OVER (ORDER BY tt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM grid),
tk AS (SELECT tt + 1 AS k,
              ROUND((tt + 1.0)
                    * ((p / (tt + 1.0) - m) / sd)
                    * ((p / (tt + 1.0) - m) / sd)
                    + ((SELECT t FROM bd) - (tt + 1.0))
                    * (((tot - p) / ((SELECT t FROM bd) - (tt + 1.0)) - m)
                       / sd)
                    * (((tot - p) / ((SELECT t FROM bd) - (tt + 1.0)) - m)
                       / sd), 6) AS tk
       FROM p CROSS JOIN sd
       WHERE tt < (SELECT t FROM bd) - 1 AND sd > 0)
SELECT (SELECT t FROM bd) AS t, k::BIGINT AS k_max, tk AS t0
FROM tk ORDER BY tk DESC, k ASC LIMIT 1;""",
)
def x399(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import snht_test

    ev = load_table(spark, sf_dir, "events")
    return snht_test(ev, "ts")


@_declare(
    "X400_bartels_rank",
    # Bartels rank test of randomness on the daily rate (timeseries.
    # bartels_rank; Bartels 1982): the rank von Neumann successive-
    # difference ratio - trend/persistence pushes RVN below 2,
    # alternation above; Bartels' no-tie variance replayed verbatim.
    # Midrank squares are exact quarters, so RVN is float-noise-free.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
rk AS (SELECT tt, RANK() OVER (ORDER BY y)
                  + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS r
       FROM grid),
nm AS (SELECT SUM((a.r - b.r) * (a.r - b.r)) AS nm
       FROM rk a JOIN rk b ON a.tt + 1 = b.tt),
dd AS (SELECT SUM((r - ((SELECT t FROM bd) + 1.0) / 2.0)
                  * (r - ((SELECT t FROM bd) + 1.0) / 2.0)) AS d FROM rk)
SELECT (SELECT t FROM bd) AS t,
       ROUND(CASE WHEN d > 0 THEN nm / d END, 6) AS rvn,
       ROUND(CASE WHEN d > 0 AND (SELECT t FROM bd) >= 3
             THEN (nm / d - 2.0)
                  / sqrt(4.0 * ((SELECT t FROM bd) - 2.0)
                         * (5.0 * (SELECT t FROM bd) * (SELECT t FROM bd)
                            - 2.0 * (SELECT t FROM bd) - 9.0)
                         / (5.0 * (SELECT t FROM bd)
                            * ((SELECT t FROM bd) + 1.0)
                            * ((SELECT t FROM bd) - 1.0)
                            * ((SELECT t FROM bd) - 1.0))) END, 6) AS z
FROM nm CROSS JOIN dd;""",
)
def x400(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import bartels_rank

    ev = load_table(spark, sf_dir, "events")
    return bartels_rank(ev, "ts")


@_declare(
    "X401_mood_dispersion",
    # Mood squared-rank dispersion test, view vs signup values
    # (evalmetrics.mood_dispersion; Mood 1954): are the two event
    # streams equally SPREAD - quadratic extreme-rank scores, the
    # squared-deviation cousin of X367 (Ansari) and the scale half of
    # X387 (Lepage). Midrank ties; classical no-tie moments replayed
    # verbatim; midrank scores exact in doubles.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('view', 'signup')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'view')::INT)::DOUBLE AS fa,
                 SUM((g = 'signup')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT fa, fb,
              (cl + (l + 1.0) / 2.0 - (N + 1.0) / 2.0)
              * (cl + (l + 1.0) / 2.0 - (N + 1.0) / 2.0) AS s, N
       FROM cum CROSS JOIN tot),
m AS (SELECT MAX(N) AS nn, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(fa * s) AS t FROM sc)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(t, 6) AS t_stat,
       ROUND(CASE WHEN na * nb * (nn + 1.0) * (nn * nn - 4.0) / 180.0 > 0
             THEN (t - na * (nn * nn - 1.0) / 12.0)
                  / sqrt(na * nb * (nn + 1.0) * (nn * nn - 4.0) / 180.0)
             END, 6) AS z
FROM m;""",
)
def x401(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import mood_dispersion

    ev = load_table(spark, sf_dir, "events")
    return mood_dispersion(ev, "value", "event_type", "view", "signup")


@_declare(
    "X402_variance_ratio",
    # Lo-MacKinlay variance ratio on the daily rate, q = 5
    # (timeseries.variance_ratio; Lo & MacKinlay 1988): cumulative
    # events as the level series, so daily counts are its increments -
    # is the 5-day-sum variance 5x the daily variance? VR > 1 =
    # bursty persistence; overlapping bias-corrected estimator,
    # homoskedastic z.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
mm AS (SELECT SUM(y) / (SELECT t FROM bd) AS m FROM grid),
ss AS (SELECT SUM((y - (SELECT m FROM mm)) * (y - (SELECT m FROM mm)))
           AS ss FROM grid),
p AS (SELECT tt + 1 AS t1, SUM(y) OVER (ORDER BY tt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM grid
      UNION ALL SELECT 0, 0.0),
rl AS (SELECT SUM((a.p - b.p - 5.0 * (SELECT m FROM mm))
                  * (a.p - b.p - 5.0 * (SELECT m FROM mm))) AS sq
       FROM p a JOIN p b ON a.t1 = b.t1 + 5),
fin AS (SELECT (SELECT t FROM bd) AS n, sq, (SELECT ss FROM ss) AS ss
        FROM rl)
SELECT n AS n, 5::BIGINT AS q,
       ROUND(CASE WHEN n > 5 AND ss / (n - 1.0) > 0
             THEN (sq / (5.0 * (n - 5 + 1.0) * (1.0 - 5.0 / n)))
                  / (ss / (n - 1.0)) END, 6) AS vr,
       ROUND((CASE WHEN n > 5 AND ss / (n - 1.0) > 0
             THEN (sq / (5.0 * (n - 5 + 1.0) * (1.0 - 5.0 / n)))
                  / (ss / (n - 1.0)) END - 1.0)
             / sqrt(2.0 * 9.0 * 4.0 / (3.0 * 5.0 * n)), 6) AS z
FROM fin;""",
)
def x402(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import variance_ratio

    ev = load_table(spark, sf_dir, "events")
    return variance_ratio(ev, "ts", q=5)


@_declare(
    "X403_spatial_autocorr",
    # Moran's I + Geary's C over the day x hour-of-day activity
    # lattice (timeseries.spatial_autocorr; Moran 1950, Geary 1954):
    # is intensity CLUSTERED in time-of-week space - rook adjacency
    # (day+-1 same hour, hour+-1 same day, no wrap), undirected edges
    # once with the symmetric doubling folded into the closed forms.
    """WITH cell AS (SELECT CAST(ts AS DATE) AS d,
                EXTRACT(hour FROM ts)::BIGINT AS h, COUNT(*)::DOUBLE AS c
       FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS sp FROM cell),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
hrs AS (SELECT unnest(range(0, 24))::BIGINT AS h),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS di, hrs.h AS h,
                COALESCE(c, 0.0) AS c
         FROM cal CROSS JOIN hrs CROSS JOIN bd
         LEFT JOIN cell ON cell.d = cal.d AND cell.h = hrs.h),
nn AS (SELECT (sp * 24)::DOUBLE AS n FROM bd),
mm AS (SELECT SUM(c) / (SELECT n FROM nn) AS m FROM grid),
zg AS (SELECT di, h, c - (SELECT m FROM mm) AS z FROM grid),
ed AS (SELECT a.z AS za, b.z AS zb FROM zg a JOIN zg b
         ON a.di + 1 = b.di AND a.h = b.h
       UNION ALL
       SELECT a.z, b.z FROM zg a JOIN zg b
         ON a.di = b.di AND a.h + 1 = b.h),
es AS (SELECT COUNT(*)::DOUBLE AS ne, SUM(za * zb) AS szz,
              SUM((za - zb) * (za - zb)) AS sd2 FROM ed),
dn AS (SELECT SUM(z * z) AS den FROM zg)
SELECT (SELECT n FROM nn)::BIGINT AS n_cells, ne::BIGINT AS n_edges,
       ROUND(CASE WHEN den > 0 AND ne > 0
             THEN (SELECT n FROM nn) * szz / (ne * den) END, 6) AS moran_i,
       ROUND(CASE WHEN den > 0 AND ne > 0
             THEN ((SELECT n FROM nn) - 1.0) * sd2 / (2.0 * ne * den)
             END, 6) AS geary_c
FROM es CROSS JOIN dn;""",
)
def x403(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import spatial_autocorr

    ev = load_table(spark, sf_dir, "events")
    return spatial_autocorr(ev, "ts")


@_declare(
    "X404_dagostino_k2",
    # D'Agostino-Pearson K^2 omnibus normality on event values
    # (evalmetrics.dagostino_k2; D'Agostino 1970, Anscombe-Glynn 1983,
    # D'Agostino-Belanger-D'Agostino 1990): moment-based normality -
    # the complement to the ECDF screens (X157 KS, X379 Kuiper).
    # Population central moments; every transform is closed-form
    # scalar math replayed in the same order; sign-preserving CBRT in
    # both engines.
    """WITH b AS (SELECT value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL),
mn AS (SELECT COUNT(*)::DOUBLE AS n, SUM(v) / COUNT(*) AS m FROM b),
mo AS (SELECT MAX(n) AS n,
              SUM((v - m) * (v - m)) / MAX(n) AS m2,
              SUM((v - m) * (v - m) * (v - m)) / MAX(n) AS m3,
              SUM((v - m) * (v - m) * (v - m) * (v - m)) / MAX(n) AS m4
       FROM b CROSS JOIN mn),
gb AS (SELECT n,
              CASE WHEN n >= 8 AND m2 > 0 THEN m3 / POW(m2, 1.5) END AS g1,
              CASE WHEN n >= 8 AND m2 > 0 THEN m4 / (m2 * m2) END AS b2
       FROM mo),
sk AS (SELECT n, g1, b2,
              g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
              3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
              / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) AS beta2
       FROM gb),
sk2 AS (SELECT *, -1.0 + sqrt(2.0 * (beta2 - 1.0)) AS w2 FROM sk),
sk3 AS (SELECT *, 1.0 / sqrt(0.5 * ln(w2)) AS delta,
               sqrt(2.0 / (w2 - 1.0)) AS alpha FROM sk2),
z1t AS (SELECT n, g1, b2,
               delta * ln(y / alpha
                          + sqrt((y / alpha) * (y / alpha) + 1.0)) AS z1
        FROM sk3),
ku AS (SELECT n, g1, b2, z1,
              (b2 - 3.0 * (n - 1.0) / (n + 1.0))
              / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
                     / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)))
                AS xx,
              6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
              * sqrt(6.0 * (n + 3.0) * (n + 5.0)
                     / (n * (n - 2.0) * (n - 3.0))) AS sb1
       FROM z1t),
ku2 AS (SELECT *, 6.0 + 8.0 / sb1
               * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS aa FROM ku),
z2t AS (SELECT n, g1, b2, z1,
               ((1.0 - 2.0 / (9.0 * aa))
                - cbrt((1.0 - 2.0 / aa)
                       / NULLIF(1.0 + xx * sqrt(2.0 / (aa - 4.0)), 0.0)))
               / sqrt(2.0 / (9.0 * aa)) AS z2
        FROM ku2)
SELECT n::BIGINT AS n, ROUND(g1, 6) AS g1, ROUND(b2, 6) AS b2,
       ROUND(z1, 6) AS z_skew, ROUND(z2, 6) AS z_kurt,
       ROUND(z1 * z1 + z2 * z2, 6) AS k2
FROM z2t;""",
)
def x404(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import dagostino_k2

    ev = load_table(spark, sf_dir, "events")
    return dagostino_k2(ev, "value")


@_declare(
    "X405_siegel_tukey",
    # Siegel-Tukey outside-in rank dispersion test, purchase vs error
    # values (evalmetrics.siegel_tukey; Siegel & Tukey 1960): 1 to the
    # lowest, 2-3 to the two highest, 4-5 to the next two lowest... -
    # a Wilcoxon on zig-zag scores compares SPREADS on the Wilcoxon
    # null. No observation dropped at odd N (the single middle
    # position is visited last and carries score N); tie-averaged
    # block scores in CLOSED FORM (arithmetic sums minus odd/even
    # counts - exact integers, zero explode); conditional tie-exact
    # moments.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'purchase')::INT)::DOUBLE AS fa,
                 SUM((g = 'error')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
tot AS (SELECT SUM(l) AS N FROM cells),
sc AS (SELECT fa, fb, l, N, cl + 1.0 AS lo, cl + l AS hi,
              FLOOR(N / 2.0) AS c
       FROM cum CROSS JOIN tot),
s1 AS (SELECT fa, fb, l, N,
         CASE WHEN LEAST(hi, c) >= lo
           THEN (lo + LEAST(hi, c)) * (LEAST(hi, c) - lo + 1.0)
                - (FLOOR((LEAST(hi, c) + 1.0) / 2.0) - FLOOR(lo / 2.0))
           ELSE 0.0 END
         + CASE WHEN hi >= GREATEST(lo, N - c + 1.0)
           THEN ((N + 1.0 - hi) + (N + 1.0 - GREATEST(lo, N - c + 1.0)))
                * ((N + 1.0 - GREATEST(lo, N - c + 1.0))
                   - (N + 1.0 - hi) + 1.0)
                - (FLOOR((N + 1.0 - GREATEST(lo, N - c + 1.0)) / 2.0)
                   - FLOOR(((N + 1.0 - hi) - 1.0) / 2.0))
           ELSE 0.0 END
         + CASE WHEN N::BIGINT % 2 = 1 AND lo <= (N + 1.0) / 2.0
                     AND (N + 1.0) / 2.0 <= hi
           THEN N ELSE 0.0 END AS ssum
       FROM sc),
s2 AS (SELECT fa, fb, l, ssum / l AS s FROM s1),
m AS (SELECT MAX(N) AS nn, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(fa * s) AS t, SUM(l * s) AS ls, SUM(l * s * s) AS ls2
      FROM s2 CROSS JOIN tot)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, ROUND(t, 6) AS t_stat,
       ROUND(CASE WHEN na * nb * (nn * ls2 - ls * ls)
                       / (nn * nn * (nn - 1.0)) > 0
             THEN (t - na * ls / nn)
                  / sqrt(na * nb * (nn * ls2 - ls * ls)
                         / (nn * nn * (nn - 1.0))) END, 6) AS z
FROM m;""",
)
def x405(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import siegel_tukey

    ev = load_table(spark, sf_dir, "events")
    return siegel_tukey(ev, "value", "event_type", "purchase", "error")


@_declare(
    "X406_hodges_lehmann",
    # Hodges-Lehmann shift estimate, weekend vs weekday daily counts
    # (timeseries.hodges_lehmann_shift; Hodges & Lehmann 1963): median
    # of ALL pairwise differences - the robust "how much busier" number
    # the rank tests' yes/no answers pair with. Pair relation is
    # calendar-bounded (weekend-days x weekday-days), weekday side
    # broadcast; exact interpolated MEDIAN both engines (Q17
    # convention).
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT cal.d AS d, COALESCE(y, 0.0) AS y
         FROM cal LEFT JOIN daily ON daily.d = cal.d),
wd AS (SELECT y AS ya FROM grid WHERE NOT (ISODOW(d) IN (6, 7))),
we AS (SELECT y AS yb FROM grid WHERE ISODOW(d) IN (6, 7)),
cnt AS (SELECT SUM(CASE WHEN ISODOW(d) IN (6, 7) THEN 0 ELSE 1 END)::BIGINT
               AS na,
               SUM(CASE WHEN ISODOW(d) IN (6, 7) THEN 1 ELSE 0 END)::BIGINT
               AS nb
        FROM grid),
p AS (SELECT yb - ya AS dd FROM we CROSS JOIN wd),
a AS (SELECT COUNT(*)::BIGINT AS np, MEDIAN(dd) AS hl FROM p)
SELECT na AS n_a, nb AS n_b, np AS n_pairs, ROUND(hl, 6) AS hl_shift
FROM a CROSS JOIN cnt;""",
)
def x406(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        hodges_lehmann_shift,
    )

    ev = load_table(spark, sf_dir, "events")
    return hodges_lehmann_shift(ev, "ts")


@_declare(
    "X407_stuart_maxwell",
    # Stuart-Maxwell marginal homogeneity between each user's FIRST
    # and LAST time-of-day bucket (evalmetrics.stuart_maxwell; Stuart
    # 1955, Maxwell 1970): did the daypart DISTRIBUTION shift - the
    # k-category McNemar, the margins question next to X395's ordinal
    # agreement and X308's cell symmetry. Spark solves the bounded
    # (k-1)-dim system driver-side (X104 convention); the twin replays
    # the k=4 case as the closed-form 3x3 adjugate quadratic form.
    """WITH o AS (SELECT user_id,
                  (EXTRACT(hour FROM ts) // 6)::INT AS bk,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rf,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rl
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
fl AS (SELECT user_id,
              MAX(CASE WHEN rf = 1 THEN bk END) AS a,
              MAX(CASE WHEN rl = 1 THEN bk END) AS b
       FROM o GROUP BY 1),
cells AS (SELECT a, b, COUNT(*)::DOUBLE AS n FROM fl GROUP BY 1, 2),
mr AS (SELECT a AS i, SUM(n) AS r FROM cells GROUP BY 1),
mc AS (SELECT b AS i, SUM(n) AS c FROM cells GROUP BY 1),
g AS (SELECT ii.i, COALESCE(r, 0) AS r, COALESCE(c, 0) AS c,
             COALESCE((SELECT n FROM cells
                       WHERE a = ii.i AND b = ii.i), 0) AS nii
      FROM (SELECT unnest(range(0, 4))::INT AS i) ii
      LEFT JOIN mr ON mr.i = ii.i LEFT JOIN mc ON mc.i = ii.i),
pw AS (SELECT
  COALESCE((SELECT n FROM cells WHERE a = 0 AND b = 1), 0)
  + COALESCE((SELECT n FROM cells WHERE a = 1 AND b = 0), 0) AS s01,
  COALESCE((SELECT n FROM cells WHERE a = 0 AND b = 2), 0)
  + COALESCE((SELECT n FROM cells WHERE a = 2 AND b = 0), 0) AS s02,
  COALESCE((SELECT n FROM cells WHERE a = 1 AND b = 2), 0)
  + COALESCE((SELECT n FROM cells WHERE a = 2 AND b = 1), 0) AS s12),
dv AS (SELECT
  (SELECT r - c FROM g WHERE i = 0) AS d0,
  (SELECT r - c FROM g WHERE i = 1) AS d1,
  (SELECT r - c FROM g WHERE i = 2) AS d2,
  (SELECT r + c - 2 * nii FROM g WHERE i = 0) AS v00,
  (SELECT r + c - 2 * nii FROM g WHERE i = 1) AS v11,
  (SELECT r + c - 2 * nii FROM g WHERE i = 2) AS v22,
  -(SELECT s01 FROM pw) AS v01,
  -(SELECT s02 FROM pw) AS v02,
  -(SELECT s12 FROM pw) AS v12),
fin AS (SELECT
  v00 * (v11 * v22 - v12 * v12) - v01 * (v01 * v22 - v12 * v02)
  + v02 * (v01 * v12 - v11 * v02) AS det,
  d0 * d0 * (v11 * v22 - v12 * v12) + d1 * d1 * (v00 * v22 - v02 * v02)
  + d2 * d2 * (v00 * v11 - v01 * v01)
  + 2 * d0 * d1 * (v02 * v12 - v01 * v22)
  + 2 * d0 * d2 * (v01 * v12 - v02 * v11)
  + 2 * d1 * d2 * (v01 * v02 - v00 * v12) AS quad
  FROM dv),
nt AS (SELECT SUM(n)::BIGINT AS n FROM cells)
SELECT 4::BIGINT AS k, (SELECT n FROM nt) AS n, 3::BIGINT AS dof,
       ROUND(CASE WHEN det <> 0 THEN quad / det END, 6) AS chi2
FROM fin;""",
)
def x407(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import stuart_maxwell

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    bk = F.floor(F.hour("ts") / 6).cast("int")
    fl = ev.select("user_id", "ts", "event_id", bk.alias("bk")).groupBy(
        "user_id"
    ).agg(
        F.expr("min_by(bk, struct(ts, event_id))").alias("first_bk"),
        F.expr("max_by(bk, struct(ts, event_id))").alias("last_bk"),
    )
    return stuart_maxwell(fl, "first_bk", "last_bk")


@_declare(
    "X408_lilliefors",
    # Lilliefors normality test on event values (evalmetrics.
    # lilliefors_test; Lilliefors 1967): KS against a normal with mean
    # and sd ESTIMATED from the sample - the ECDF complement to X404's
    # moment-based K2. Phi via the Zelen-Severo polynomial (|err| <
    # 7.5e-8), identical literals and operation order both engines;
    # sample sd (n-1).
    """WITH b AS (SELECT value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL),
mn AS (SELECT COUNT(*)::DOUBLE AS n, SUM(v) / COUNT(*) AS m FROM b),
mo AS (SELECT MAX(n) AS n, MAX(m) AS m,
              sqrt(SUM((v - m) * (v - m)) / NULLIF(MAX(n) - 1.0, 0.0)) AS s
       FROM b CROSS JOIN mn),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
ph AS (SELECT cl, l, n, m, s,
              ABS((v - m) / s) AS ax,
              ((v - m) / s >= 0) AS pos
       FROM cum CROSS JOIN mo WHERE s > 0),
up AS (SELECT cl, l, n, pos,
              1.0 - EXP(-ax * ax / 2.0) / sqrt(2.0 * pi())
              * (0.319381530 * kk + -0.356563782 * kk * kk
                 + 1.781477937 * kk * kk * kk
                 + -1.821255978 * kk * kk * kk * kk
                 + 1.330274429 * kk * kk * kk * kk * kk) AS u
       FROM (SELECT *, 1.0 / (1.0 + 0.2316419 * ax) AS kk FROM ph)),
dd AS (SELECT n,
              GREATEST((cl + l) / n - phi, phi - cl / n) AS d
       FROM (SELECT cl, l, n,
                    CASE WHEN pos THEN u ELSE 1.0 - u END AS phi FROM up)),
mo2 AS (SELECT MAX(m) AS m, MAX(s) AS s FROM mo)
SELECT (SELECT MAX(n) FROM dd)::BIGINT AS n,
       ROUND((SELECT m FROM mo2), 6) AS mean,
       ROUND((SELECT s FROM mo2), 6) AS sd,
       ROUND(MAX(d), 6) AS d_stat
FROM dd;""",
)
def x408(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import lilliefors_test

    ev = load_table(spark, sf_dir, "events")
    return lilliefors_test(ev, "value")


@_declare(
    "X409_runs_two_sample",
    # Wald-Wolfowitz TWO-SAMPLE runs test, click vs error values
    # (evalmetrics.runs_two_sample; 1940): pool, sort by value, count
    # label runs - any distributional difference shortens them; the
    # omnibus screen next to the targeted rank tests. Tie convention
    # replayed by both engines: group-a sorts before group-b within a
    # tied block; run count composed from distinct-value cells + ONE
    # fan-out-1 adjacency join, never a sorted sequence.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
cells AS (SELECT v, COUNT(*)::DOUBLE AS l,
                 SUM((g = 'click')::INT)::DOUBLE AS fa,
                 SUM((g = 'error')::INT)::DOUBLE AS fb
          FROM b GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM cells),
blocks AS (SELECT cl, cl + l AS endp,
                  ((fa > 0) AND (fb > 0))::INT AS internal,
                  CASE WHEN fb > 0 THEN 'b' ELSE 'a' END AS lastl,
                  CASE WHEN fa > 0 THEN 'a' ELSE 'b' END AS firstl
           FROM cum),
bnd AS (SELECT SUM((a.lastl <> x.firstl)::INT)::DOUBLE AS bd
        FROM blocks a JOIN blocks x ON a.endp = x.cl),
m AS (SELECT SUM(l) AS nn, SUM(fa) AS na, SUM(fb) AS nb,
             SUM(((fa > 0) AND (fb > 0))::INT)::DOUBLE AS it FROM cum)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       (1.0 + it + COALESCE(bd, 0.0))::BIGINT AS runs,
       ROUND(CASE WHEN na > 0 AND nb > 0
                  AND 2.0 * na * nb * (2.0 * na * nb - nn)
                      / (nn * nn * (nn - 1.0)) > 0
             THEN ((1.0 + it + COALESCE(bd, 0.0))
                   - (1.0 + 2.0 * na * nb / nn))
                  / sqrt(2.0 * na * nb * (2.0 * na * nb - nn)
                         / (nn * nn * (nn - 1.0))) END, 6) AS z
FROM m CROSS JOIN bnd;""",
)
def x409(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import runs_two_sample

    ev = load_table(spark, sf_dir, "events")
    return runs_two_sample(ev, "value", "event_type", "click", "error")


@_declare(
    "X410_variance_screen",
    # Cochran's C + Hartley's F-max variance-outlier screens across
    # event types (evalmetrics.cochran_c_hartley; Cochran 1941,
    # Hartley 1950): is ONE group's variance an outlier - the
    # single-culprit question the global k-sample tests (X273/X389/
    # X419) average away. Sample variances; unbalanced-n screening
    # read documented, replayed by both engines.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, VAR_SAMP(v) AS s2
        FROM b GROUP BY 1),
m AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, MIN(n) AS nmin,
             MAX(n) AS nmax, MAX(s2) AS smax, MIN(s2) AS smin,
             SUM(s2) AS ssum FROM per)
SELECT k::BIGINT AS k, nn::BIGINT AS n, nmin::BIGINT AS n_min,
       nmax::BIGINT AS n_max,
       ROUND(CASE WHEN k > 1 AND nmin > 1 AND ssum > 0
             THEN smax / ssum END, 6) AS cochran_c,
       ROUND(CASE WHEN k > 1 AND nmin > 1 AND smin > 0
             THEN smax / smin END, 6) AS hartley_fmax
FROM m;""",
)
def x410(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        cochran_c_hartley,
    )

    ev = load_table(spark, sf_dir, "events")
    return cochran_c_hartley(ev, "value", "event_type")


#: X411-X413 share one paired relation: per-user mean event value in
#: the first vs second CALENDAR half of the corpus (integer day
#: arithmetic both engines — no fractional-second boundary risk).
_PAIRED_HALVES_SQL = """WITH e AS (SELECT user_id, ts, value::DOUBLE AS v
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL),
bb AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
       FROM e),
per AS (SELECT user_id,
          AVG(CASE WHEN (CAST(ts AS DATE) - (SELECT d0 FROM bb))
                < FLOOR((((SELECT d1 FROM bb) - (SELECT d0 FROM bb)) + 1)
                        / 2.0) THEN v END) AS x,
          AVG(CASE WHEN (CAST(ts AS DATE) - (SELECT d0 FROM bb))
                >= FLOOR((((SELECT d1 FROM bb) - (SELECT d0 FROM bb)) + 1)
                         / 2.0) THEN v END) AS y
        FROM e GROUP BY 1),
pp AS (SELECT x, y FROM per WHERE x IS NOT NULL AND y IS NOT NULL)"""


def _paired_halves(spark, sf_dir):
    """Per-user (first-half mean value, second-half mean value) pairs —
    the shared input of the agreement trio X411/X412/X413. The calendar
    midpoint is a 1-row broadcast (never collected); the split is
    integer day arithmetic, replayed identically by the SQL twin."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    b = ev.agg(
        F.min(F.to_date("ts")).alias("_d0"),
        F.max(F.to_date("ts")).alias("_d1"),
    )
    j = ev.crossJoin(F.broadcast(b))
    half = F.floor(
        (F.datediff(F.col("_d1"), F.col("_d0")) + 1) / 2.0
    )
    in_first = F.datediff(F.to_date("ts"), F.col("_d0")) < half
    per = j.groupBy("user_id").agg(
        F.avg(F.when(in_first, F.col("value"))).alias("x"),
        F.avg(F.when(~in_first, F.col("value"))).alias("y"),
    )
    return per.filter(F.col("x").isNotNull() & F.col("y").isNotNull())


@_declare(
    "X411_lin_ccc",
    # Lin's concordance correlation between each user's first-half and
    # second-half mean event value (evalmetrics.lin_ccc; Lin 1989):
    # agreement with the 45-degree line, not mere correlation -
    # Pearson forgives scale/location shifts, CCC charges for them.
    # Population moments; the estimation member of the agreement trio
    # (X412 Deming line, X413 Bland-Altman interval).
    _PAIRED_HALVES_SQL + """,
mn AS (SELECT COUNT(*)::DOUBLE AS n, SUM(x) / COUNT(*) AS mx,
              SUM(y) / COUNT(*) AS my FROM pp),
mo AS (SELECT MAX(n) AS n, MAX(mx) AS mx, MAX(my) AS my,
              SUM((x - mx) * (x - mx)) / MAX(n) AS sxx,
              SUM((y - my) * (y - my)) / MAX(n) AS syy,
              SUM((x - mx) * (y - my)) / MAX(n) AS sxy
       FROM pp CROSS JOIN mn)
SELECT n::BIGINT AS n, ROUND(mx, 6) AS mean_x, ROUND(my, 6) AS mean_y,
       ROUND(CASE WHEN sxx + syy + (mx - my) * (mx - my) > 0
             THEN 2.0 * sxy / (sxx + syy + (mx - my) * (mx - my)) END, 6)
         AS ccc
FROM mo;""",
)
def x411(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import lin_ccc

    return lin_ccc(_paired_halves(spark, sf_dir), "x", "y")


@_declare(
    "X412_deming_regression",
    # Deming errors-in-variables line through the same paired halves
    # (evalmetrics.deming_regression; Deming 1943, delta = 1 =
    # orthogonal): the structural slope when BOTH halves carry noise -
    # OLS would attenuate toward 0 by the x-noise share. Closed form
    # from population moments; the line member of the agreement trio.
    _PAIRED_HALVES_SQL + """,
mn AS (SELECT COUNT(*)::DOUBLE AS n, SUM(x) / COUNT(*) AS mx,
              SUM(y) / COUNT(*) AS my FROM pp),
mo AS (SELECT MAX(n) AS n, MAX(mx) AS mx, MAX(my) AS my,
              SUM((x - mx) * (x - mx)) / MAX(n) AS sxx,
              SUM((y - my) * (y - my)) / MAX(n) AS syy,
              SUM((x - mx) * (y - my)) / MAX(n) AS sxy
       FROM pp CROSS JOIN mn),
bt AS (SELECT n, mx, my,
              CASE WHEN sxy <> 0
                THEN (syy - 1.0 * sxx
                      + sqrt((syy - 1.0 * sxx) * (syy - 1.0 * sxx)
                             + 4.0 * 1.0 * sxy * sxy)) / (2.0 * sxy)
              END AS beta
       FROM mo)
SELECT n::BIGINT AS n, ROUND(beta, 6) AS slope,
       ROUND(my - beta * mx, 6) AS intercept
FROM bt;""",
)
def x412(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        deming_regression,
    )

    return deming_regression(_paired_halves(spark, sf_dir), "x", "y")


@_declare(
    "X413_bland_altman",
    # Bland-Altman limits of agreement over the same paired halves
    # (evalmetrics.bland_altman; 1986): bias +- 1.96 sample-sd of the
    # paired differences, plus the observed outside-limits fraction
    # (~5% under normality - a free calibration read). The interval
    # member of the agreement trio.
    _PAIRED_HALVES_SQL + """,
dd AS (SELECT y - x AS d FROM pp),
mn AS (SELECT COUNT(*)::DOUBLE AS n, SUM(d) / COUNT(*) AS b FROM dd),
mo AS (SELECT MAX(n) AS n, MAX(b) AS b,
              sqrt(SUM((d - b) * (d - b))
                   / NULLIF(MAX(n) - 1.0, 0.0)) AS s
       FROM dd CROSS JOIN mn),
oc AS (SELECT MAX(n) AS n, MAX(b) AS b, MAX(s) AS s,
              SUM((ABS(d - b) > 1.96 * s)::INT)::DOUBLE / MAX(n) AS pct
       FROM dd CROSS JOIN mo)
SELECT n::BIGINT AS n, ROUND(b, 6) AS bias, ROUND(s, 6) AS sd_diff,
       ROUND(b - 1.96 * s, 6) AS loa_lo, ROUND(b + 1.96 * s, 6) AS loa_hi,
       ROUND(pct, 6) AS pct_outside
FROM oc;""",
)
def x413(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import bland_altman

    return bland_altman(_paired_halves(spark, sf_dir), "x", "y")


@_declare(
    "X414_dunn_posthoc",
    # Dunn's post-hoc pairwise z's across ALL event types after
    # Kruskal-Wallis (evalmetrics.dunn_posthoc; Dunn 1964): WHICH
    # groups differ once the omnibus says some do - pooled mean
    # midranks, shared tie correction, raw z per group pair (k^2-
    # bounded rows; apply your own Bonferroni/Holm downstream).
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
cells AS (SELECT v, g, COUNT(*)::DOUBLE AS f FROM b GROUP BY 1, 2),
vc AS (SELECT v, SUM(f) AS l FROM cells GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM vc),
rk AS (SELECT cells.g, cells.f, cum.cl + (cum.l + 1.0) / 2.0 AS r
       FROM cells JOIN cum USING (v)),
gs AS (SELECT g, SUM(f) AS ng, SUM(f * r) / SUM(f) AS mr
       FROM rk GROUP BY 1),
tie AS (SELECT SUM(l) AS N, SUM(l * l * l - l) AS T FROM cum)
SELECT a.g AS g1, x.g AS g2, a.ng::BIGINT AS n_1, x.ng::BIGINT AS n_2,
       ROUND(a.mr, 6) AS mean_rank_1, ROUND(x.mr, 6) AS mean_rank_2,
       ROUND(CASE WHEN (N * (N + 1.0) / 12.0 - T / (12.0 * (N - 1.0)))
                       * (1.0 / a.ng + 1.0 / x.ng) > 0
             THEN (a.mr - x.mr)
                  / sqrt((N * (N + 1.0) / 12.0 - T / (12.0 * (N - 1.0)))
                         * (1.0 / a.ng + 1.0 / x.ng)) END, 6) AS z
FROM gs a JOIN gs x ON a.g < x.g CROSS JOIN tie
ORDER BY g1, g2;""",
)
def x414(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import dunn_posthoc

    ev = load_table(spark, sf_dir, "events")
    return dunn_posthoc(ev, "value", "event_type")


@_declare(
    "X415_cohens_d",
    # Cohen's d + Hedges' g, purchase vs view values (evalmetrics.
    # cohens_d; Cohen 1969, Hedges 1981): HOW BIG is the shift in
    # pooled-sd units - the effect-size companion to the two-sample
    # p-value machinery; standard J = 1 - 3/(4 df - 1) small-sample
    # correction.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(v) AS m,
               COALESCE(VAR_SAMP(v), 0.0) AS s2 FROM b GROUP BY 1),
m AS (SELECT MAX(CASE WHEN g = 'purchase' THEN n END) AS na,
             MAX(CASE WHEN g = 'view' THEN n END) AS nb,
             MAX(CASE WHEN g = 'purchase' THEN m END) AS ma,
             MAX(CASE WHEN g = 'view' THEN m END) AS mb,
             MAX(CASE WHEN g = 'purchase' THEN s2 END) AS sa2,
             MAX(CASE WHEN g = 'view' THEN s2 END) AS sb2
      FROM per),
dd AS (SELECT na, nb,
              CASE WHEN na >= 2 AND nb >= 2
                    AND sqrt(((na - 1.0) * sa2 + (nb - 1.0) * sb2)
                             / NULLIF(na + nb - 2.0, 0.0)) > 0
                THEN (ma - mb)
                     / sqrt(((na - 1.0) * sa2 + (nb - 1.0) * sb2)
                            / NULLIF(na + nb - 2.0, 0.0)) END AS d,
              1.0 - 3.0 / (4.0 * (na + nb - 2.0) - 1.0) AS jj
       FROM m)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, ROUND(d, 6) AS d,
       ROUND(jj * d, 6) AS g
FROM dd;""",
)
def x415(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import cohens_d

    ev = load_table(spark, sf_dir, "events")
    return cohens_d(ev, "value", "event_type", "purchase", "view")


@_declare(
    "X416_welch_anova",
    # Welch's heteroscedastic one-way ANOVA across all event types
    # (evalmetrics.welch_anova; Welch 1951): the k-group mean
    # comparison WITHOUT equal variances - the k-sample sequel to
    # welch_ttest, reached for exactly when X273's Brown-Forsythe
    # variance test rejects; Satterthwaite-style df2.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(v) AS m, VAR_SAMP(v) AS s2
        FROM b GROUP BY 1),
w AS (SELECT n, m, s2,
             CASE WHEN n > 1 AND s2 > 0 THEN n / s2 END AS w FROM per),
tot AS (SELECT COUNT(*)::DOUBLE AS k, SUM(n) AS nn, SUM(w) AS wsum,
               SUM(w * m) AS wm,
               MIN((n > 1 AND s2 > 0)::INT) AS allok FROM w),
m AS (SELECT MAX(k) AS k, MAX(nn) AS nn, MAX(allok) AS allok,
             SUM(w.w * (m - wm / wsum) * (m - wm / wsum)) AS A0,
             SUM((1.0 - w.w / wsum) * (1.0 - w.w / wsum) / (n - 1.0)) AS S
      FROM w CROSS JOIN tot)
SELECT k::BIGINT AS k, nn::BIGINT AS n,
       ROUND(CASE WHEN k > 1 AND allok = 1
             THEN (A0 / (k - 1.0))
                  / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * S) END, 6)
         AS f_stat,
       (k - 1)::BIGINT AS df1,
       ROUND(CASE WHEN k > 1 AND allok = 1
             THEN (k * k - 1.0) / (3.0 * S) END, 6) AS df2
FROM m;""",
)
def x416(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import welch_anova

    ev = load_table(spark, sf_dir, "events")
    return welch_anova(ev, "value", "event_type")


@_declare(
    "X417_games_howell",
    # Games-Howell post-hoc pairwise comparisons across all event
    # types (evalmetrics.games_howell; 1976): which MEANS differ under
    # unequal variances - the heteroscedastic Tukey HSD, the pairwise
    # follow-up to X416's Welch ANOVA as X414 (Dunn) is to
    # Kruskal-Wallis. Raw signed q + Welch-Satterthwaite df per pair;
    # k^2-bounded group pairs.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
per AS (SELECT g, COUNT(*)::DOUBLE AS n, AVG(v) AS m, VAR_SAMP(v) AS s2
        FROM b GROUP BY 1)
SELECT a.g AS g1, x.g AS g2, a.n::BIGINT AS n_1, x.n::BIGINT AS n_2,
       ROUND(a.m - x.m, 6) AS diff,
       ROUND(CASE WHEN a.n > 1 AND x.n > 1 AND a.s2 > 0 AND x.s2 > 0
             THEN (a.m - x.m)
                  / sqrt((a.s2 / a.n + x.s2 / x.n) / 2.0) END, 6) AS q_stat,
       ROUND(CASE WHEN a.n > 1 AND x.n > 1 AND a.s2 > 0 AND x.s2 > 0
             THEN (a.s2 / a.n + x.s2 / x.n) * (a.s2 / a.n + x.s2 / x.n)
                  / ((a.s2 / a.n) * (a.s2 / a.n) / (a.n - 1.0)
                     + (x.s2 / x.n) * (x.s2 / x.n) / (x.n - 1.0)) END, 6)
         AS df
FROM per a JOIN per x ON a.g < x.g
ORDER BY g1, g2;""",
)
def x417(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import games_howell

    ev = load_table(spark, sf_dir, "events")
    return games_howell(ev, "value", "event_type")


@_declare(
    "X418_seasonal_mann_kendall",
    # Seasonal Mann-Kendall with day-of-week strata (timeseries.
    # seasonal_mann_kendall; Hirsch-Slack 1984): Kendall's S within
    # each weekday, summed - a weekly cycle can no longer masquerade
    # as (or mask) a monotone trend, the failure mode of plain MK
    # (X205 family) on seasonal data. Per-stratum tie-corrected
    # variances summed; the mann_kendall continuity-correction
    # convention.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT ISODOW(cal.d) AS s, (cal.d - bd.d0)::BIGINT AS tt,
                COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
sp AS (SELECT SUM(SIGN(b.y - a.y)) AS S
       FROM grid a JOIN grid b ON a.s = b.s AND a.tt < b.tt),
pn AS (SELECT s, COUNT(*)::DOUBLE AS ng FROM grid GROUP BY 1),
ti AS (SELECT s, SUM(tc * (tc - 1.0) * (2.0 * tc + 5.0)) AS tie3
       FROM (SELECT s, y, COUNT(*)::DOUBLE AS tc FROM grid GROUP BY 1, 2)
       GROUP BY 1),
vv AS (SELECT SUM((ng * (ng - 1.0) * (2.0 * ng + 5.0) - tie3) / 18.0) AS V,
              COUNT(*)::BIGINT AS k
       FROM pn JOIN ti USING (s))
SELECT (SELECT t FROM bd) AS t, k AS n_seasons, S::BIGINT AS s_stat,
       ROUND(V, 6) AS var_s,
       ROUND(CASE WHEN V > 0
             THEN (CASE WHEN S > 0 THEN S - 1
                        WHEN S < 0 THEN S + 1 ELSE 0 END) / sqrt(V)
             END, 6) AS z
FROM sp CROSS JOIN vv;""",
)
def x418(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        seasonal_mann_kendall,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_mann_kendall(ev, "ts")


@_declare(
    "X419_conover_squared_ranks",
    # Conover squared-ranks k-sample variance test across event types
    # (evalmetrics.conover_squared_ranks; Conover 1980): pooled
    # midranks of |x - mean_g|, SQUARED - the rank-based k-sample
    # scale test between X389's normal scores and X273's parametric
    # median-ANOVA; midrank powers exact in doubles.
    """WITH b AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
       WHERE value IS NOT NULL AND event_type IS NOT NULL),
md AS (SELECT g, AVG(v) AS m FROM b GROUP BY 1),
u AS (SELECT b.g, ABS(v - m) AS u FROM b JOIN md USING (g)),
cells AS (SELECT u, g, COUNT(*)::DOUBLE AS f FROM u GROUP BY 1, 2),
vc AS (SELECT u, SUM(f) AS l FROM cells GROUP BY 1),
cum AS (SELECT *, COALESCE(SUM(l) OVER (ORDER BY u
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        FROM vc),
rk AS (SELECT cells.g, cells.f, cum.cl + (cum.l + 1.0) / 2.0 AS r
       FROM cells JOIN cum USING (u)),
gs AS (SELECT g, SUM(f) AS ng, SUM(f * r * r) AS sg FROM rk GROUP BY 1),
gt AS (SELECT COUNT(*)::DOUBLE AS k, SUM(sg * sg / ng) AS ssq FROM gs),
mo AS (SELECT SUM(l) AS nn,
              SUM(l * (cl + (l + 1.0) / 2.0) * (cl + (l + 1.0) / 2.0)) AS r2,
              SUM(l * (cl + (l + 1.0) / 2.0) * (cl + (l + 1.0) / 2.0)
                    * (cl + (l + 1.0) / 2.0) * (cl + (l + 1.0) / 2.0)) AS r4
       FROM cum)
SELECT k::BIGINT AS k, nn::BIGINT AS n,
       ROUND(CASE WHEN (r4 - nn * (r2 / nn) * (r2 / nn)) / (nn - 1.0) > 0
             THEN (ssq - nn * (r2 / nn) * (r2 / nn))
                  / ((r4 - nn * (r2 / nn) * (r2 / nn)) / (nn - 1.0))
             END, 6) AS t_stat
FROM gt CROSS JOIN mo;""",
)
def x419(spark, sf_dir):
    from swivel_spark_prep_spark.operators.evalmetrics import (
        conover_squared_ranks,
    )

    ev = load_table(spark, sf_dir, "events")
    return conover_squared_ranks(ev, "value", "event_type")


@_declare(
    "X420_spectral_entropy",
    # Normalized spectral entropy of the daily rate (timeseries.
    # spectral_entropy; Inouye 1991 / the tsfeatures forecastability
    # measure): Shannon entropy of the full-Fourier-grid periodogram -
    # 0 = one pure cycle, 1 = white noise; the whole-spectrum
    # complement to X342's named-period probe and X378's seasonal
    # strength. Frequency axis = one bounded explode over the
    # AGGREGATED day grid.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
qq AS (SELECT t, CAST(FLOOR(t / 2.0) AS BIGINT) AS m FROM bd),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
mm AS (SELECT SUM(y) / (SELECT t FROM qq) AS mu FROM grid),
e AS (SELECT tt, y - (SELECT mu FROM mm) AS e FROM grid),
ll AS (SELECT unnest(range(1, (SELECT m FROM qq) + 1)) AS k),
pk AS (SELECT ll.k,
              SUM(e.e * cos(2.0 * pi() * ll.k * e.tt
                            / (SELECT t FROM qq))) AS a,
              SUM(e.e * sin(2.0 * pi() * ll.k * e.tt
                            / (SELECT t FROM qq))) AS b
       FROM ll CROSS JOIN e GROUP BY ll.k),
pw AS (SELECT a * a + b * b AS p FROM pk),
h AS (SELECT SUM(p) AS tot,
             SUM(CASE WHEN p > 0 THEN p * ln(p) END) AS spl FROM pw)
SELECT (SELECT t FROM qq) AS t, (SELECT m FROM qq) AS m,
       ROUND(CASE WHEN tot > 0
             THEN (ln(tot) - spl / tot) / ln((SELECT m FROM qq)) END, 6)
         AS entropy
FROM h;""",
)
def x420(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import spectral_entropy

    ev = load_table(spark, sf_dir, "events")
    return spectral_entropy(ev, "ts")


@_declare(
    "X421_forecast_baselines",
    # Naive vs seasonal-naive one-step forecast evaluation on the
    # daily rate (timeseries.forecast_baselines; Hyndman-Koehler 2006
    # MASE, Theil's U2 ratio form): the floor every real model must
    # beat and the denominator the scaled metrics are defined
    # against - MASE < 1 means the weekly carry beats the daily
    # carry. Common evaluation window t >= 7.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT (cal.d - bd.d0)::BIGINT AS tt, COALESCE(y, 0.0) AS y
         FROM cal CROSS JOIN bd LEFT JOIN daily ON daily.d = cal.d),
j AS (SELECT a.y AS ya, l1.y AS y1, ls.y AS ys
      FROM grid a
      JOIN grid l1 ON a.tt = l1.tt + 1
      JOIN grid ls ON a.tt = ls.tt + 7
      WHERE a.tt >= 7),
m AS (SELECT COUNT(*)::DOUBLE AS n,
             AVG(ABS(ya - y1)) AS mae1, sqrt(AVG((ya - y1) * (ya - y1)))
               AS rmse1,
             AVG(ABS(ya - ys)) AS mae7, sqrt(AVG((ya - ys) * (ya - ys)))
               AS rmse7
      FROM j)
SELECT n::BIGINT AS n_eval, ROUND(mae1, 6) AS mae_naive,
       ROUND(rmse1, 6) AS rmse_naive, ROUND(mae7, 6) AS mae_snaive,
       ROUND(rmse7, 6) AS rmse_snaive,
       ROUND(CASE WHEN mae1 > 0 THEN mae7 / mae1 END, 6) AS mase_snaive,
       ROUND(CASE WHEN rmse1 > 0 THEN rmse7 / rmse1 END, 6) AS u2_snaive
FROM m;""",
)
def x421(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import (
        forecast_baselines,
    )

    ev = load_table(spark, sf_dir, "events")
    return forecast_baselines(ev, "ts", season=7)


@_declare(
    "X422_dixon_q",
    # Dixon's Q gap-to-range outlier screen on the daily rate
    # (timeseries.dixon_q; Dixon 1950, r10): is the most extreme day
    # an outlier - the classical small-n test whose design regime
    # (n <= ~30) is exactly a daily span; duplicate extremes make the
    # gap 0, honored by both engines' order-statistic arithmetic.
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*)::DOUBLE AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
bd AS (SELECT MIN(d) AS d0, MAX(d) AS d1,
              ((MAX(d) - MIN(d)) + 1)::BIGINT AS t FROM daily),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bd),
grid AS (SELECT COALESCE(y, 0.0) AS y
         FROM cal LEFT JOIN daily ON daily.d = cal.d),
ext AS (SELECT MIN(y) AS mn, MAX(y) AS mx FROM grid),
sec AS (SELECT MAX(mn) AS mn, MAX(mx) AS mx,
               SUM((y = mn)::INT)::BIGINT AS cmn,
               SUM((y = mx)::INT)::BIGINT AS cmx,
               MIN(CASE WHEN y > mn THEN y END) AS mn2,
               MAX(CASE WHEN y < mx THEN y END) AS mx2
        FROM grid CROSS JOIN ext)
SELECT (SELECT t FROM bd) AS t,
       ROUND(CASE WHEN mx - mn > 0
             THEN ((CASE WHEN cmn > 1 THEN mn ELSE mn2 END) - mn)
                  / (mx - mn) END, 6) AS q_low,
       ROUND(CASE WHEN mx - mn > 0
             THEN (mx - (CASE WHEN cmx > 1 THEN mx ELSE mx2 END))
                  / (mx - mn) END, 6) AS q_high,
       ROUND(GREATEST(
         CASE WHEN mx - mn > 0
              THEN ((CASE WHEN cmn > 1 THEN mn ELSE mn2 END) - mn)
                   / (mx - mn) END,
         CASE WHEN mx - mn > 0
              THEN (mx - (CASE WHEN cmx > 1 THEN mx ELSE mx2 END))
                   / (mx - mn) END), 6) AS q_max
FROM sec;""",
)
def x422(spark, sf_dir):
    from swivel_spark_prep_spark.operators.timeseries import dixon_q

    ev = load_table(spark, sf_dir, "events")
    return dixon_q(ev, "ts")
