"""Global plan lint: invariants every registered query's PHYSICAL plan must
hold, checked wholesale rather than per-query. These are the absolute bans
the 100 TB design rests on — individual topology assertions live in
test_plans.py; this guarantees no future registration quietly violates the
floor rules.

- No ``CartesianProduct`` anywhere: every cross join in the surface must be
  a broadcast of a provably tiny frame (scalar aggregates, codebooks, bucket
  seeds), which Spark plans as BroadcastNestedLoopJoin — an unbounded
  cartesian is always a bug.
- No ``BatchEvalPython`` (row-at-a-time Python UDF): Python is allowed only
  behind Arrow (``ArrowEvalPython`` / mapInPandas / grouped-agg pandas),
  never per-row.
- No UNPARTITIONED Window over an unbounded-grain frame: a global
  ``Window.orderBy(...)`` serializes its whole input through one task — the
  classic per-entity-scoring scale trap (VERDICT r6 item 2). Queries whose
  global windows run over frames that are BOUNDED BY CONSTRUCTION (coarse
  histograms, bucket summaries, day/batch grain, two-phase top-k survivor
  sets) are allowlisted with their bound; anything else fails the build.
"""

from __future__ import annotations

import re

from fxspark.queries import QUERIES

BANNED = ("CartesianProduct", "BatchEvalPython")

# Queries allowed to carry an unpartitioned Window, each with the reason its
# window input is bounded by construction (NOT by data luck). Adding a name
# here requires stating the bound.
GLOBAL_WINDOW_OK = {
    # ops/quantile.quantile_bins histogram prefix-sum: <= coarse_buckets
    # (1024) rows by construction.
    "customer_spend_quartiles": "quantile coarse-histogram grain <= 1024",
    "customer_decile_bands": "quantile coarse-histogram grain <= 1024",
    "lineitem_volume_price_quartiles": "quantile coarse-histogram grain <= 1024",
    "part_revenue_abc": "quantile coarse-histogram grain <= 1024",
    # ops/skyline bucket-summary seed prefix: <= n_buckets rows.
    "part_price_skyline": "skyline bucket-summary grain <= n_buckets",
    # Gini rank window over COUNT-OF-COUNTS (distinct per-key frequency
    # values — orders of magnitude below key count, see its docstring).
    "events_key_skew_report": "count-of-counts grain",
    # Zipf rank over the token vocabulary (vocab grain; two-phase form
    # documented in SCALE.md if vocabulary ever rivals corpus size).
    "doc_zipf_fit": "vocabulary grain",
    "doc_token_coverage": "vocabulary grain + two-phase top-k survivors",
    # Largest-remainder allocation over split x group combinations.
    "doc_split_quota": "split x group-combination grain",
    # Calendar-day grain.
    "daily_new_users": "day grain",
    # ops/latest two-phase global top-k phase 2: <= k x numPartitions
    # survivors regardless of data size (phase 1 is partition-local).
    "token_pmi_pairs": "two-phase top-k survivors <= k x numPartitions",
    "source_token_kl": "two-phase top-k survivors <= k x numPartitions",
    "events_value_topk": "two-phase top-k survivors <= k x numPartitions",
    # Bounded probe-sample evaluation frames (<= 64 queries x k).
    "embedding_knn_label_agreement": "probe-sample grain <= 64 x k",
    "embedding_quantized_recall": "probe-sample grain <= 64 x k",
    # Replay-batch grain (a handful of micro-batches).
    "shingle_novelty_curve": "batch grain",
    # Nation-dimension grain (25 rows) — the deliberate teaching pair to
    # the quantile scale form: rank-family windows on bounded rollups.
    "nation_revenue_ranking": "nation grain (25 rows)",
    # Nelson-Aalen at-risk/cumulative windows run over the lifetime-month
    # rollup: <= study length in months by construction (subjects are
    # hash-aggregated away first — ops/stats.cumulative_hazard).
    "customer_churn_hazard": "lifetime-month grain <= study length",
    # Decile gains table: quantile coarse-histogram grain (<= 1024) from
    # ops/quantile.quantile_bins plus lift/capture windows over exactly
    # the 10 decile rows.
    "customer_decile_lift": "quantile coarse-histogram + 10-decile grain",
    # Vocabulary top-k via ops/latest two-phase global top-k, same bound
    # as source_token_kl.
    "source_token_jsd": "two-phase top-k survivors <= k x numPartitions",
    # Two quantile_bins calls (one per layout): coarse-histogram prefix
    # windows, <= 1024 rows each by construction.
    "events_layout_pruning_compare": "quantile coarse-histogram grain <= 1024",
}


def _top_level_groups(s: str) -> list[str]:
    """Split `[a], [b], [c]` into top-level bracket groups (functions in the
    first group may nest brackets — e.g. array indexing — so plain regex
    splitting is unsafe)."""
    groups: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes with no partition spec. A Window line reads
    ``Window [funcs], [partition], [order]`` (3 groups) when partitioned;
    2 groups is either unpartitioned-with-order (order specs always carry
    ASC/DESC) or partitioned-without-order (fine)."""
    hits = []
    for line in plan.splitlines():
        t = line.strip().lstrip("+-: *")
        if not t.startswith("Window "):
            continue
        groups = _top_level_groups(t[len("Window "):])
        if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
            hits.append(groups[1][:80])
    return hits


# Base-table scan budget: a plan whose scan count far exceeds the tables it
# references is recomputing a multi-consumer frame instead of materializing
# it — locally invisible (partial combines make fixture scans cheap), fatal
# at 100 TB where every extra scan re-reads the base. The round-10 sweep
# found and fixed 68-scan (apriori), 34-scan (triangles), 18-scan
# (trade_triangles) and 2^stages (funnel) shapes; this bound keeps the
# class from regressing. Queries allowed above the bound must state why.
#
# KNOWN BLIND SPOT: scans inside a persisted/localCheckpointed subtree do
# not appear in the outer executed plan (InMemoryTableScan / ExistingRDD),
# so a materialization wrapped around a still-recomputing subtree passes
# unseen. The budget therefore bounds RECOMPUTED scans across consumers —
# the class the sweep targeted — not total scans per materialization;
# inner-subtree duplication is the code-review checklist's job (check
# every frame with 2+ consumers inside an op before materializing it).
SCAN_BUDGET = 10


def _count_scans(plan: str) -> int:
    """Count base-table scan nodes in an executed-plan string.

    Matches any DSv1/DSv2 source node (``FileScan parquet``, ``FileScan
    csv``, ``BatchScan``, ``Scan ExistingRDD`` is deliberately EXCLUDED —
    that's a materialized frame, not a base re-read). Regex on the node
    name rather than a ``"Scan parquet"`` substring so non-parquet
    sources count too and Spark-version formatting drift (v1 vs v2 scan
    exec naming) fails loudly here instead of silently weakening the
    lint. Assumption: plan strings name scan nodes ``FileScan <fmt>`` or
    ``BatchScan``; pinned by test_count_scans_matches_known_shapes.
    """
    return len(re.findall(r"\b(?:FileScan \w+|BatchScan)\b", plan))


SCAN_BUDGET_OK = {
    # Tick-replay harnesses: each synthesized tick filters the base table,
    # so scans grow with the DECLARED tick count (a real CDC feed arrives
    # as deltas; the re-scan is the replay fixture, not the operator).
    "orders_delta_join_ticks": "per-tick replay synthesis (fixed tick count)",
}


def test_every_query_plan_respects_global_bans(spark, sf_dir):
    violations: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = [t for t in BANNED if t in plan]
        gw = _unpartitioned_windows(plan)
        if gw and name not in GLOBAL_WINDOW_OK:
            hits.append(f"unpartitioned Window: {gw}")
        n_scans = _count_scans(plan)
        if n_scans > SCAN_BUDGET and name not in SCAN_BUDGET_OK:
            hits.append(f"{n_scans} base-table scans (budget {SCAN_BUDGET})")
        if hits:
            violations[name] = hits
    assert not violations, violations


def test_scan_budget_allowlist_has_no_stale_entries(spark, sf_dir):
    """Every SCAN_BUDGET_OK entry must still (a) be registered and
    (b) actually exceed the budget — the same staleness rule as the
    window allowlist, so a refactored-below-budget query can't leave a
    dead entry that silently re-admits the recompute class."""
    stale = []
    for name in SCAN_BUDGET_OK:
        if name not in QUERIES:
            stale.append(f"{name}: not registered")
            continue
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if _count_scans(plan) <= SCAN_BUDGET:
            stale.append(f"{name}: within budget, entry is dead weight")
    assert not stale, stale


def test_global_window_allowlist_has_no_stale_entries(spark, sf_dir):
    """Every allowlisted name must still (a) be registered and (b) actually
    carry an unpartitioned window — otherwise the entry is dead weight that
    would silently re-admit a future global sort."""
    stale = []
    for name in GLOBAL_WINDOW_OK:
        if name not in QUERIES:
            stale.append(f"{name}: not registered")
            continue
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if not _unpartitioned_windows(plan):
            stale.append(f"{name}: no unpartitioned window in plan")
    assert not stale, stale


def test_count_scans_matches_known_shapes(spark, sf_dir):
    """Pin the _count_scans node-name assumption against a live plan
    (a parquet read must count as exactly one scan; a joined pair as
    two) and against synthetic strings for the formats/engines this
    Spark version doesn't exercise locally (csv, DSv2 BatchScan)."""
    one = spark.read.parquet(f"{sf_dir}/region.parquet")
    plan1 = one._jdf.queryExecution().executedPlan().toString()
    assert _count_scans(plan1) == 1, plan1
    two = one.crossJoin(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    plan2 = two._jdf.queryExecution().executedPlan().toString()
    assert _count_scans(plan2) == 2, plan2
    # Synthetic coverage for node names not produced locally:
    assert _count_scans("+- FileScan csv [a#1] Batched: false") == 1
    assert _count_scans("+- BatchScan[a#1] class org.x.Y") == 1
    # Materialized frames are NOT base re-reads:
    assert _count_scans("+- Scan ExistingRDD[a#1]") == 0
    assert _count_scans("+- InMemoryTableScan [a#1]") == 0


# Op-level scan budget: the global budget above counts scans in the OUTER
# executed plan, so scans hidden INSIDE a localCheckpointed subtree are
# invisible to it (the documented blind spot). This lint closes that hole
# for the checkpoint-heavy modules by intercepting localCheckpoint itself:
# every frame a representative query materializes gets its PRE-checkpoint
# plan scan-counted at call time, so a materialization wrapped around a
# still-recomputing subtree (e.g. a union whose branches each re-run a
# 6-table join) fails here even though the outer plan shows one ExistingRDD.
INNER_SCAN_BUDGET = 10
CHECKPOINT_HEAVY = [
    "part_copurchase_ppr",           # graph.py: shared edge build + iterations
    "part_copurchase_clustering",    # graph.py: triangle engine internals
    "minhash_lsh_pairs",             # dedup.py: shingle sets + signatures
    "doc_jaccard_pairs_capped",      # dedup.py: capped inverted index
    "doc_shingle_containment",       # dedup.py: doc sets + capped index
    "brand_triples_apriori",         # itemsets.py: pair frame + support scalar
    "event_funnel_stages",           # windows.py: per-iteration checkpoint
]


def test_checkpointed_subtrees_respect_scan_budget(spark, sf_dir):
    # Patch the CONCRETE class: in PySpark 4 `pyspark.sql.DataFrame` is the
    # abstract facade and the classic session's frames override
    # localCheckpoint on pyspark.sql.classic.dataframe.DataFrame — patching
    # the facade would never be hit.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    recorded: list[tuple[str, int]] = []
    original = DataFrame.localCheckpoint

    def recording(self, eager=True):
        plan = self._jdf.queryExecution().executedPlan().toString()
        recorded.append((plan.splitlines()[0][:60], _count_scans(plan)))
        return original(self, eager=eager)

    DataFrame.localCheckpoint = recording
    try:
        violations = {}
        for name in CHECKPOINT_HEAVY:
            recorded.clear()
            QUERIES[name](spark, sf_dir).count()
            over = [(h, n) for h, n in recorded if n > INNER_SCAN_BUDGET]
            if over:
                violations[name] = over
            assert recorded, f"{name}: no localCheckpoint observed (update list)"
    finally:
        DataFrame.localCheckpoint = original
    assert not violations, violations
