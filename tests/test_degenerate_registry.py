"""Round-14 degenerate-input gate: the FULL registry differential on EMPTY,
ONE-ROW, ALL-NULL-PAYLOAD, and ALTERNATING-NULL star schemas (the r13
verdict's top ask, plus the sf_nulls / sf_mixed axes it predicted under
"NULL-only aggregates").

D12 (``fxspark/sqlfuzz.py``) proved a class of Spark-vs-oracle divergences
that only degenerate inputs expose; until this round the 249 registry
queries had only ever run on well-populated fixtures. The sweep found and
fixed five divergence classes (every fix a no-op on non-empty input, the
D12 discipline; gate-scale parity re-proven for each touched query):

1. GROUPING-SET GRAND TOTALS (D12 registry-side): ``ROLLUP``/``CUBE``/
   ``GROUPING SETS`` over EMPTY input emit the SQL-standard grand-total row
   in DuckDB but zero rows in Spark — daily_rollup, sales_rollup,
   segment_priority_cube, grouping_sets_revenue now carry
   ``HAVING count(*) > 0`` / ``.filter(n > 0)`` on both sides.
2. ANSI DIVISION: Spark 4 (ANSI on) THROWS on x/0 while DuckDB yields NULL
   (pinned below) — 8 ratio queries (histogram widths, lift bases,
   confusion-table ratios, EB-prior moments, rel-err denominators) moved
   the zero-able denominators to ``try_divide``.
3. DRIVER-SIDE SCALAR PULLS on empty aggregates: order_month_spine
   (.strftime on NULL min/max), ops/checks.profile_table (int(None)),
   ops/graph pagerank 1/0 teleport, ops/similarity.train_ivf_codebook
   (1-D empty ndarray) — each now short-circuits to the frame the oracle
   produces.
4. ``sequence()`` vs ``generate_series``: Spark throws on start > stop
   with a positive step, DuckDB returns empty (pinned below) —
   ops/windows.grid_interpolate guards the grid expansion.
5. SUM-vs-COUNT on empty: ``sum(CASE...)`` is NULL where the oracle's
   ``count(*) FILTER`` is 0 — conditional counts rewritten as
   ``count(when(...))`` (orders_quality_audit, doc_pair_budget_estimate,
   profile_table null counters).

The ALL-NULL sweep (sf_nulls: every non-key, non-FK column NULL at full
row count — the "payload went missing" regime) found six more classes,
each fixed as a no-op on non-NULL input and re-proven at sf0.01:

6.  QUANTILE BINNING of NULL values: quantile_bins labels them NULL by
    contract; the oracles' rank-count formula silently called them the
    last bucket — now stated with CASE.
7.  PAIRWISE-COMPLETE STATS: welch_ttest gained the same up-front NULL
    exclusion as mann_whitney_u/ks_two_sample; the A/B oracles state it.
8.  EVENT-TIME CONTRACT: session_window / tumbling window / the OLS
    micro-batch split drop NULL-ts rows; oracles say so. SCD2's oracle
    used 'prev IS NULL' as the first-row marker, which misreads a NULL
    state as a new version — now rn=1 + IS DISTINCT FROM.
9.  RENDERING '' vs NULL: Spark array_join over zero non-NULLs is '',
    DuckDB string_agg/list is NULL — coalesced; CASE ELSE 0 vs bare
    boolean-cast sums (eb_shrinkage, prf, cusum alerts, negative_pairs).
10. VECTOR-SPACE DOMAIN: NULL embeddings crash numpy paths — the
    codebook trainer drops them from its sample (all callers derive the
    identical codebook), ivf/kmeans/blocked-pairs filter them by
    contract; all-NULL corpus degrades to rows-only like sf_empty.
11. GRAPH/HASH DOMAINS: pagerank drops NULL-endpoint edges explicitly;
    PPR guards the empty-seed teleport; NULL text has no fingerprint
    (DuckDB's fold yields the seed 0) and textless docs are quarantined
    from hash sampling/splits; NULL payloads sniff as 'empty' media.

The ALTERNATING-NULL sweep (sf_mixed: payload NULL on odd rows — the
PARTIAL-missing regime where the engines' opposite default NULL
placement, sqlfuzz D8, changes which row a rank/argmax/cumulation
touches) found the last class, fixed the same way:

12. ORDER-DOMAIN CONTRACTS: sessionize / keyed_ewma(+chunked) /
    keyed_cusum / changepoint_single / scd2_intervals now drop rows
    whose order coordinate (or observed value, for the recurrences) is
    NULL — the documented k_smallest_per_key discipline — and ~20
    time-ordered registry oracles state the same exclusion (undated
    orders, NULL-ts events, unrankable NULL measures). Quantile-oracle
    boundary CTEs now rank only non-NULL values (quantile_bins'
    boundary domain); quantile_bins_grouped drops NULL GROUP keys
    (boundary joins are null-unsafe in both engines' formulations).

Data-adaptive oracles (IVF/SemDeDup/k-means codebooks baked from
``FXSPARK_ORACLE_SF_DIR`` at import) are re-baked per fixture by
``tools.degenerate_sweep.rebake_adaptive_oracles``; the EMPTY corpus has
no expressible codebook VALUES list, so those two degrade to the driver's
honest rows-only check there.
"""

from __future__ import annotations

import importlib.util
import os
from datetime import date

import duckdb
import pytest

_TOOLS = os.path.join(os.path.dirname(__file__), os.pardir, "tools")


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


deg_fixtures = _load("degenerate_fixtures")
deg_sweep = _load("degenerate_sweep")


# ---------------------------------------------------------------------------
# Default-tier sizing (round 18, VERDICT r17 item 2): ten FULL registry
# sweeps (~2,490 query-vs-oracle differentials) pushed the default
# `pytest tests/` far past the driver's verify window — VERIFY_r17 recorded
# a truncated run (53 dots, no summary), which left the suite without
# driver-side green. The default tier now sweeps a DETERMINISTIC 1/8 slice
# of the registry per axis, sorted names[(axis_idx + rotation) % 8 :: 8]: the
# first eight axes cover all eight slices and every registry query runs on
# at least one degenerate axis per default run. Ten axes share eight
# slices, so a fixed offset would never give the last two axes (dups, ties)
# to six of the slices; the rotation is the calendar day's ordinal, so
# every query meets every axis within 8 consecutive daily runs at the same
# per-run cost; failure messages carry the rotation to reproduce the
# slice. FXSPARK_FULL_DEGEN=1 restores the full
# ten-sweep gate (the per-round out-of-band verification — the verify
# skill's step 5 — runs it that way). The fixture-shape tests and the
# divergence pins always run in full.
_FULL_DEGEN = os.environ.get("FXSPARK_FULL_DEGEN") == "1"
_ROTATION = date.today().toordinal() % 8
_WHERE = f"slice rotation {_ROTATION} (date.today().toordinal() % 8)"


def _axis_slice(axis_idx: int, always: set[str] | None = None):
    """Registry subset for the default tier; None (= full registry) under
    FXSPARK_FULL_DEGEN=1. ``always`` names are included regardless (the
    dups axis must see its whole declared contract-boundary set)."""
    if _FULL_DEGEN:
        return None
    from fxspark.queries import QUERIES

    names = sorted(QUERIES)
    picked = set(names[(axis_idx + _ROTATION) % 8 :: 8]) | (always or set())
    return sorted(picked)


def _expected_n(subset):
    if subset is None:
        return 249
    return len(subset)


@pytest.fixture(scope="module")
def degenerate_dirs(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate")
    return deg_fixtures.build_pair(sf_dir, str(base))


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_nulls")
    return deg_fixtures.build_nulls(sf_dir, str(base))


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_mixed")
    return deg_fixtures.build_mixed(sf_dir, str(base))


def test_fixtures_preserve_schema(degenerate_dirs, sf_dir):
    """Both fixtures are physical-schema-identical to the source parquet —
    so the engine's nanos/NTZ read paths run on them, not around them."""
    import pyarrow.parquet as pq

    for out in degenerate_dirs:
        for t in deg_fixtures.TABLES:
            src = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet"))
            dst = pq.read_schema(os.path.join(out, f"{t}.parquet"))
            assert src.equals(dst), (out, t)
    n_unit = pq.read_table(
        os.path.join(degenerate_dirs[1], "orders.parquet")
    ).num_rows
    assert n_unit == 1


def test_registry_on_empty_tables(spark, degenerate_dirs):
    """Registry differential on the 0-row star schema (default tier:
    axis slice 0; full under FXSPARK_FULL_DEGEN=1)."""
    names = _axis_slice(0)
    ok, fails = deg_sweep.sweep(
        spark, degenerate_dirs[0], names=names, verbose=False
    )
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


def test_registry_on_unit_tables(spark, degenerate_dirs):
    """Registry differential on the 1-row star schema (axis slice 1)."""
    names = _axis_slice(1)
    ok, fails = deg_sweep.sweep(
        spark, degenerate_dirs[1], names=names, verbose=False
    )
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


def test_nulls_fixture_shape(nulls_dir, sf_dir):
    """sf_nulls keeps schema, row count, and the relational skeleton —
    only payload columns are nulled."""
    import pyarrow.parquet as pq

    for t in deg_fixtures.TABLES:
        src = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        dst = pq.read_table(os.path.join(nulls_dir, f"{t}.parquet"))
        assert src.schema.equals(dst.schema), t
        assert len(src) == len(dst), t
        keep = set(deg_fixtures.SKELETON[t])
        for field in dst.schema:
            col = dst.column(field.name)
            if field.name in keep:
                assert col.null_count == src.column(field.name).null_count
            elif field.nullable:
                assert col.null_count == len(dst), (t, field.name)


def test_registry_on_all_null_payload(spark, nulls_dir):
    """Registry differential on the all-NULL-payload star schema
    (default tier: axis slice 2; full under FXSPARK_FULL_DEGEN=1)."""
    names = _axis_slice(2)
    ok, fails = deg_sweep.sweep(spark, nulls_dir, names=names, verbose=False)
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


def test_registry_on_alternating_null_payload(spark, mixed_dir):
    """Registry differential (axis slice 3) on the alternating-NULL star
    schema — the partial-missing regime where default NULL ORDERING (not
    just NULL propagation) can diverge."""
    names = _axis_slice(3)
    ok, fails = deg_sweep.sweep(spark, mixed_dir, names=names, verbose=False)
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


def test_ansi_divide_by_zero_divergence_pin(spark):
    """DECLARED DIALECT DIFFERENCE (the basis for the try_divide fixes):
    x/0 THROWS in Spark 4's default ANSI mode but yields NULL in DuckDB —
    an unguarded ratio is therefore a cross-engine divergence even though
    neither engine produces a wrong NUMBER. try_divide restores the
    oracle's NULL semantics exactly."""
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException):
        spark.sql("SELECT CAST(1.5 AS DOUBLE) / CAST(0.0 AS DOUBLE)").collect()
    assert spark.sql("SELECT try_divide(1.5D, 0.0D)").first()[0] is None
    assert duckdb.sql(
        "SELECT CAST(1.5 AS DOUBLE) / CAST(0.0 AS DOUBLE)"
    ).fetchone()[0] is None


def test_sequence_empty_range_divergence_pin(spark):
    """DECLARED DIALECT DIFFERENCE (the basis for the grid_interpolate
    guard): sequence(start, stop, +step) with start > stop throws in Spark
    where DuckDB's list-returning generate_series (the form the
    user_value_interp oracle unnests) is simply empty."""
    with pytest.raises(Exception, match="(?i)sequence|illegal"):
        spark.sql("SELECT sequence(10L, 0L, 5L)").collect()
    assert duckdb.sql(
        "SELECT len(generate_series(10, 0, 5))"
    ).fetchone()[0] == 0


# ---------------------------------------------------------------------------
# Round-15 SKEW axis (r14 verdict item 2): Zipf-distributed keys and the
# all-rows-one-key extreme. Key DISTRIBUTION changes, key DOMAIN and unique
# row ids don't — so every determinism contract must hold while group/join/
# window cardinality goes heavy-headed (the regime the reference's
# ccy_couple partition column becomes at 100×). The one-key sweep found a
# real divergence on its first run: user_value_trailing_1h's RANGE frame
# ordered by unix_timestamp SECONDS (truncating) vs the oracle's
# full-precision INTERVAL frame — same-second rows became mutual frame
# peers only in Spark. Fixed to micros grain (queries.py), value-identical
# on the driver data.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skew_dirs(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_skew")
    return (
        deg_fixtures.build_skew(sf_dir, str(base / "sf_skew")),
        deg_fixtures.build_onekey(sf_dir, str(base / "sf_onekey")),
    )


def test_skew_fixture_shape(skew_dirs, sf_dir):
    """sf_skew keeps schema, row count, unique ids, and each skewed
    column's value DOMAIN (a subset of the source's distinct set, so FKs
    stay valid); the head key is genuinely hot. sf_onekey collapses each
    skewed column to exactly one value."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    skew_dir, onekey_dir = skew_dirs
    for t, cols in deg_fixtures.SKEW_COLS.items():
        src = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        skw = pq.read_table(os.path.join(skew_dir, f"{t}.parquet"))
        one = pq.read_table(os.path.join(onekey_dir, f"{t}.parquet"))
        assert src.schema.equals(skw.schema) and src.schema.equals(one.schema)
        assert len(src) == len(skw) == len(one)
        for c in cols:
            src_vals = set(pc.unique(src.column(c)).to_pylist())
            skw_vals = pc.unique(skw.column(c)).to_pylist()
            assert set(skw_vals) <= src_vals, (t, c)
            assert len(pc.unique(one.column(c))) == 1, (t, c)
            if len(src) >= 100 and len(src_vals) >= 20:
                counts = pc.value_counts(skw.column(c)).to_pylist()
                top = max(r["counts"] for r in counts)
                # Zipf(1.2) head: the hot key holds a material share
                assert top >= len(skw) * 0.15, (t, c, top)
    # unique row ids untouched
    ev = pq.read_table(os.path.join(skew_dir, "events.parquet"))
    assert len(pc.unique(ev.column("event_id"))) == len(ev)


def test_registry_on_zipf_skewed_keys(spark, skew_dirs):
    """Registry differential on the Zipf-key star schema (axis slice 4)."""
    names = _axis_slice(4)
    ok, fails = deg_sweep.sweep(
        spark, skew_dirs[0], names=names, verbose=False
    )
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


def test_registry_on_single_key(spark, skew_dirs):
    """Registry differential (axis slice 5) on the all-rows-one-key extreme — every
    keyed window/group/join funnels through one key, so rank totalization
    and exact-aggregation discipline carry the whole weight."""
    names = _axis_slice(5)
    ok, fails = deg_sweep.sweep(
        spark, skew_dirs[1], names=names, verbose=False
    )
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


@pytest.fixture(scope="module")
def inulls_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_inulls")
    return deg_fixtures.build_inulls(sf_dir, str(base))


def test_inulls_fixture_shape(inulls_dir, sf_dir):
    """sf_inulls keeps schema/rows/keys, nulls each payload column on its
    OWN ~1/3 of rows, and — the axis's reason to exist — makes the
    cross-column regime reachable: rows where ``ts`` is NULL while
    ``event_type`` is a live value (the state sf_nulls/sf_mixed co-null
    masking can never produce)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for t in deg_fixtures.TABLES:
        src = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        inu = pq.read_table(os.path.join(inulls_dir, f"{t}.parquet"))
        assert src.schema.equals(inu.schema) and len(src) == len(inu)
        for k in deg_fixtures.SKELETON[t]:
            assert inu.column(k).null_count == 0, (t, k)
    ev = pq.read_table(os.path.join(inulls_dir, "events.parquet"))
    ts_null = pc.is_null(ev["ts"])
    et_live = pc.invert(pc.is_null(ev["event_type"]))
    n_cross = pc.sum(pc.cast(pc.and_(ts_null, et_live), "int64")).as_py()
    n = len(ev)
    assert n_cross > 0, "independent nulling produced no cross-column rows"
    # each column nulls ~1/3 independently: expect ~n*(1/3)*(2/3)
    assert n_cross >= n * 0.1, (n_cross, n)


def test_registry_on_independent_nulls(spark, inulls_dir):
    """Registry differential (axis slice 6) on the INDEPENDENT-NULL star schema —
    every single-column-NULL-under-live-filter state is reachable, so a
    rank/asof op that drops NULL order coordinates while its oracle keeps
    them (or vice versa) diverges HERE even when co-nulled fixtures stay
    green (the round-16 ADVICE class: asof/nearest left-side NULL ts)."""
    names = _axis_slice(6)
    ok, fails = deg_sweep.sweep(spark, inulls_dir, names=names, verbose=False)
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


@pytest.fixture(scope="module")
def nullkeys_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_nullkeys")
    return deg_fixtures.build_nullkeys(sf_dir, str(base))


def test_nullkeys_fixture_shape(nullkeys_dir, sf_dir):
    """sf_nullkeys keeps schema/rows/unique ids and nulls each SKEW_COLS
    join/partition key on its own ~1/5 of rows — the regime that splits
    null-unsafe SQL equi-joins from window-PARTITION-BY NULL grouping."""
    import pyarrow.parquet as pq

    for t in deg_fixtures.TABLES:
        src = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        nk = pq.read_table(os.path.join(nullkeys_dir, f"{t}.parquet"))
        assert src.schema.equals(nk.schema) and len(src) == len(nk)
    ev = pq.read_table(os.path.join(nullkeys_dir, "events.parquet"))
    assert ev["event_id"].null_count == 0
    assert ev["user_id"].null_count > len(ev) * 0.1


def test_registry_on_null_join_keys(spark, nullkeys_dir):
    """Registry differential (axis slice 7) on the NULL-JOIN-KEY star schema: keyed
    ops realized as window partitions (which GROUP NULL keys) must still
    deliver the SQL equi-join/GROUP BY semantics their oracles state —
    the round-16 sweep caught the as-of family matching NULL-key lefts to
    NULL-key rights, a key-NULL-probing CDC oracle, a never-merging
    maintained-rollup state, and entity summaries fabricating a NULL
    pseudo-entity (rule D27)."""
    names = _axis_slice(7)
    ok, fails = deg_sweep.sweep(
        spark, nullkeys_dir, names=names, verbose=False
    )
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE


@pytest.fixture(scope="module")
def dups_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_dups")
    return deg_fixtures.build_dups(sf_dir, str(base / "sf_dups"))


# The DECLARED uniqueness-boundary set: exactly the queries wired with
# ops.checks.require_unique. A query appearing here must RAISE a typed
# ContractViolation on duplicate-key input under FXSPARK_VALIDATE_CONTRACTS=1;
# every other query must still MATCH its oracle there (a duplicated row is
# value-identical, so any engine's tiebreak between the copies emits the
# same values — a mismatch is an unwired uniqueness dependency, the class
# the round-17 sweep caught in embedding_knn_label_agreement).
DUPS_BOUNDARY = {
    "doc_bm25_search",
    "doc_dedup_purge",
    "doc_dup_clusters",
    "doc_jaccard_pairs",
    "doc_jaccard_pairs_capped",
    "embedding_knn_join",
    "embedding_knn_label_agreement",
    "embedding_quantized_recall",
    "embedding_rp_search",
    "key_edit_near_dup",
    "purchase_regime_enrich",
    "stream_cusum_replay",
    "waiting_suppliers",
}


def test_dups_boundary_set_matches_wiring():
    """The frozen set above IS the require_unique wiring — adding or
    removing a wired query without updating the declaration fails here."""
    import re

    with open(
        os.path.join(os.path.dirname(__file__), os.pardir,
                     "fxspark", "queries.py"),
        encoding="utf-8",
    ) as f:
        src = f.read()
    wired = set()
    for m in re.finditer(r"require_unique\(", src):
        # the context= kwarg sits within the call's next few lines;
        # nested parens (loader chains) make a balanced regex brittle
        ctx = re.search(r'context="([a-z_0-9]+)"', src[m.start(): m.start() + 400])
        if ctx:
            wired.add(ctx.group(1))
    assert wired == DUPS_BOUNDARY, (
        f"wired-but-undeclared={sorted(wired - DUPS_BOUNDARY)} "
        f"declared-but-unwired={sorted(DUPS_BOUNDARY - wired)}"
    )


def test_registry_on_duplicate_keys(spark, dups_dir, monkeypatch):
    """THE ninth fixture gate (round-17 verdict item 3): on the
    every-row-duplicated star schema with contract validation ON, the
    boundary queries fail TYPED (never silently wrong) and the entire
    rest of the registry still matches its oracles."""
    from fxspark.ops.checks import ContractViolation  # noqa: F401

    monkeypatch.setenv("FXSPARK_VALIDATE_CONTRACTS", "1")
    # Default tier: axis slice 8 PLUS the whole declared boundary set (the
    # raised == DUPS_BOUNDARY assertion needs every wired query present).
    names = _axis_slice(8, always=DUPS_BOUNDARY)
    ok, fails = deg_sweep.sweep(spark, dups_dir, names=names, verbose=False)
    raised = {
        n for n, r in fails.items() if "ContractViolation" in r
    }
    other = {n: r for n, r in fails.items() if n not in raised}
    assert raised == DUPS_BOUNDARY, (
        f"{_WHERE}: raised-but-undeclared={sorted(raised - DUPS_BOUNDARY)} "
        f"declared-but-did-not-raise={sorted(DUPS_BOUNDARY - raised)}"
    )
    assert not other, f"{_WHERE}: silent divergence on duplicate keys: {other}"
    assert len(ok) >= _expected_n(names) - len(DUPS_BOUNDARY), _WHERE


@pytest.fixture(scope="module")
def tsties_dir(tmp_path_factory, sf_dir):
    base = tmp_path_factory.mktemp("degenerate_tsties")
    return deg_fixtures.build_tsties(sf_dir, str(base / "sf_tsties"))


def test_tsties_fixture_shape(tsties_dir, sf_dir):
    """sf_tsties collapses events.ts onto day instants (exact event-time
    ties — unreachable in the all-distinct driver data) and touches
    nothing else."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    dst = pq.read_table(os.path.join(tsties_dir, "events.parquet"))
    assert src.schema.equals(dst.schema)
    assert len(src) == len(dst)
    n_src = len(pc.unique(src.column("ts").combine_chunks()))
    n_dst = len(pc.unique(dst.column("ts").combine_chunks()))
    assert n_dst < n_src / 4, (n_src, n_dst)  # dense ties exist
    # every other column byte-identical
    for field in src.schema:
        if field.name != "ts":
            assert src.column(field.name).equals(dst.column(field.name))
    # non-event tables untouched
    for t in deg_fixtures.TABLES:
        if t == "events":
            continue
        a = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        b = pq.read_table(os.path.join(tsties_dir, f"{t}.parquet"))
        assert a.equals(b), t


def test_registry_on_timestamp_ties(spark, tsties_dir):
    """THE tenth fixture gate (round-17 axis): registry differential
    with exact event-time ties the common case. First sweep: 248/249 —
    hourly_ohlc_bars' bare min_by/max_by(value, ts) leaned on data-level
    timestamp uniqueness (both engines picked arbitrary tied rows); fixed
    with the D5 struct(ts, event_id) totalization + row_number oracle.
    Default tier: axis slice 9 + the time-ordered family this axis exists
    for (always swept here regardless of the slice)."""
    names = _axis_slice(9, always={"hourly_ohlc_bars", "user_value_twap",
                                   "latest_event_per_user",
                                   "dedup_latest_events",
                                   "second_latest_before_cutoff"})
    ok, fails = deg_sweep.sweep(spark, tsties_dir, names=names, verbose=False)
    assert not fails, (_WHERE, fails)
    assert len(ok) >= _expected_n(names), _WHERE
