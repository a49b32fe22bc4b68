"""The benchmark's workloads: the scheduled FX tick and a registry mix.

Each workload offers the same small surface to ``run.py``:

- ``prepare()``: write the seeded inputs (counted in set-up);
- ``check_pass()``: a first pass whose outputs are compared with an
  independent DuckDB computation (outside every timed region);
- ``pass_ops()``: the operations of the next pass, in seed-permuted order;
- ``run(op)``: one untraced operation, the unit the timed loop measures;
- ``run_traced(op, tracer, uid)``: the same operation with a span around
  every public call into ``fxspark`` and every action, returning that
  unit's per-layer values;
- ``final_checks()``: output checks after the timed region.

Every check returns ``(op, ok, detail)`` triples; each counts in the result
line's ``attempted``, and a failed one in its ``failed``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import os
import shutil
from zoneinfo import ZoneInfo

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from spans import SparkStats, Tracer, catalyst_phases_ms

ITERATIVE = (
    "part_copurchase_ppr", "nation_trade_pagerank", "part_copurchase_bfs",
    "orders_topk_retraction", "part_copurchase_clustering",
)


class Workload:
    """Shared bookkeeping; subclasses fill in the operations."""

    ops: tuple[str, ...] = ()

    def __init__(self, spark, stats: SparkStats, work_dir: str, seed: int, tiny: bool):
        self.spark, self.stats, self.work = spark, stats, work_dir
        self.seed, self.tiny = seed, tiny
        self._order_rng = np.random.default_rng([seed, 7])

    def pass_ops(self) -> list[str]:
        return [self.ops[j] for j in self._order_rng.permutation(len(self.ops))]

    def between(self) -> None:
        """Work between two units (never timed)."""

    def capture(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# Registry mix
# --------------------------------------------------------------------------

class RegistryMix(Workload):
    """Registry queries at one scale factor, each forced with a noop sink."""

    def __init__(self, *a, names: tuple[str, ...], sf: float, tiny_sf: float):
        super().__init__(*a)
        from fxspark.queries import ORACLE, QUERIES

        self.queries, self.oracle = QUERIES, ORACLE
        self.ops = names
        self.sf = tiny_sf if self.tiny else sf
        self.data = os.path.join(self.work, "tables")

    def prepare(self) -> None:
        gen.write_tables(self.data, self.sf, self.seed)

    def check_pass(self) -> list[tuple[str, bool, str]]:
        """Each query once, collected, against its registered ORACLE SQL on
        the same tables (``tests/oracle_diff.compare``, read-only)."""
        import oracle_diff

        con = oracle_diff.duck_connect(self.data)
        out = []
        try:
            for name in self.pass_ops():
                try:
                    got = self.queries[name](self.spark, self.data).toPandas()
                    want = oracle_diff.run_oracle(con, self.oracle[name])
                    res = oracle_diff.compare(got, want)
                    out.append((name, res["ok"], oracle_diff.diff_report(name, res)))
                except Exception as ex:  # noqa: BLE001 - one failing query is a failed op
                    out.append((name, False, f"{name}: {type(ex).__name__}: {ex}"[:500]))
        finally:
            con.close()
        return out

    def run(self, op: str) -> None:
        self.queries[op](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def run_traced(self, op: str, tracer: Tracer, uid: str) -> dict[str, float]:
        g_build, g_exec = f"{uid}/build", f"{uid}/exec"
        with tracer.span(f"q.{op}") as root:
            self.stats.set_group(g_build)
            with tracer.span("queries.build") as b:
                df = self.queries[op](self.spark, self.data)
            self.stats.set_group(g_exec)
            with tracer.span("catalyst.plan") as p:
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec.run") as e:
                df.write.format("noop").mode("overwrite").save()
        self.stats.set_group("perfbench/idle")
        phases = catalyst_phases_ms(df)
        built = self.stats.group_stats(g_build)
        ran = self.stats.group_stats(g_exec)
        own = tracer.self_time
        row = {
            "queries.build_s": own(b),
            "queries.build_jobs": built["jobs"],
            "catalyst.plan_s": own(p),
            "catalyst.analysis_ms": phases["analysis"],
            "catalyst.optimization_ms": phases["optimization"],
            "catalyst.planning_ms": phases["planning"],
            "exec.run_s": own(e),
            f"q.{op}.build_s": own(b),
            f"q.{op}.plan_s": own(p),
            f"q.{op}.exec_s": own(e),
            "unit_s": tracer.duration(root),
        }
        for k in built:
            row[f"exec.{k}"] = built[k] + ran[k]
        return row

    def final_checks(self) -> list[tuple[str, bool, str]]:
        return []


# --------------------------------------------------------------------------
# The scheduled FX tick
# --------------------------------------------------------------------------

_REPORT_COLS = ["ccy_couple", "current_rate", "previous_rate", "percentage_change"]
_REPORT_WIDTHS = [12, 16, 16, 18]
_NY = ZoneInfo("America/New_York")


def _parse_report(text: str) -> pd.DataFrame:
    """The fixed-width report rows ``cli.tick`` printed (header, rule, rows)."""
    lines = text.splitlines()
    start = next(i for i, ln in enumerate(lines) if ln.startswith("ccy_couple")) + 2
    bounds = np.cumsum([0, *_REPORT_WIDTHS])
    rows = []
    for ln in lines[start:]:
        if not ln.strip() or ln.startswith(("[", "Script executed")):
            break
        rows.append([ln[lo:hi].strip() for lo, hi in zip(bounds[:-1], bounds[1:])])
    return pd.DataFrame(rows, columns=_REPORT_COLS)


def _report_lines(text: str) -> list[str]:
    """Printed tick output minus the wall-clock line."""
    return [ln for ln in text.splitlines() if not ln.startswith("Script executed")]


class FxTick(Workload):
    """Back-to-back ``cli.tick`` calls over a seeded 20-year store."""

    ops = ("tick",)
    HISTORY_DAYS, WINDOW, MAX_TICKS = 5000, 100, 400

    def __init__(self, *a):
        super().__init__(*a)
        from fxspark import cli

        self.cli = cli
        history = 300 if self.tiny else self.HISTORY_DAYS
        self.feed = gen.FxFeed(self.seed, history, self.WINDOW, self.MAX_TICKS)
        self.store = os.path.join(self.work, "store")
        self.pairs_csv = os.path.join(self.work, "pairs.csv")
        self.payloads = os.path.join(self.work, "payloads")
        self.t = 0  # next tick index
        self.outputs: dict[int, str] = {}  # tick index -> printed output

    def prepare(self) -> None:
        self.feed.write_history(self.store)
        self.feed.write_pairs_csv(self.pairs_csv)
        self.between()

    def between(self) -> None:
        """Write the next tick's payload directory."""
        if self.t >= self.MAX_TICKS:
            raise RuntimeError("fx feed exhausted; raise FxTick.MAX_TICKS")
        shutil.rmtree(self.payloads, ignore_errors=True)
        self.feed.write_payloads(self.t, self.payloads)

    def check_pass(self) -> list[tuple[str, bool, str]]:
        return []  # every tick's report is checked after the timed region

    def run(self, op: str) -> None:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.cli.tick(self.spark, self.store, rates_dir=self.payloads,
                          pairs_csv=self.pairs_csv, now=self.feed.now(self.t))
        self._done(buf.getvalue())

    def _done(self, text: str) -> None:
        self.outputs[self.t] = text
        self.t += 1

    def _replay(self, tracer: Tracer, uid: str) -> tuple[str, dict]:
        """``cli.tick``'s public calls and actions in its order, each in a
        span and its own job group, plus two plan probes. Returns the text
        ``cli.tick`` would print and the span / job-group bookkeeping."""
        from fxspark import fx
        from fxspark.ingest import normalize
        from fxspark.ops.checks import check_report, observe_checks
        from fxspark.sink import console_report, read_table, upsert, write_table
        from fxspark.sources import csv_pairs, json_dir_rates

        cli, spark, ids, groups = self.cli, self.spark, {}, []

        @contextlib.contextmanager
        def step(name):
            group = f"{uid}/{name}"
            groups.append(group)
            self.stats.set_group(group)
            with tracer.span(name) as idx:
                ids.setdefault(name, []).append(idx)
                yield

        out = io.StringIO()
        with tracer.span("tick") as root:
            with step("sources.build"):
                raw = json_dir_rates(spark, self.payloads)
                raw = raw.join(csv_pairs(spark, self.pairs_csv),
                               ["base_currency", "target_currency"], "inner")
            with step("ingest.normalize"):
                rates, quarantined = normalize(raw)
            with step("checks.observe"):
                rates, obs = observe_checks(rates, key=list(cli.KEYS),
                                            not_null=["rate"], ranges={"rate": (0.0, 1e6)})
            with step("sink.read_table"):
                existing = read_table(spark, self.store)
            with step("sink.upsert"):
                merged = upsert(existing, rates, cli.KEYS, cli.ORDER)
            with step("catalyst.plan"):
                merged._jdf.queryExecution().executedPlan()
            with step("sink.write_table"):
                write_table(merged, self.store)
            with step("sink.read_table"):
                store = read_table(spark, self.store)
            with step("fx.report_build"):
                result = fx.rate_change_report(store, now=self.feed.now(self.t))
                shown = result.select(*_REPORT_COLS)
            with step("catalyst.plan"):
                shown._jdf.queryExecution().executedPlan()
            with step("fx.report_collect"):
                text = console_report(result, _REPORT_COLS, _REPORT_WIDTHS)
            with step("ingest.quarantine_count"):
                n_bad = quarantined.count()
            with step("checks.report"):
                checks = check_report(obs.get)
        self.stats.set_group("perfbench/idle")
        print(text, file=out)
        if n_bad:
            print(f"[quarantine] {n_bad} payload(s) set aside", file=out)
        for constraint, count in checks:
            print(f"[check] {constraint}: {count}", file=out)
        phases = [catalyst_phases_ms(merged), catalyst_phases_ms(shown)]
        meta = {"root": root, "ids": ids, "groups": groups, "phases": phases,
                "rows": dict(checks)["rows"], "quarantined": n_bad}
        return out.getvalue(), meta

    def run_traced(self, op: str, tracer: Tracer, uid: str) -> dict[str, float]:
        text, meta = self._replay(tracer, uid)
        ids = meta["ids"]

        def total(name):  # self time of every span with this name
            return sum(tracer.self_time(i) for i in ids.get(name, []))

        execs = [self.stats.group_stats(g) for g in meta["groups"]]
        disk_bytes, encoded_bytes, store_rows = self._store_size()
        row = {
            "sources.build_s": total("sources.build"),
            "ingest.normalize_s": total("ingest.normalize"),
            "ingest.rows": meta["rows"],
            "ingest.quarantined": meta["quarantined"],
            "ingest.quarantine_count_s": total("ingest.quarantine_count"),
            "checks.report_s": total("checks.report"),
            "sink.read_table_s": total("sink.read_table"),
            "sink.upsert_s": total("sink.upsert"),
            "sink.write_table_s": total("sink.write_table"),
            "sink.bytes_written": encoded_bytes,
            "sink.rows_written": store_rows,
            "sink.write_amp": store_rows / max(meta["rows"], 1),
            "sink.store_bytes_per_row": disk_bytes / max(store_rows, 1),
            "fx.report_build_s": total("fx.report_build"),
            "fx.report_collect_s": total("fx.report_collect"),
            "catalyst.plan_s": total("catalyst.plan"),
            "exec.run_s": total("sink.write_table") + total("fx.report_collect")
            + total("ingest.quarantine_count"),  # the tick's three actions
            "unit_s": tracer.duration(meta["root"]),
        }
        for phase in ("analysis", "optimization", "planning"):
            row[f"catalyst.{phase}_ms"] = sum(p[phase] for p in meta["phases"])
        for k in execs[0]:
            row[f"exec.{k}"] = sum(e[k] for e in execs)
        self._done(text)
        return row

    def _store_size(self) -> tuple[int, int, int]:
        """(bytes on disk, encoded bytes, live rows) of the store, from file
        sizes and footers only. Encoded bytes are the column chunks before
        compression: unlike the bytes on disk they repeat exactly, because
        the tick's ingestion timestamps come from the wall clock and their
        compressed size moves by a byte or two from run to run."""
        disk = encoded = rows = 0
        for name in os.listdir(self.store):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(self.store, name)
            meta = pq.read_metadata(path)
            disk += os.path.getsize(path)
            rows += meta.num_rows
            encoded += sum(meta.row_group(g).column(c).total_uncompressed_size
                           for g in range(meta.num_row_groups)
                           for c in range(meta.num_columns))
        return disk, encoded, rows

    def replay_matches_tick(self) -> tuple[str, bool, str]:
        """Run the traced replay and ``cli.tick`` on the same store and
        payloads; their printed reports must be equal."""
        snap = self.store + ".snap"
        shutil.copytree(self.store, snap)
        t = self.t
        replayed, _ = self._replay(Tracer("replay-check"), f"replay-check-{t}")
        shutil.rmtree(self.store)
        os.rename(snap, self.store)
        self.run("tick")
        self.between()
        same = _report_lines(replayed) == _report_lines(self.outputs[t])
        return ("tick", same, "replay report == tick report" if same
                else "traced replay drifted from cli.tick")

    # -- output checks -----------------------------------------------------

    def _cutoff_day(self, t: int) -> int:
        """Last day index whose 00:00 date is at/before yesterday 17:00 New
        York of tick ``t``'s clock."""
        now = self.feed.now(t).replace(tzinfo=dt.timezone.utc).astimezone(_NY)
        cut = (now - dt.timedelta(days=1)).replace(hour=17, minute=0, second=0,
                                                   microsecond=0)
        cut_utc = cut.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (cut_utc.date() - gen.FIRST_DAY).days

    def final_checks(self) -> list[tuple[str, bool, str]]:
        """Every tick's printed report against DuckDB over the generated
        payloads plus the seeded history; then the store's row count and
        last-writer-wins closes against the same computation."""
        pairs = [f"{b}/{q}" for b, q in gen.PAIRS]
        frames = []
        days, closes = self.feed.history()
        frames.append(self._rows(pairs, days, closes, -1, skip=None))
        for t in sorted(self.outputs):
            days, closes = self.feed.tick_closes(t)
            frames.append(self._rows(pairs, days, closes, t, skip=self.feed.limited))
        fetched = pd.concat(frames, ignore_index=True)
        con = duckdb.connect()
        out = []
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.register("fetched_df", fetched)
            con.execute("""CREATE TABLE fetched AS SELECT pair, day, tick,
                           CAST(close AS DECIMAL(10,6)) AS close FROM fetched_df""")
            for t in sorted(self.outputs):
                want = con.execute(_REPORT_SQL, [t, t, self._cutoff_day(t)]).fetchdf()
                got = _parse_report(self.outputs[t])
                both = got.merge(want, how="outer", on=_REPORT_COLS, indicator=True)
                bad = both[both["_merge"] != "both"]
                out.append(("tick", bad.empty, f"tick {t}: {len(got)} report rows, "
                            f"{len(bad)} differ from DuckDB" + ("" if bad.empty else
                            f"; first: {bad.head(4).to_dict('records')}")))
            last = max(self.outputs)
            bad = con.execute(_STORE_SQL.format(store=os.path.join(self.store, "*.parquet")),
                              [last, gen.FIRST_DAY]).fetchone()
            ok = bad == (0, 0)
            out.append(("tick", ok, f"store after tick {last}: {bad[0]} rate mismatches, "
                        f"{bad[1]} rows missing or extra"))
        finally:
            con.close()
        return out

    @staticmethod
    def _rows(pairs, days, closes, tick, skip) -> pd.DataFrame:
        keep = [i for i in range(len(pairs)) if i != skip]
        return pd.DataFrame({
            "pair": np.repeat(np.array(pairs)[keep], len(days)),
            "day": np.tile(days, len(keep)),
            "tick": tick,
            "close": [f"{c:.5f}" for c in closes[keep].ravel()],
        })

    def capture(self) -> dict:
        disk, encoded, rows = self._store_size()
        return {"store_bytes": disk, "store_encoded_bytes": encoded, "store_rows": rows,
                "store_bytes_per_row": disk / max(rows, 1),
                "ticks": self.t, "rate_limited_pair": "/".join(gen.PAIRS[self.feed.limited])}


# The reference query over the expected store. "Active" rows are the ones the
# tick itself wrote: every fetched pair's newest day is in its own payload,
# and rows older ticks wrote inside the 30-second window are all older days.
# The engine rounds through a decimal, which has no negative zero, so a change
# that rounds to zero prints "0.00%"; "+ 0.0" turns DuckDB's -0.0 into 0.0.
_REPORT_SQL = """
WITH store AS (
  SELECT pair, day, arg_max(close, tick) AS rate
  FROM fetched WHERE tick <= ? GROUP BY pair, day
), cur AS (
  SELECT pair, arg_max(close, day) AS current_rate
  FROM fetched WHERE tick = ? GROUP BY pair
), prev AS (
  SELECT pair, rate AS previous_rate FROM (
    SELECT pair, rate, row_number() OVER (PARTITION BY pair ORDER BY day DESC) AS rn
    FROM store WHERE day <= ?
  ) WHERE rn = 2
)
SELECT pair AS ccy_couple, CAST(current_rate AS VARCHAR) AS current_rate,
       CAST(previous_rate AS VARCHAR) AS previous_rate,
       printf('%.2f', round((CAST(current_rate AS DOUBLE) - CAST(previous_rate AS DOUBLE))
                            / CAST(previous_rate AS DOUBLE) * 100, 2) + 0.0) || '%'
         AS percentage_change
FROM cur JOIN prev USING (pair)
"""

_STORE_SQL = """
WITH want AS (
  SELECT pair, $2::DATE + CAST(day AS INTEGER) AS d, arg_max(close, tick) AS rate
  FROM fetched WHERE tick <= $1 GROUP BY pair, day
), have AS (
  SELECT ccy_couple AS pair, CAST(date AS DATE) AS d, rate
  FROM read_parquet('{store}')
)
SELECT count(*) FILTER (WHERE want.rate <> have.rate),
       count(*) FILTER (WHERE want.rate IS NULL OR have.rate IS NULL)
FROM want FULL OUTER JOIN have USING (pair, d)
"""
