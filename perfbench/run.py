#!/usr/bin/env python3
"""fxspark benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload {fx_tick,iterative_mix}
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the repository root. The run builds a Spark session on
``local[K]``, writes its seeded inputs under ``.perfbench_work/``, runs an
output-checked first pass and a fixed warm-up, then measures closed-loop
units (one client, the next unit starts when the last one returns) for
``--seconds``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` (a separate run, never the timed one) it
carries the per-layer metrics, from passes that alternate traced and
untraced units. The full capture (every pass time, host steal, calibration
probe, spans) is written to ``.perfbench_out/``. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
K = 1  # local[K]: one task thread; see "Session and regime" in README.md
DRIVER_MEM = "2g"

# Workload table: Spark regime, scale and warm-up passes after the checked
# first pass. Passes keep getting faster for longer than a run can afford
# (the JIT ramp outlasts 10 passes), so the warm-up is a fixed count that
# takes each workload past its cold first pass and one more (the checked
# pass and one pass on iterative_mix, two ticks on fx_tick); every pass time
# is in the capture. A fixed count also gives every fx_tick run the same
# store size at its first traced tick, so the traced counts repeat exactly.
WORKLOADS = {
    "fx_tick": {
        "env": {},  # cli.main's session: get_spark defaults
        "warm": 2,
    },
    "iterative_mix": {
        # bench.py's regime (AQE off), with shuffle partitions sized to sf0.001
        "env": {"FXSPARK_SHUFFLE_PARTITIONS": "2", "FXSPARK_AQE": "false"},
        "names": workloads.ITERATIVE, "sf": 0.001, "tiny_sf": 0.0002,
        "warm": 1,
    },
}
COUNT_METRICS = {  # taken from the first traced unit of each op, not a median
    "queries.build_jobs", "ingest.rows", "ingest.quarantined",
    "sink.bytes_written", "sink.rows_written", "sink.write_amp",
    "sink.store_bytes_per_row", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def set_environment(work: str, env: dict) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(env)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["FXSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:+UseSerialGC -XX:CompileThresholdScaling=0.5 "
        f"-Dderby.system.home={tmp}' pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Runner:
    """Drives one workload: checks, warm-up, timed or traced loop."""

    def __init__(self, w, stats, seconds: float, warm: int):
        self.w, self.stats, self.seconds, self.warm = w, stats, seconds, warm
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []

    def record(self, outcomes) -> None:
        for op, ok, detail in outcomes:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(detail)
                log(f"CHECK FAILED: {detail}")

    def one_pass(self, phase: str, i: int, traced=None,
                 deadline: float = float("inf")) -> dict[str, list]:
        """Run the ops of pass ``i``, starting none after ``deadline``;
        returns op -> [unit seconds or traced rows]. Host counters bracket
        the pass; GC runs after it."""
        out: dict[str, list] = {}
        steal0, cpu0, t0 = spans.steal_s(), self.stats.cpu_s(), time.perf_counter()
        for j, op in enumerate(self.w.pass_ops()):
            if j and time.perf_counter() >= deadline:
                break
            self.attempted += 1
            try:
                if traced is None:
                    u0 = time.perf_counter()
                    self.w.run(op)
                    out.setdefault(op, []).append(time.perf_counter() - u0)
                else:
                    out.setdefault(op, []).append(
                        self.w.run_traced(op, traced, f"{phase}{i}.{j}.{op}"))
            except Exception as ex:  # noqa: BLE001 - a failed op is counted, the run goes on
                self.failed += 1
                self.failures.append(f"{op}: {type(ex).__name__}: {ex}"[:500])
                log(traceback.format_exc())
            self.w.between()
        wall = time.perf_counter() - t0
        self.passes.append({
            "phase": phase, "pass": i, "wall_s": round(wall, 4),
            "steal_s": round(spans.steal_s() - steal0, 3),
            "cpu_s": round(self.stats.cpu_s() - cpu0, 3),
        })
        self.stats.gc()  # between units only
        return out

    def warm_up(self) -> None:
        for i in range(self.warm):
            self.one_pass("warm", i)

    def timed(self) -> dict[str, list[float]]:
        samples: dict[str, list[float]] = {}
        deadline, i = time.perf_counter() + self.seconds, 0
        while i == 0 or time.perf_counter() < deadline:
            for op, xs in self.one_pass("timed", i, deadline=deadline).items():
                samples.setdefault(op, []).extend(xs)
            i += 1
        return samples

    def traced(self, tracer) -> tuple[dict[str, list[dict]], dict[str, list[float]]]:
        """Alternate traced and untraced passes for ``seconds``; at least
        one of each."""
        rows: dict[str, list[dict]] = {}
        plain: dict[str, list[float]] = {}
        t0, i = time.perf_counter(), 0
        while i < 2 or time.perf_counter() - t0 < self.seconds:
            if i % 2 == 0:
                for op, xs in self.one_pass("traced", i, tracer).items():
                    rows.setdefault(op, []).extend(xs)
            else:
                for op, xs in self.one_pass("untraced", i).items():
                    plain.setdefault(op, []).extend(xs)
            i += 1
        return rows, plain


def layer_metrics(rows: dict[str, list[dict]], names: list[str]) -> dict[str, float]:
    """Per op: counts from its first traced unit, times as the median over
    its traced units; then summed over ops. Missing layers read 0."""
    out = dict.fromkeys(names, 0.0)
    for units in rows.values():
        for key in units[0]:
            if key in COUNT_METRICS:
                v = units[0][key]
            else:
                v = statistics.median(u.get(key, 0.0) for u in units)
            out[key] = out.get(key, 0.0) + v
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (smoke check only)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "fxspark")):
        log(f"no fxspark package under {ROOT}; run from a full checkout")
        return 3
    spec = load_spec()
    cfg = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    set_environment(work, cfg["env"])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from fxspark.session import get_spark

    # SIGTERM unwinds through ``finally``, so the JVM is reaped and the work
    # directory removed even when the run is stopped from outside.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{K}]")
        spark.sparkContext.setLogLevel("ERROR")
        stats = spans.SparkStats(spark)
        base = (spark, stats, work, args.seed, args.tiny)
        if args.workload == "fx_tick":
            w = workloads.FxTick(*base)
        else:
            w = workloads.RegistryMix(
                *base, names=cfg["names"],
                sf=cfg["sf"], tiny_sf=cfg["tiny_sf"])
        r = Runner(w, stats, args.seconds, cfg["warm"])

        w.prepare()
        t_check = time.perf_counter()
        r.record(w.check_pass())
        check_s = time.perf_counter() - t_check
        r.warm_up()
        setup_s = time.perf_counter() - T_START
        calib = [spans.calibration_probe()]
        capture = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "local_k": K, "nproc": os.cpu_count(),
            "tiny": args.tiny, "env": cfg["env"], "warm": cfg["warm"],
            "check_pass_s": round(check_s, 3),
        }
        if args.trace == 0:
            samples = r.timed()
            calib.append(spans.calibration_probe())
            mix = sum(statistics.median(xs) for xs in samples.values())
            metrics = {"setup_s": setup_s, "mix_s": mix}
            capture["samples"] = {op: [round(x, 4) for x in xs] for op, xs in samples.items()}
            if args.workload == "fx_tick":
                pct, tail = spans.tail_percentile(samples["tick"])
                capture.update(tick_p50_s=mix, tick_tail_s=tail, tick_tail_pct=pct,
                               tick_count=len(samples["tick"]))
            wanted = spec["end_to_end"]
        else:
            tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            rows, plain = r.traced(tracer)
            calib.append(spans.calibration_probe())
            names = [m["name"] for m in spec["per_layer"]]
            metrics = layer_metrics(rows, names)
            traced_mix = sum(statistics.median(u["unit_s"] for u in us) for us in rows.values())
            plain_mix = sum(statistics.median(xs) for xs in plain.values())
            metrics["trace.overhead_s"] = traced_mix - plain_mix
            timed = [p for p in r.passes if p["phase"] != "warm"]
            metrics["host.cpu_s"] = statistics.median(p["cpu_s"] for p in timed)
            metrics["host.steal_s"] = statistics.median(p["steal_s"] for p in timed)
            metrics["host.calib_s"] = statistics.median(calib)
            metrics["session.jvm_peak_rss_mb"] = stats.jvm_peak_rss_mb()
            capture.update(traced_mix_s=traced_mix, untraced_mix_s=plain_mix,
                           spans=tracer.dump(), units=rows)
            if args.workload == "fx_tick":
                r.record([w.replay_matches_tick()])
            wanted = spec["per_layer"]
        t_check = time.perf_counter()
        r.record(w.final_checks())
        capture["final_checks_s"] = round(time.perf_counter() - t_check, 3)
        capture.update(
            passes=r.passes, calib_s=[round(c, 4) for c in calib],
            attempted=r.attempted, failed=r.failed, failures=r.failures,
            error_rate=r.failed / max(r.attempted, 1), **w.capture())
        result = {
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                        for m in wanted},
        }
        capture["metrics"] = result["metrics"]
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(capture, fh, indent=1, default=str)
    log(f"capture written to {os.path.relpath(path, ROOT)}; "
        f"passes {[p['wall_s'] for p in r.passes]}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
