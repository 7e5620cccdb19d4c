"""Seeded benchmark for punt_spark at local[nproc].

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload trickle --seed 1 --seconds 5 --repeat 5

One run: seeded inputs (cached under .bench_cache/), one cold set-up
(session start in a fresh JVM, input preparation, one warm-up pass), the
workload's operation for ``--seconds``, then the correctness gate. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer table; the last
stdout line is one JSON object {correct, attempted, failed, metrics}.
``--repeat N`` runs N fresh processes on seeds seed..seed+N-1 and prints
each metric's median, quartiles and quartile spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A run must end within 180 s: a traced run's extra legs are skipped (and
# reported as not measured) when one, at about 1.5x its usual length, would
# end past this mark.
TRACE_DEADLINE_S = 150
LEG_BUDGET_S = {"prefix": 30, "dataops": 35, "scaling": 20}

E2E = [
    # name, unit, what it is
    ("setup_s", "s", "cold set-up: session start in a fresh JVM + input prep + warm-up pass"),
    ("latency_p50_s", "s", "backfill: median Pipeline.run time; trickle: median file freshness"),
    ("throughput_per_s", "1/s", "turns completed per second"),
]


class Bench:
    """Run-wide state: the Spark session, the work directory, the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from perfbench.trace import Tracer

        self.root = ROOT
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        self.work_dir = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        self.ev_dir = os.path.join(self.work_dir, "eventlog")
        self.spark = None
        self.t_start = time.monotonic()
        self.session_starts: list[float] = []
        self.tracer = Tracer(run_id=f"{workload}-s{seed}-{os.getpid()}")

    def work(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def set_traced(self, i: int | None):
        """Trace operation ``i`` (None: stop tracing) in a traced run.
        Operations alternate untraced, traced, untraced, ...: with the
        traced ones in between, a warming session does not bias the
        traced-vs-untraced comparison."""
        self.tracer.enabled = self.trace and i is not None and i % 2 == 1

    def start_session(self, master: str | None = None) -> float:
        """(Re)start the session with the CLI's ``get_spark`` defaults; the
        extra conf only keeps scratch space and the traced run's event log
        inside the work directory."""
        from punt_spark.session import get_spark

        t0 = time.monotonic()
        if self.spark is not None:
            self.spark.stop()
        conf = {"spark.local.dir": self.work("spark-local")}
        if self.trace:
            os.makedirs(self.ev_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.ev_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{self.nproc}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.monotonic() - t0
        self.session_starts.append(elapsed)
        return elapsed

    def shutdown(self):
        """Stop the session and the JVM it launched, and wait for every
        process this run started to exit."""
        from pyspark import SparkContext

        from perfbench.procs import wait_children

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_children()


def _environment(bench: Bench):
    """Python workers import punt_spark from the checkout; every scratch
    file stays inside the work directory."""
    os.makedirs(bench.work("tmp"), exist_ok=True)
    os.makedirs(bench.work("spark-local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TMPDIR"] = bench.work("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = bench.work("spark-local")
    # both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # files under /tmp, temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={bench.work('tmp')}"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def run_once(args) -> dict:
    from perfbench import layers, stats
    from perfbench.procs import RssSampler
    from perfbench.workloads import WORKLOADS

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(bench.work_dir, ignore_errors=True)
    _environment(bench)
    sampler = RssSampler()
    w = WORKLOADS[args.workload](bench)
    phases = {}
    mark = time.monotonic()

    def phase(name):
        nonlocal mark
        now = time.monotonic()
        phases[name] = now - mark
        mark = now

    try:
        w.inputs()
        phase("inputs")
        # One cold set-up, as a user pays it: repeating it in-process would
        # only repeat warm restarts, since get_spark reuses the running JVM.
        t0 = time.monotonic()
        bench.start_session()
        w.prepare()
        prep_s = time.monotonic() - t0
        w.warmup()
        setup_s = time.monotonic() - t0
        phase("setup")
        if bench.trace:
            bench.tracer.install()
        sampler.start()
        w.measure(args.seconds)
        sampler.stop()
        phase("measure")
        bench.tracer.enabled = bench.trace  # the read-back check is traced
        try:
            mismatches = w.finish()
        except Exception as e:
            mismatches = [f"read-back check raised {type(e).__name__}: {e}"]
        bench.set_traced(None)
        phase("check")

        per_layer = notes = dataops = None
        if bench.trace:
            per_layer, notes, dataops = _traced_extras(bench, w, layers)
            per_layer["process.peak_pss_mb"] = sampler.peak_mb
            phase("trace")
    finally:
        bench.tracer.uninstall()
        bench.shutdown()
        shutil.rmtree(bench.work_dir, ignore_errors=True)
    phase("shutdown")
    print("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()), file=sys.stderr)

    ops = w.records + (dataops.records if dataops else [])
    attempted = len(ops) + 1  # + the read-back / final check
    failed = sum(r["failed"] for r in ops) + (1 if mismatches else 0)
    if dataops:
        mismatches = mismatches + dataops.notes
    lat = w.latencies()
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": stats.median(lat),
        "throughput_per_s": w.throughput(),
    }
    _print_e2e(w, e2e, lat, prep_s, attempted, failed, mismatches)
    print(f"  peak memory (PSS) of the process tree while measuring: {sampler.peak_mb:.1f} MB")
    if bench.trace:
        _print_layers(w, per_layer, notes)
        units = layers.UNITS
        metrics = {k: {"value": per_layer[k], "unit": units[k]} for k in units}
    else:
        units = {name: unit for name, unit, _ in E2E}
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _traced_extras(bench, w, layers):
    """Backfill's traced run adds the batch legs: prefix legs for the lazy
    layers, the dataops leg and the local[1] scaling leg, in that order (the
    last one restarts the session)."""
    legs = scaling = dataops = None

    def in_time(leg: str) -> bool:
        return time.monotonic() - bench.t_start + LEG_BUDGET_S[leg] < TRACE_DEADLINE_S

    alerts = (w.pipe if w.name == "backfill" else w.sp).alerts_table.read(bench.spark)
    w.alert_windows = alerts.count() if alerts is not None else 0
    if w.name == "backfill" and in_time("prefix"):
        legs = layers.prefix_legs(bench.spark, w.day, w.lookups)
        legs["rows"] = len(w.day_rows)
    if w.name == "backfill" and in_time("dataops"):
        dataops = layers.dataops_leg(bench)
    if w.name == "backfill" and in_time("scaling"):
        scaling = layers.scaling_leg(bench, w)
    bench.spark.stop()  # flushes the event log
    bench.spark = None
    events = layers.read_event_logs(bench.ev_dir)
    values, notes = layers.collect(bench, w, legs, scaling, dataops, events)
    return values, notes, dataops


def _print_e2e(w, e2e, lat, prep_s, attempted, failed, mismatches):
    from perfbench import stats

    print(f"workload {w.name}: {len(w.records)} operations, {attempted} attempted, {failed} failed")
    for name, unit, what in E2E:
        print(f"  {name:<18} {e2e[name]:>12.4f} {unit:<4} {what}")
    print(
        f"  set-up: session start + input prep {prep_s:.3f} s, "
        f"warm-up {e2e['setup_s'] - prep_s:.3f} s"
    )
    tail = stats.tail_percentile(len(lat))
    if tail is not None:
        print(
            f"  latency p{tail} {stats.quantile(lat, tail / 100):.4f} s "
            f"({len(lat)} samples)"
        )
    else:
        print(f"  {len(lat)} latency samples: {[round(x, 3) for x in lat]}")
    if w.name == "trickle":
        print(
            f"  backlog_files {w.backlog_files}, generator lag max {w.gen_lag_s:.4f} s, "
            "drains (s, rows): "
            + ", ".join(f"({r['latency_s']:.2f}, {r['items']})" for r in w.records)
        )
    if w.records and "cpu_s" in w.records[0]:
        print(
            "  per operation (wall s, tree CPU s, host steal share): "
            + ", ".join(
                f"({r['latency_s']:.2f}, {r['cpu_s']:.2f}, {r['steal']:.3f})"
                for r in w.records
            )
        )
    for line in w.notes + mismatches:
        print(f"  FAILED: {line}")
    print(f"  correct: {failed == 0}")


def _print_layers(w, values, notes):
    from perfbench.layers import PER_LAYER

    print(f"per-layer ({w.name}, per traced operation unless noted)")
    print(f"  {'metric':<30} {'value':>16} {'unit':<6} moves")
    for name, unit, _, moves in PER_LAYER:
        note = f"  [{notes[name]}]" if name in notes else ""
        print(f"  {name:<30} {values[name]:>16.4f} {unit:<6} {moves}{note}")


def repeat(args) -> int:
    """N fresh runs on consecutive seeds; per metric median, quartiles and
    (q3 - q1) / median."""
    from perfbench.stats import quartile_spread

    results = []
    for k in range(args.repeat):
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--workload", args.workload, "--seed", str(args.seed + k),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        if out.returncode != 0:
            print(out.stdout[-2000:], out.stderr[-4000:], file=sys.stderr)
            return out.returncode
        res = json.loads(out.stdout.strip().splitlines()[-1])
        results.append(res)
        per_op = [
            ln.strip() for ln in out.stdout.splitlines()
            if "per operation" in ln or "drains (s, rows)" in ln
        ]
        print(
            f"seed {args.seed + k}: {time.monotonic() - t0:.1f} s wall, correct "
            f"{res['correct']}, "
            + ", ".join(f"{m}={v['value']:.4f}" for m, v in res["metrics"].items())
            + "".join(f"\n  {ln}" for ln in per_op),
            flush=True,
        )
    print(f"{args.workload}: {args.repeat} runs")
    summary = {}
    for m in results[0]["metrics"]:
        vals = [r["metrics"][m]["value"] for r in results]
        q1, q2, q3, spread = quartile_spread(vals)
        summary[m] = {"q1": q1, "median": q2, "q3": q3, "spread": spread}
        print(f"  {m:<30} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:.4f}")
    print(json.dumps({"workload": args.workload, "runs": len(results),
                      "all_correct": all(r["correct"] for r in results),
                      "summary": summary}))
    return 0


def main(argv=None) -> int:
    from_root = os.path.isfile(os.path.join(ROOT, "punt_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["backfill", "trickle"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--repeat", type=int, default=0)
    args = p.parse_args(argv)
    if not from_root:
        print(
            f"perfbench: no punt_spark package next to {HERE}; run it from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    if args.repeat:
        return repeat(args)
    result = run_once(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
