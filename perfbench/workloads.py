"""The two workloads and the dataops leg. Each workload prepares its seeded
inputs, warms up, runs its operation back-to-back for the measured window
and checks every operation's output against the oracle outside the timed
interval.

* ``backfill`` — closed loop: ``Pipeline.run(resume=False)``, metrics ON,
  over six seeded hours of turns into a fresh output directory. Bulk
  catch-up after an outage: parse, route, transform, enrich and the
  fanned-out sink commits do the work; streaming is idle.
* ``trickle`` — open loop: a generator thread drops small seeded files
  into a watched directory on a fixed schedule while the main thread
  drains it with ``StreamingPipeline.run_available_now`` back-to-back
  (same output and checkpoint). The daemon shape: per-micro-batch fixed
  costs dominate and parse does little.
* ``Curate`` — ``__spark_entry__`` ``curate_corpus`` over a seeded
  documents twin, checked against DuckDB. Not a workload of its own: the
  backfill traced run calls it as its dataops leg, the one layer neither
  workload touches.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pandas as pd

from . import inputs, oracle
from .procs import steal_ticks, tree_cpu_s


class Workload:
    """Per-workload hooks. ``prepare`` runs after each session start,
    ``warmup`` once, ``op`` in the measured loop; ``op`` returns a record
    with at least ``latency_s``, ``items`` and ``failed``."""

    name = ""
    alert_windows = 0

    def __init__(self, bench):
        self.bench = bench
        self.records: list[dict] = []
        self.notes: list[str] = []

    def inputs(self):  # seeded, cached; not part of setup_s
        pass

    def prepare(self):
        pass

    def warmup(self):
        pass

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        """Closed loop: start operations until the window has elapsed (at
        least one; in a traced run at least untraced, traced, untraced)."""
        t0 = time.monotonic()
        i = 0
        while (
            i == 0
            or time.monotonic() - t0 < seconds
            or (self.bench.trace and i < 3)
        ):
            self.bench.set_traced(i)
            start, cpu0, steal0 = time.time(), tree_cpu_s(), steal_ticks()
            rec = self.op(i)
            steal1 = steal_ticks()
            rec.update(
                start=start,
                end=time.time(),
                traced=self.bench.tracer.enabled,
                cpu_s=tree_cpu_s() - cpu0,
                steal=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            )
            self.records.append(rec)
            i += 1
        self.bench.set_traced(None)

    def metric_rows(self) -> list[dict]:
        """The program's own counter rows for the measured operations."""
        return []

    def finish(self) -> list[str]:
        """Final output check; returns mismatch descriptions."""
        return []

    # -- end-to-end figures ----------------------------------------------
    def latencies(self) -> list[float]:
        return [r["latency_s"] for r in self.records]

    def throughput(self) -> float:
        busy = sum(r["latency_s"] for r in self.records)
        return sum(r["items"] for r in self.records) / busy if busy else 0.0


class Backfill(Workload):
    name = "backfill"

    def inputs(self):
        self.dir = inputs.backfill_inputs(self.bench.root, self.bench.seed)
        self.day_rows = pd.read_parquet(os.path.join(self.dir, "day.parquet"))
        self.oracle = oracle.reference(
            self.day_rows, os.path.join(self.dir, "oracle.pkl")
        )

    def prepare(self):
        from punt_spark.pipeline import load_lookups

        spark = self.bench.spark
        self.lookups = load_lookups(spark, self.dir)
        self.day = spark.read.parquet(os.path.join(self.dir, "day.parquet"))

    def _run(self, df, out: str):
        from punt_spark.config import default_config
        from punt_spark.pipeline import Pipeline

        shutil.rmtree(out, ignore_errors=True)
        t0 = time.monotonic()
        pipe = Pipeline(self.bench.spark, default_config(), out_dir=out, lookups=self.lookups)
        res = pipe.run(df, resume=False)
        return pipe, res, time.monotonic() - t0

    def warmup(self):
        """One pass of the operation itself, so every plan, partition
        layout and Python worker the operation uses has run once."""
        self._run(self.day, self.bench.work("backfill_warmup"))

    def op(self, i: int) -> dict:
        out = self.bench.work(f"backfill_{i % 2}")
        rec = {"latency_s": 0.0, "items": len(self.day_rows), "failed": 0}
        try:
            self.pipe, res, rec["latency_s"] = self._run(self.day, out)
        except Exception as e:  # an operation that raises counts as failed
            rec["failed"] = 1
            self.notes.append(f"op {i}: {type(e).__name__}: {e}")
            return rec
        bad = oracle.counter_mismatches(self.pipe.metrics.rows, self.oracle)
        inserted = {}
        for r in self.pipe.metrics.rows:
            if r["metric"] == "msgs.inserted":
                inserted[r["tag"]] = inserted.get(r["tag"], 0) + r["value"]
        bad += [
            f"{s}: inserted {inserted.get(s, 0)} want {n}"
            for s, n in self.oracle["sink_rows"].items()
            if inserted.get(s, 0) != n
        ]
        if bad:
            rec["failed"] = 1
            self.notes.append(f"op {i}: " + "; ".join(bad[:3]))
        rec["metrics"] = res["metrics"]
        rec["rows"] = self.pipe.metrics.rows
        return rec

    def metric_rows(self) -> list[dict]:
        return [r for rec in self.records for r in rec.get("rows", [])]

    def finish(self) -> list[str]:
        """Read every sink of the last run back (one more operation)."""
        return oracle.check_sinks(self.bench.spark, self.pipe.sinks, self.oracle)


class Trickle(Workload):
    name = "trickle"

    def inputs(self):
        self.dir = inputs.trickle_pool(self.bench.root, self.bench.seed)
        self.pool = pd.read_parquet(os.path.join(self.dir, "pool.parquet"))
        self.n_files = max(
            100, int(round(self.bench.seconds * inputs.TRICKLE_FILES_PER_S))
        )
        self.first = inputs.TRICKLE_WARMUP_FILES + inputs.TRICKLE_BACKLOG_FILES
        self.files = inputs.trickle_files(self.pool, self.first + self.n_files)

    def prepare(self):
        from punt_spark.config import default_config
        from punt_spark.pipeline import load_lookups
        from punt_spark.streaming import StreamingPipeline

        self.in_dir = self.bench.work("trickle_in")
        self.out_dir = self.bench.work("trickle_out")
        for d in (self.in_dir, self.out_dir):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.in_dir)
        for k in range(inputs.TRICKLE_WARMUP_FILES):
            self._drop(k)
        self.sp = StreamingPipeline(
            self.bench.spark,
            default_config(),
            out_dir=self.out_dir,
            lookups=load_lookups(self.bench.spark, self.dir),
            collect_metrics=True,
        )

    def _drop(self, k: int) -> float:
        """Write file k under a hidden name, then rename it into view: the
        file source skips dot-prefixed names, so a drain never lists a
        half-written file. Returns the time it became visible."""
        tmp = os.path.join(self.in_dir, f".{k:05d}.parquet.tmp")
        with open(tmp, "wb") as f:
            f.write(self.files[k])
        os.rename(tmp, os.path.join(self.in_dir, f"{k:05d}.parquet"))
        return time.time()

    def warmup(self):
        self.sp.run_available_now(self.in_dir)

    def _generate(self, t0: float):
        for j in range(self.n_files):
            due = t0 + j / inputs.TRICKLE_FILES_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            written = self._drop(self.first + j)
            self.schedule.append((due, written))

    def _drain(self, i: int) -> dict:
        rec = {
            "start": time.time(),
            "failed": 0,
            "progress": [],
            "traced": self.bench.tracer.enabled,
        }
        try:
            q = self.sp.run_available_now(self.in_dir)
            rec["progress"] = [p for p in q.recentProgress]
        except Exception as e:
            rec["failed"] = 1
            self.notes.append(f"drain {i}: {type(e).__name__}: {e}")
        rec["end"] = time.time()
        rec["latency_s"] = rec["end"] - rec["start"]
        rec["items"] = sum(p.get("numInputRows", 0) for p in rec["progress"])
        return rec

    def measure(self, seconds: float) -> None:
        """Open loop: the schedule never waits for the drains. The window
        opens with a backlog already waiting, as if the generator had been
        running, so the first drain is a full micro-batch and the phase of
        the schedule against the drains is the same in every run."""
        self.schedule: list[tuple[float, float]] = []
        self._rows0 = len(self.sp.metrics.rows)
        for k in range(inputs.TRICKLE_WARMUP_FILES, self.first):
            self._drop(k)
        t0 = time.time()
        gen = threading.Thread(target=self._generate, args=(t0,), daemon=True)
        gen.start()
        i = 0
        # a traced run traces every drain: the drains differ in size, so
        # alternating traced and untraced ones would compare unlike work
        self.bench.tracer.enabled = self.bench.trace
        while gen.is_alive():
            self.records.append(self._drain(i))
            i += 1
        gen.join()
        self.records.append(self._drain(i))  # the one final drain
        self.bench.set_traced(None)
        self.window = (t0, self.records[-1]["end"])
        self.freshness = []
        for due, written in self.schedule:
            end = next(
                (r["end"] for r in self.records if r["start"] > written), None
            )
            if end is not None:
                self.freshness.append(end - due)
        self.gen_lag_s = max(w - d for d, w in self.schedule)
        self.backlog_files = self.n_files - self._committed_scheduled()

    def metric_rows(self) -> list[dict]:
        return self.sp.metrics.rows[self._rows0 :]

    def _committed_scheduled(self) -> int:
        """Scheduled files the streaming checkpoint's source log lists."""
        import json

        log_dir = os.path.join(self.sp.checkpoint, "sources", "0")
        seen = set()
        for name in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        seen.add(os.path.basename(json.loads(line)["path"]))
        return sum(f"{self.first + j:05d}.parquet" in seen for j in range(self.n_files))

    def latencies(self) -> list[float]:
        return self.freshness

    def throughput(self) -> float:
        """Turns made visible per second, from the window's start to the end
        of the final drain. In an open loop this tracks the offered rate
        while it is sustainable; freshness is the figure that moves."""
        t0, t1 = self.window
        files = inputs.TRICKLE_BACKLOG_FILES + self.n_files
        return files * inputs.TRICKLE_FILE_TURNS / (t1 - t0)

    def finish(self) -> list[str]:
        n_rows = (self.first + self.n_files) * inputs.TRICKLE_FILE_TURNS
        ref = oracle.reference(
            self.pool.iloc[:n_rows], os.path.join(self.dir, f"oracle-{n_rows}.pkl")
        )
        bad = oracle.counter_mismatches(self.sp.metrics.rows, ref)
        if self.backlog_files:
            bad.append(f"backlog {self.backlog_files} files after the final drain")
        return bad + oracle.check_sinks(self.bench.spark, self.sp.sinks, ref)


class Curate(Workload):
    """The dataops leg: ``op`` is one ``curate_corpus`` call on the seeded
    5k-doc twin, result collected and compared with the DuckDB oracle."""

    name = "curate"

    def inputs(self):
        self.dir = inputs.curate_inputs(self.bench.root, self.bench.seed)
        self.warm_dir = os.path.join(self.dir, "warmup")
        self.oracle = oracle.curate_oracle(self.dir)

    def _call(self, docs_dir: str) -> pd.DataFrame:
        import __spark_entry__ as entry

        return entry.q_curate_corpus(self.bench.spark, docs_dir).toPandas()

    def warmup(self):
        self._call(self.warm_dir)

    def op(self, i: int) -> dict:
        rec = {"latency_s": 0.0, "items": inputs.CURATE_DOCS, "failed": 0}
        t0 = time.monotonic()
        try:
            with self.bench.tracer.span("curate.op"):
                got = self._call(self.dir)
        except Exception as e:
            rec["failed"] = 1
            self.notes.append(f"call {i}: {type(e).__name__}: {e}")
            return rec
        rec["latency_s"] = time.monotonic() - t0
        if not oracle.normalize_status(got).equals(self.oracle):
            rec["failed"] = 1
            self.notes.append(f"call {i}: statuses differ from the DuckDB oracle")
        return rec


WORKLOADS = {w.name: w for w in (Backfill, Trickle)}

