"""CLI — run the pipeline over a transcripts parquet table.

The Spark analog of ``cmd/puntd/main.go`` (flag parse → LoadConfig →
State.Run). Usage:

    python -m punt_spark.cli --input DIR --out DIR [--config cfg.json]
        [--no-resume] [--retention] [--master local[N]]
    python -m punt_spark.cli --out DIR --tail SINK[,SINK...] [--follow]
        [--retention-interval SEC] [--limit N] [--sample PCT]

``--input`` is a directory containing transcripts.parquet (+ optional
lookup_tool.parquet / lookup_role.parquet), or a path to a parquet file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .config import PipelineConfig, default_config
from .pipeline import Pipeline, load_lookups
from .session import get_spark


def _all_tables(p) -> dict:
    """Every snapshot table a pipeline owns — the sinks plus the
    errors/alerts/actions side tables (which accumulate per-micro-batch
    snapshots just like the sinks do)."""
    return {
        **p.sinks,
        "errors": p.errors_table,
        "alerts": p.alerts_table,
        "actions": p.actions_table,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="punt-spark", description=__doc__)
    ap.add_argument("--input", help="transcripts parquet dir/file (required unless --tail)")
    ap.add_argument("--out", required=True, help="output root (sinks, metrics)")
    ap.add_argument("--config", help="Punt-shaped JSON config (optional)")
    ap.add_argument("--master", default=None, help="Spark master override")
    ap.add_argument("--frame", choices=["none", "newline", "octet"],
                    default="none",
                    help="pre-parse record framing (reference: TCP newline / "
                    "RFC6587 octet_counted servers)")
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess chunks even if committed")
    ap.add_argument("--stream", action="store_true",
                    help="run the Structured Streaming pipeline "
                    "(Trigger.AvailableNow drain) instead of the batch "
                    "group-commit path — the daemon shape; the streaming "
                    "checkpoint under --out replaces chunk-marker resume, "
                    "so a rerun picks up only files not yet processed")
    ap.add_argument("--stream-max-files", type=int, default=None,
                    metavar="N",
                    help="with --stream: cap files per micro-batch "
                    "(maxFilesPerTrigger)")
    ap.add_argument("--dedup-within", default=None, metavar="DURATION",
                    help='with --stream: ingest-time exact dedup window, '
                    'e.g. "10 minutes" (dropDuplicatesWithinWatermark on '
                    "(conv_id, turn_idx))")
    ap.add_argument("--retention", action="store_true",
                    help="run keep-N partition GC after the pipeline")
    ap.add_argument("--compact", action="store_true",
                    help="after the pipeline, rewrite each sink snapshot's "
                    "small files to one file per partition value "
                    "(micro-batch commits accumulate small files; "
                    "Iceberg rewrite_data_files analog, per-snapshot so "
                    "resume/idempotency semantics are preserved)")
    ap.add_argument("--tail", metavar="SINK[,SINK...]",
                    help="instead of running the pipeline, tail sink "
                    "table(s) under --out (punt-cli analog; a comma list "
                    "fans several tables into one stream like punt-cli's "
                    "multi-host tail): print matching rows")
    ap.add_argument("--tail-filter", action="append", default=[],
                    metavar="FIELD=VALUE",
                    help="field-equality filter for --tail (repeatable)")
    ap.add_argument("--filter", dest="filter_json", default=None,
                    metavar="JSON",
                    help='JSON object filter for --tail, punt-cli format: '
                    '\'{"field": "value"}\'')
    ap.add_argument("--sample", type=int, default=100,
                    help="percentage sample for --tail (default 100)")
    ap.add_argument("--limit", type=int, default=None,
                    help="max rows printed by --tail (default 20 in batch "
                    "mode; unbounded in --follow mode unless given)")
    ap.add_argument("--follow", action="store_true",
                    help="with --tail: live subscription — keep polling for "
                    "newly committed rows (the reference's control-socket "
                    "tail, control.go:80-143)")
    ap.add_argument("--follow-sec", type=int, default=0,
                    help="with --follow: stop after N seconds (0 = until "
                    "interrupted)")
    ap.add_argument("--retention-interval", type=float, default=0,
                    metavar="SEC",
                    help="with --follow: run keep-N partition GC every SEC "
                    "seconds while tailing (the reference's 15-minute "
                    "gcIndexes ticker, cluster.go:112-128)")
    args = ap.parse_args(argv)

    if args.tail:
        from .sink import SnapshotTable
        from .tail import tail

        spark = get_spark(app_name="punt-spark-tail", master=args.master)
        names = [s.strip() for s in args.tail.split(",") if s.strip()]
        if not names:
            ap.error("--tail needs at least one sink name")
        tables = [
            SnapshotTable(os.path.join(args.out, s)) for s in names
        ]
        filters = dict(kv.split("=", 1) for kv in args.tail_filter)
        if args.filter_json:
            # punt-cli's TailRequest.Filter is map[string]string
            # (control.go:20-22) — coerce JSON scalars to their string form
            filters.update(
                {
                    k: v if isinstance(v, str) else json.dumps(v)
                    for k, v in json.loads(args.filter_json).items()
                }
            )
        if args.follow:
            import threading as _threading
            import time as _time

            from .streaming import live_tail

            # ONE overall deadline covers both the wait-for-first-commit
            # phase and the tailing phase (--follow-sec is a hard bound)
            deadline = (
                _time.monotonic() + args.follow_sec
                if args.follow_sec > 0
                else None
            )
            printed = {"n": 0}
            limit = args.limit  # None = unbounded live tail
            lock = _threading.Lock()

            def emit(batch_df, batch_id):
                with lock:
                    if limit is not None:
                        remaining = limit - printed["n"]
                        if remaining <= 0:
                            return
                        batch_df = batch_df.limit(remaining)
                    rows = batch_df.collect()
                    for r in rows:
                        print(
                            json.dumps(r.asDict(recursive=True), default=str),
                            flush=True,
                        )
                    printed["n"] += len(rows)

            ticker = None
            if args.retention_interval > 0:
                cfg = (
                    PipelineConfig.from_json(args.config)
                    if args.config
                    else default_config()
                )
                ticker = Pipeline(spark, cfg, out_dir=args.out)\
                    .retention_ticker(args.retention_interval).start()

            # The subscription attaches to each sink table AS SOON AS it has
            # a first commit (ONE streaming query per table, fanned in at
            # the print level like punt-cli's multi-host tail) — a sink that
            # is never written must not starve the tables that do have data
            # (the reference's control socket accepts tails regardless of
            # data). Per-table queries also let late tables join the running
            # session without replaying the already-attached ones.
            pending = dict(zip(names, tables))
            queries: list = []
            waiting_logged = False
            try:
                while True:
                    for nm in list(pending):
                        if pending[nm].read(spark) is not None:
                            queries.append(
                                live_tail(
                                    spark, pending.pop(nm), filters,
                                    args.sample, follow=True,
                                    foreach_batch=emit,
                                    query_name=f"punt_tail_{nm}",
                                )
                            )
                    if not queries and not waiting_logged:
                        print("waiting for first commit...", file=sys.stderr)
                        waiting_logged = True
                    if limit is not None and printed["n"] >= limit:
                        break
                    if deadline is not None and _time.monotonic() > deadline:
                        break
                    for q in queries:
                        # a stream that died on its own carries the error —
                        # surface it instead of exiting 0 on a failed tail
                        exc = q.exception()
                        if exc is not None:
                            raise exc
                    _time.sleep(0.5)
            except KeyboardInterrupt:
                pass
            finally:
                for q in queries:
                    q.stop()
                if ticker is not None:
                    ticker.stop()
            if not queries:
                print("[]")
            return 0
        frames = [t.read(spark) for t in tables]
        frames = [f for f in frames if f is not None]
        if not frames:
            print("[]")
            return 0
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        batch_limit = args.limit if args.limit is not None else 20
        rows = tail(df, filters, args.sample).limit(batch_limit).collect()
        print(json.dumps([r.asDict(recursive=True) for r in rows],
                         default=str, indent=1))
        return 0

    if not args.input:
        ap.error("--input is required unless --tail")
    cfg = PipelineConfig.from_json(args.config) if args.config else default_config()
    spark = get_spark(app_name="punt-spark-cli", master=args.master)

    path = args.input
    tpath = (
        os.path.join(path, "transcripts.parquet")
        if os.path.isdir(path) and os.path.exists(os.path.join(path, "transcripts.parquet"))
        else path
    )
    transcripts = spark.read.parquet(tpath)
    lookups = load_lookups(spark, path) if os.path.isdir(path) else {}

    if args.stream:
        from .streaming import StreamingPipeline

        s = StreamingPipeline(
            spark,
            cfg,
            out_dir=args.out,
            lookups=lookups,
            frame_mode=args.frame,
            dedup_within=args.dedup_within,
        )
        s.run_available_now(
            tpath, max_files_per_trigger=args.stream_max_files
        )
        result = {"mode": "stream", "metrics": s.metrics.totals()}
        if args.retention:
            from .sink import expire_by_config

            result["retention_expired"] = expire_by_config(cfg, s.sinks)
        if args.compact:
            # the streaming mode is where small files accumulate (one
            # snapshot per micro-batch) — sinks AND the per-batch side
            # tables (errors/alerts/actions commit every micro-batch too)
            result["compaction"] = {
                name: t.compact_snapshots(spark)
                for name, t in _all_tables(s).items()
            }
        print(json.dumps(result, indent=1, default=str))
        return 0

    pipe = Pipeline(
        spark,
        cfg,
        out_dir=args.out,
        lookups=lookups,
        frame_mode=args.frame,
    )
    result = pipe.run(transcripts, resume=not args.no_resume)
    if args.retention:
        result["retention_expired"] = pipe.run_retention()
    if args.compact:
        result["compaction"] = {
            name: t.compact_snapshots(spark)
            for name, t in _all_tables(pipe).items()
        }
    print(json.dumps(result, indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
