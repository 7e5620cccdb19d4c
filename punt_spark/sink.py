"""Sinks — atomic snapshot-committed, partition-pruned parquet tables.

Reference mapping (SURVEY.md §2.5): Punt buffers rows into ES bulk requests
and commits on size/interval triggers with bounded retries, dropping on
failure — *at-most-once* (cluster.go:307-382). Here every write is an atomic
snapshot commit: data files land first, then a manifest JSON (the list of
files belonging to the snapshot) is published via atomic rename; readers
only see manifested files. A chunk whose snapshot exists is never
reprocessed → *exactly-once per chunk*, a strict upgrade (documented
divergence; ``msgs.dropped`` is structurally 0).

This is the Iceberg table layout in miniature — manifest ≈ snapshot file
list, ``data/batch=<id>/chunk=…/route_key=…/ts_day=…`` ≈ partitioned data
files — and the group-commit shape matches Iceberg's: ONE physical write
can span many logical chunks (``commit_batch``), then one manifest per
chunk is published, so a 30-day backfill is one Spark job per sink, not 30,
while resume granularity stays per-chunk. ``commit``, ``commit_batch`` and
``compact_snapshots`` share one write-and-publish body
(``SnapshotTable._write_snapshots``), so every manifest carries
per-partition row counts read from the new files' parquet footers. On a
real cluster the same interface binds to Iceberg; the sandbox has no
Iceberg jars, so the manifest layer stands in. Retention and time travel
are O(metadata); compaction is the one data rewrite.

Partition spec per BASELINE.json north_star: ``(route_key, ts_day)`` — the
ES ``prefix + date_format(ts)`` index naming (cluster.go:284) becomes the
partition key, so time-ranged reads prune.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COLS = ["route_key", "ts_day"]
CHUNK_COL = "chunk"
# Chunk value for rows whose input ts is NULL: date_format(NULL) yields a
# NULL chunk, and a NULL never matches an isin(group) filter — without the
# sentinel such rows would silently reach no sink AND no errors table
# while resume marked their chunk committed (permanent unreported loss).
# Distinct from every yyyy-MM-dd value and filesystem-safe.
NULL_TS_CHUNK = "null-ts"
_HIDDEN_COLS = ["batch", CHUNK_COL]


def chunk_expr(ts_col: str = "ts"):
    """THE canonical chunk derivation (shared by batch run/group filter and
    the streaming micro-batch body): day bucket of the input timestamp,
    NULL-safe via the sentinel."""
    return F.coalesce(
        F.date_format(ts_col, "yyyy-MM-dd"), F.lit(NULL_TS_CHUNK)
    )


def _parquet_file_rows(path: str) -> int:
    """Row count from the parquet footer only (no column data read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


class SnapshotTable:
    """A partitioned parquet table with atomic, idempotent snapshot commits.

    A *snapshot* is a manifest JSON naming its data files. Commits replace
    the manifest via atomic rename; orphaned data files (from a crashed or
    superseded batch) are invisible to readers.
    """

    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- write ---------------------------------------------------------------

    def _write_batch_dir(
        self, df: DataFrame, batch_id: str, part_cols: list[str]
    ) -> str:
        """Write df under data/batch=<id> (atomic dir swap). The staging
        dir is DOT-prefixed so Spark's file listing (and the live_tail
        stream source) never sees in-flight or crash-orphaned writes —
        only the atomic rename publishes the files."""
        path = os.path.join(self.data_dir, f"batch={batch_id}")
        tmp = os.path.join(self.data_dir, f".tmp.batch={batch_id}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        return path

    @property
    def _spec_path(self) -> str:
        return os.path.join(self.root, "_spec.json")

    def _check_partition_spec(self, part_cols: list[str]):
        """A table's partition spec is immutable: mixing depths breaks the
        basePath partition discovery of BOTH the batch reader
        (CONFLICTING_PARTITION_COLUMN_NAMES) and the tail stream's leaf
        glob — fail at commit time, where the mistake is made, not at
        read time. (Iceberg-style partition-spec evolution would need
        explicit per-spec file groups; out of scope.)

        The spec lives in ONE table-level ``_spec.json``, so the check is
        O(1) per commit regardless of table history (measured: at 400
        snapshots the old load-every-manifest check cost ~7 ms/commit and
        grew linearly; this is ~0.02 ms flat). A legacy table without the
        spec file gets a one-time migration scan that validates ALL
        manifests (not just the first — a mixed-spec table written before
        this guard existed must fail here, not at read time) and then
        writes the spec file."""
        if os.path.exists(self._spec_path):
            with open(self._spec_path) as f:
                existing = json.load(f)["partition_cols"]
            if existing != part_cols:
                # A spec pinned by a commit that FAILED before publishing
                # any snapshot must not wedge the table forever: with zero
                # published snapshots the old spec is unobservable by any
                # reader, so adopt the new one.
                if not self.snapshots():
                    self._write_spec(part_cols)
                    return
                raise ValueError(
                    f"partition spec mismatch on {self.root!r}: table has "
                    f"{existing}, commit attempted {part_cols}"
                )
            return
        specs = {
            tuple(m.get("partition_cols", []))
            for m in self.snapshots().values()
        }
        if len(specs) > 1:
            raise ValueError(
                f"table {self.root!r} already contains MIXED partition "
                f"specs {sorted(specs)}; it must be rewritten before new "
                "commits"
            )
        if specs:
            existing = list(specs.pop())
            if existing != part_cols:
                raise ValueError(
                    f"partition spec mismatch on {self.root!r}: table has "
                    f"{existing}, commit attempted {part_cols}"
                )
        self._write_spec(part_cols)

    def _write_spec(self, part_cols: list[str]):
        tmp = self._spec_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"partition_cols": part_cols}, f)
        os.replace(tmp, self._spec_path)

    def _publish(self, manifest: dict) -> dict:
        """Atomically replace snapshot ``sid``'s manifest, then delete any
        files the OLD manifest referenced that the new one does not — an
        idempotent re-commit (or a compaction) must not strand its
        predecessor's data files on disk, where the glob-based
        ``tail_stream`` (which lists the data dir, not the manifest) would
        keep emitting them forever. Residual crash window: dying between
        the manifest swap and the deletions strands the old files —
        invisible to manifest-driven reads but still globbed by
        ``tail_stream``; ``gc_orphan_files()`` sweeps them (run it from
        the owning writer, like the other maintenance ops)."""
        sid = manifest["snapshot_id"]
        final = os.path.join(self.snap_dir, f"{sid}.json")
        old_files: list[str] = []
        if os.path.exists(final):
            try:
                with open(final) as f:
                    old_files = json.load(f).get("files", [])
            except (OSError, json.JSONDecodeError):
                old_files = []
        tmp = os.path.join(self.snap_dir, f".{sid}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, final)
        new_set = set(manifest["files"])
        for rel in old_files:
            if rel not in new_set:
                p = os.path.join(self.root, rel)
                if os.path.exists(p):
                    try:
                        os.remove(p)
                    except OSError:
                        pass
        return manifest

    def _read_footers(self, files: list[str]) -> dict[str, int]:
        """Per-file row counts from parquet footers, threaded (metadata-only
        driver I/O, no Spark job — the Iceberg-manifest row-count analog)."""
        if not files:
            return {}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(files))) as ex:
            return dict(
                zip(
                    files,
                    ex.map(
                        lambda rel: _parquet_file_rows(
                            os.path.join(self.root, rel)
                        ),
                        files,
                    ),
                )
            )

    @staticmethod
    def _partition_lineage(files: list[str], footer_rows: dict[str, int]) -> dict:
        """{partition_rows: {"<route_key>|<ts_day>": rows}, n_rows} from a
        snapshot's file list + footer counts."""
        partition_rows: dict[str, int] = {}
        n_rows = 0
        for rel in files:
            n = footer_rows[rel]
            key = "|".join(
                seg.split("=", 1)[1]
                for seg in rel.split(os.sep)
                if "=" in seg
                and not seg.startswith((f"{CHUNK_COL}=", "batch="))
            )
            partition_rows[key or "_"] = partition_rows.get(key or "_", 0) + n
            n_rows += n
        return {"partition_rows": partition_rows, "n_rows": n_rows}

    def _write_snapshots(
        self,
        df: DataFrame,
        batch_id: str,
        partition_cols: list[str] | None,
        chunks: list[str] | None = None,
        snapshot_id: str | None = None,
        **fields,
    ) -> dict[str, dict]:
        """THE snapshot write behind ``commit``, ``commit_batch`` and
        ``compact_snapshots``: check the partition spec, write
        ``data/batch=<batch_id>`` (atomic dir swap), list its files, read
        their parquet footers and publish one manifest per label. With
        ``chunks`` the files are grouped by their ``chunk=`` dir, one label
        per chunk (absent chunks still get an empty snapshot, so resume can
        trust manifest existence); without, the one label is
        ``snapshot_id`` (default ``batch_id``). ``fields`` override manifest
        entries (compaction keeps ``committed_at``).

        Lineage comes FREE from the write itself: per-partition row counts
        are read from the FOOTERS of the files just written — metadata-only
        driver I/O, no Spark job, no data read; the Iceberg-manifest
        row-count analog. Returns ``{label: manifest}``."""
        part_cols = (
            partition_cols
            if partition_cols is not None
            else [c for c in PARTITION_COLS if c in df.columns]
        )
        if chunks is not None:
            part_cols = [CHUNK_COL] + part_cols
        self._check_partition_spec(part_cols)
        path = self._write_batch_dir(df, batch_id, part_cols)
        one = snapshot_id or batch_id
        by_label = {c: [] for c in chunks} if chunks is not None else {one: []}
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(f, self.root)
            # chunks given: rel is data/batch=<id>/chunk=<c>/…
            label = one if chunks is None else rel.split(os.sep)[2].split("=", 1)[1]
            by_label.setdefault(label, []).append(rel)
        # Footer reads are independent metadata-only I/O — threaded across
        # ALL labels' files so commit latency is bounded by the slowest
        # read, not the file count (O(files) serial reads were the
        # per-commit driver cost flagged at 10⁵-commit scale).
        footer_rows = self._read_footers(
            [rel for files in by_label.values() for rel in files]
        )
        return {
            label: self._publish(
                {
                    "snapshot_id": label,
                    "batch": batch_id,
                    "partition_cols": part_cols,
                    "files": files,
                    "n_files": len(files),
                    "lineage": self._partition_lineage(files, footer_rows),
                    "committed_at": time.time(),
                    **fields,
                }
            )
            for label, files in by_label.items()
        }

    def commit(
        self,
        df: DataFrame,
        snapshot_id: str,
        partition_cols: list[str] | None = None,
    ) -> dict:
        """Single-snapshot commit (streaming micro-batches, tests).
        Idempotent: recommitting the same id replaces it atomically.
        Returns the manifest."""
        return self._write_snapshots(df, snapshot_id, partition_cols)[snapshot_id]

    def commit_batch(
        self,
        df: DataFrame,
        batch_id: str,
        chunks: list[str],
        partition_cols: list[str] | None = None,
    ) -> dict[str, dict]:
        """ONE physical write spanning many chunks → one snapshot manifest
        per chunk. ``df`` must carry a ``chunk`` column; it leads the
        partition spec. Returns ``{chunk: manifest}``."""
        return self._write_snapshots(df, batch_id, partition_cols, chunks=chunks)

    # -- read ----------------------------------------------------------------

    def snapshots(self) -> dict[str, dict]:
        out = {}
        for p in sorted(glob.glob(os.path.join(self.snap_dir, "*.json"))):
            with open(p) as f:
                m = json.load(f)
            out[m["snapshot_id"]] = m
        return out

    def has_snapshot(self, snapshot_id: str) -> bool:
        return os.path.exists(os.path.join(self.snap_dir, f"{snapshot_id}.json"))

    def lineage(self) -> dict[str, dict]:
        """Per-snapshot lineage audit: {snapshot_id: {"n_rows", "n_files",
        "partition_rows": {"<route_key>|<ts_day>": rows}}} straight from the
        committed manifests (no Spark job, no data read). A resumed run can
        verify exactly which partitions each chunk committed — the
        north_rule's per-partition lineage surface."""
        out = {}
        for sid, m in self.snapshots().items():
            lin = m.get("lineage", {})
            out[sid] = {
                "n_rows": lin.get("n_rows", 0),
                "n_files": m.get("n_files", 0),
                "partition_rows": lin.get("partition_rows", {}),
            }
        return out

    def read(
        self, spark: SparkSession, as_of: float | None = None
    ) -> DataFrame | None:
        """Read exactly the manifested files (partition columns recovered
        from directory layout; bookkeeping cols dropped).

        ``as_of`` (unix seconds) reads the table AS OF that commit time:
        snapshots published later are invisible — Iceberg time travel in
        miniature, O(metadata). Honest caveat: idempotent re-commits
        REPLACE a snapshot's manifest (and its committed_at) in place, so
        a re-committed snapshot is visible only at its LATEST commit
        time; per-version history would need Iceberg's metadata log."""
        files = [
            os.path.join(self.root, f)
            for m in self.snapshots().values()
            if as_of is None or m.get("committed_at", 0) <= as_of
            for f in m["files"]
        ]
        files = [f for f in files if os.path.exists(f)]
        if not files:
            return None
        df = (
            spark.read.option("basePath", self.data_dir)
            # snapshots may have evolved the schema (e.g. record_idx appears
            # when framing is enabled mid-table) — merge, don't sample
            .option("mergeSchema", "true")
            .parquet(*files)
        )
        return df.drop(*[c for c in _HIDDEN_COLS if c in df.columns])

    # -- maintenance ---------------------------------------------------------

    def gc_orphan_files(self) -> list[str]:
        """Delete data files no manifest references — the sweep for the
        residual ``_publish`` crash window (manifest swapped, old files
        not yet deleted) and any crash-orphaned published-but-superseded
        batch. SINGLE-WRITER op: run from the owning driver only, never
        concurrent with an in-flight commit (a just-renamed batch dir
        whose manifest has not published yet would be swept). Staging
        dirs (dot-prefixed) are never touched. Returns the removed
        relative paths."""
        referenced = {
            f for m in self.snapshots().values() for f in m["files"]
        }
        removed: list[str] = []
        for p in glob.glob(
            os.path.join(self.data_dir, "**", "*.parquet"), recursive=True
        ):
            rel = os.path.relpath(p, self.root)
            if rel not in referenced and not any(
                seg.startswith(".") for seg in rel.split(os.sep)
            ):
                try:
                    os.remove(p)
                    removed.append(rel)
                except OSError:
                    pass
        return removed

    def compact_snapshots(self, spark: SparkSession) -> dict[str, dict]:
        """Small-file compaction — the third Iceberg-style maintenance op
        next to keep-N retention and time travel. Micro-batch commits
        (streaming mode: one snapshot per batch, salt_buckets files per
        partition value) accumulate small files that tax every subsequent
        scan's task scheduling; compaction rewrites each snapshot's file
        set to ONE file per partition value and republishes the manifest
        atomically.

        Per-SNAPSHOT by design: snapshot ids (and so chunk-level resume
        and idempotent re-commit semantics) are preserved — a re-delivered
        micro-batch still overwrites its own snapshot. Cross-snapshot
        merging is deliberately out of scope (it would fold several
        idempotency units into one; Iceberg's rewrite_data_files carries a
        whole conflict-detection subsystem for that).

        Crash-safe: new files land under ``batch=<sid>.c<gen>`` before the
        manifest swap; a crash beforehand leaves them orphaned and
        invisible. Old files are deleted only after publish. Hot-partition
        caveat: one output file per partition value means one task per
        value — compaction inherits the partition sizing of the original
        write; for a pathologically hot cell, compact less often or raise
        the write-side salt.

        Returns {snapshot_id: {"files_before", "files_after"}} for the
        snapshots actually rewritten (those already at one file per
        partition value are skipped).
        """
        out: dict[str, dict] = {}
        # Partition values are STRINGS by table contract; the punt_spark
        # session factory disables inference globally, but compaction must
        # be safe from ANY session: with inference on, a numeric-looking
        # value (route_key=00123) would be read as int and REWRITTEN as
        # route_key=123 — silently renaming the partition directory and
        # breaking prefix-based retention. Inference happens eagerly at
        # DataFrame creation; ONE set/restore spans the whole loop (a
        # per-snapshot toggle would churn session-global state once per
        # snapshot and widen the window where a concurrent reader — the
        # retention ticker, a live_tail attach — observes the flipped
        # value).
        inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        saved_inf = spark.conf.get(inf_key)
        spark.conf.set(inf_key, "false")
        try:
            for sid, m in self.snapshots().items():
                files = [
                    f for f in m["files"] if os.path.exists(os.path.join(self.root, f))
                ]
                per_dir = Counter(os.path.dirname(f) for f in files)
                if max(per_dir.values(), default=0) <= 1:
                    continue  # already one file per partition value
                part_cols = m.get("partition_cols", [])
                df = spark.read.option("basePath", self.data_dir).parquet(
                    *[os.path.join(self.root, f) for f in files]
                )
                df = df.drop(*[c for c in ("batch",) if c in df.columns])
                if part_cols:
                    df = df.repartition(
                        *[F.col(c) for c in part_cols]
                    ).sortWithinPartitions(*part_cols)
                else:
                    df = df.coalesce(1)
                gen = 0
                while os.path.exists(
                    os.path.join(self.data_dir, f"batch={sid}.c{gen}")
                ):
                    gen += 1
                # committed_at is PRESERVED: the rows are identical, so a
                # time-travel read(as_of=t) for any t after the original
                # commit must keep seeing this snapshot; compacted_at
                # records the maintenance event separately. _publish
                # garbage-collects the replaced manifest's files.
                new = self._write_snapshots(
                    df,
                    f"{sid}.c{gen}",
                    part_cols,
                    snapshot_id=sid,
                    committed_at=m.get("committed_at", 0),
                    compacted_from=len(m["files"]),
                    compacted_at=time.time(),
                )[sid]
                out[sid] = {
                    "files_before": len(m["files"]),
                    "files_after": new["n_files"],
                }
        finally:
            spark.conf.set(inf_key, saved_inf)
        return out

    def partitions(self, prefix: str | None = None) -> list[str]:
        """Distinct route_key partition values across committed snapshots.
        Lexicographic sort == chronological (zero-padded date formats), the
        same trick the reference's GC relies on (gc.go:29-33)."""
        keys: set[str] = set()
        for m in self.snapshots().values():
            for f in m["files"]:
                for seg in f.split(os.sep):
                    if seg.startswith("route_key="):
                        keys.add(seg[len("route_key="):])
        if prefix is not None:
            keys = {k for k in keys if k.startswith(prefix)}
        return sorted(keys)

    def expire_partitions(self, prefix: str, keep: int) -> list[str]:
        """keep-N retention per prefix (reference: gc.go:15-55). Rewrites
        manifests to exclude expired partitions, then deletes their
        directories — O(metadata), like Iceberg dropPartition."""
        keys = self.partitions(prefix)
        expired = keys[:-keep] if keep > 0 else keys
        if not expired:
            return []
        expired_set = {f"route_key={k}" for k in expired}
        drop_dirs: set[str] = set()
        for sid, m in self.snapshots().items():
            kept = []
            for f in m["files"]:
                segs = f.split(os.sep)
                hit = next((s for s in segs if s in expired_set), None)
                if hit is None:
                    kept.append(f)
                else:
                    drop_dirs.add(
                        os.path.join(self.root, *segs[: segs.index(hit) + 1])
                    )
            if len(kept) != len(m["files"]):
                m["files"] = kept
                m["n_files"] = len(kept)
                # lineage must track the file set: the per-partition audit
                # surface (lineage()) otherwise keeps reporting rows that
                # retention physically deleted (compaction already
                # recomputes on rewrite; retention must too)
                pr = (m.get("lineage") or {}).get("partition_rows")
                if pr:
                    expired_vals = set(expired)
                    keep_pr = {
                        k: v
                        for k, v in pr.items()
                        if k.split("|", 1)[0] not in expired_vals
                    }
                    m["lineage"] = {
                        "partition_rows": keep_pr,
                        "n_rows": sum(keep_pr.values()),
                    }
                self._publish(m)
        for d in drop_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return expired


# Elasticsearch mapping type → Spark SQL type (mapping.go field types; the
# subset a Punt config can declare, defaulting to string for exotic ones).
ES_TO_SPARK_TYPE = {
    "text": "string",
    "keyword": "string",
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
    "double": "double",
    "float": "float",
    "half_float": "float",
    "boolean": "boolean",
    "date": "timestamp",
    "ip": "string",
    "geo_point": "array<double>",
}


def enforce_mapping(df: DataFrame, mapping) -> DataFrame:
    """Enforce a declared Mapping on the write path — the Spark analog of
    Elasticsearch applying the index template Punt pushes at startup
    (mapping.go:19-42, type.go:63-97; ES *rejects* non-coercible docs).

    Declared fields are cast to the declared type with try_cast — a value
    ES would bounce becomes NULL instead of failing the whole bulk commit
    (documented divergence: our commits are atomic, so row-level rejection
    would abort the snapshot). Declared fields missing from the frame
    materialize as typed NULL columns, keeping every sink file on the
    declared schema. Undeclared columns pass through (dynamic mapping,
    ``Mapping.All``)."""
    if mapping is None or not mapping.fields:
        return df
    out = df
    for fname, spec in mapping.fields.items():
        spark_type = ES_TO_SPARK_TYPE.get(spec.get("type", "text"), "string")
        if fname in out.columns:
            out = out.withColumn(fname, F.col(fname).try_cast(spark_type))
        else:
            out = out.withColumn(fname, F.lit(None).cast(spark_type))
    return out


def _split_ddl_cols(schema: str) -> list[str]:
    """Split a DDL column list on TOP-LEVEL commas only: a nested type
    (``pt struct<x:int,y:int>``, ``xs array<struct<...>>``) carries commas
    that do not delimit columns — a naive split emitted syntactically
    broken CREATE TABLE statements for any nested payload_schema while
    from_json handled the same schema fine."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def sink_ddl(cfg, frame_mode: str = "none") -> dict[str, str]:
    """Per-sink CREATE TABLE DDL — the reference's startup index-template
    sync (R8, type.go:63-97) expressed as Iceberg DDL. On a real cluster
    these run once at pipeline init; the sandbox's manifest tables encode
    the same spec implicitly.

    The column list is derived per type: transformer (direct keeps the
    envelope; unpack-merge merges the payload and drops content;
    unpack-take replaces the envelope) + mutator outputs + framing
    sub-index — matching exactly what the group body
    (``pipeline.MetricsPlumbing._process_group``) writes.
    """
    meta = ["conv_id string", "turn_idx int"]
    if frame_mode != "none":
        meta.append("record_idx int")
    meta += ["role string", "tool string", "turn_ts timestamp"]
    envelope = [
        "priority int", "ts timestamp", "hostname string", "tag string",
        "pid int", "content string", "source string",
    ]
    stamps = [
        "route_key string", "ts_day string",
        "`@timestamp` string", "`punt-server` string",
    ]
    out = {}
    # The transformer drops payload fields that collide with ANY engine
    # column present at transform time — not just the parse meta, but the
    # routing stamps and the bookkeeping columns route() attaches (sink,
    # prefix, mapping_type, date_format, transformer, chunk). The DDL must
    # mirror that full set or a payload declaring e.g. `route_key string`
    # lists the column twice (invalid CREATE TABLE) and one declaring
    # `sink string` lists a column that is never written (schema drift).
    meta_names = {c.split()[0].strip("`") for c in meta}
    stamp_names = {c.split()[0].strip("`") for c in stamps}
    engine_names = meta_names | stamp_names | {
        CHUNK_COL, "sink", "prefix", "mapping_type", "date_format",
        "transformer",
    }
    for t in cfg.types.values():
        payload = []
        if t.payload_schema and not t.payload_schema.startswith("map<"):
            payload = [
                c
                for c in _split_ddl_cols(t.payload_schema)
                if c.split()[0].strip("`") not in engine_names
            ]
        elif t.transformer in ("unpack-merge", "unpack-take"):
            # dynamic payload (map default / declared map): the whole
            # object lands as ONE opaque map column
            payload = [
                f"payload {t.payload_schema or 'map<string,string>'}"
            ]
        if t.transformer == "direct":
            cols = meta + envelope + stamps
        elif t.transformer == "unpack-merge":
            payload_names = {p.split()[0] for p in payload}
            kept = [
                e for e in envelope
                if e.split()[0] != "content" and e.split()[0] not in payload_names
            ]
            cols = meta + kept + payload + stamps
        else:  # unpack-take: payload replaces the envelope
            cols = meta + payload + stamps
        for m in t.mutators:
            if m.name == "unixtime":
                cols += [f"{o} string" for o in m.config["fields"].values()]
            elif m.name in ("lookup", "geoip"):
                p = m.config.get("prefix", m.config["on"])
                cols += [
                    f"{p}_category string",
                    f"{p}_risk_code int",
                    f"{p}_coords array<double>",
                ]
        # fold the declared mapping in: fields the transformer chain doesn't
        # produce still appear in the sink schema (enforce_mapping
        # materializes them as typed NULLs on write)
        mapping = getattr(cfg, "mappings", {}).get(t.mapping_type)
        if mapping:
            present = {c.split()[0].strip("`") for c in cols}
            for fname, spec in mapping.fields.items():
                if fname not in present:
                    sp = ES_TO_SPARK_TYPE.get(spec.get("type", "text"), "string")
                    cols.append(f"{fname} {sp}")
        # belt-and-braces: a column list with a repeated name is invalid
        # DDL no matter which path produced the repeat (payload vs mutator
        # output vs mapping fold-in) — keep the first occurrence
        seen: set[str] = set()
        deduped: list[str] = []
        for c in cols:
            name = c.split()[0].strip("`")
            if name not in seen:
                seen.add(name)
                deduped.append(c)
        body = ",\n  ".join(deduped)
        # identity partitioning on the stamp columns — matches the physical
        # writes (unpack-take sinks have no envelope ts to apply days() to)
        out[t.sink_name] = (
            f"CREATE TABLE IF NOT EXISTS `{t.sink_name}` (\n  {body}\n"
            ") USING iceberg\n"
            "PARTITIONED BY (route_key, ts_day)\n"
            "TBLPROPERTIES ('write.target-file-size-bytes'='536870912',\n"
            f"  'comment'='punt type {t.name}: prefix={t.prefix} "
            f"transformer={t.transformer}')"
        )
    return out


def expire_by_config(cfg, sinks: dict[str, SnapshotTable]) -> dict[str, list[str]]:
    """keep-N retention across a table set per the config's GC rules
    (reference gc.go:15-55) — the ONE implementation behind both
    ``Pipeline.run_retention`` and the streaming CLI path."""
    expired: dict[str, list[str]] = {}
    for g in cfg.gc:
        for sink in sinks.values():
            dropped = sink.expire_partitions(g.prefix, g.keep)
            if dropped:
                expired.setdefault(g.prefix, []).extend(dropped)
    return expired


def ddl_for_session_catalog(ddl: str, location: str | None = None) -> str:
    """Render an emitted Iceberg CREATE TABLE for execution against a
    plain Spark session catalog (this sandbox has no Iceberg jars):
    ``USING parquet`` with an optional LOCATION. Everything else —
    column list, partitioning, table properties — executes verbatim, so
    running these statements proves the emitted DDL is syntactically LIVE
    and binds the declared schema, the closest in-sandbox analog of the
    reference's startup template push (type.go:63-97)."""
    out = ddl.replace(") USING iceberg\n", ") USING parquet\n")
    if location:
        out += f"\nLOCATION '{location}'"
    return out


def salted_write_layout(
    df: DataFrame,
    salt_buckets: int,
    salt_keys: tuple[str, ...] = ("conv_id", "turn_idx", "record_idx"),
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx", "record_idx"),
) -> DataFrame:
    """Arrange a routed frame (``route_key`` and ``ts_day`` stamped) for an
    efficient dynamic-partition write.

    Two problems at once:

    * **Write-side skew** (SURVEY.md §4): hot conversations (Zipf conv_id)
      would pile a hot (route_key, ts_day) cell into one task. The salt
      splits each cell across up to ``salt_buckets`` shuffle partitions.
      AQE skew handling covers joins, not writes — this is the explicit fix.
    * **Small-file blow-up**: repartitioning on a salt alone scatters every
      (route_key, ts_day) value across ALL tasks → tasks × partitions tiny
      files, and the dynamic-partition writer juggles many open files
      (measured 10× slower). ``sortWithinPartitions`` on the partition keys
      makes each task stream one file at a time.

    The exchange has no explicit count: it starts at
    ``spark.sql.shuffle.partitions`` and AQE's ``CoalesceShufflePartitions``
    merges adjacent partitions up to its target size from the measured
    map-output bytes (``repartition(n, cols)`` is ``REPARTITION_BY_NUM``,
    which AQE never coalesces). Files ≈ salt_buckets × cells only for cells
    larger than a target partition; a small group writes one file per cell
    (a 20k-turn backfill group writes 33 files over its five sinks).

    The salt hashes (conv_id, turn_idx) — NOT conv_id alone: a single hot
    conversation would map every row to one salt value and stay unsplit
    (measured: a 70%-hot conv left a 1.07M-row straggler task with
    conv-only salt; row-level salt spreads it over salt_buckets
    partitions). record_idx joins the salt for the same reason: a framed
    blob explodes into many rows sharing (conv_id, turn_idx). Order is
    still recoverable — the invariant is equality under (conv_id,
    turn_idx[, record_idx]) sort, and ``order_cols`` keeps runs clustered
    within files.
    """
    keys = [k for k in salt_keys if k in df.columns]
    salt = (
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(salt_buckets))
        if keys
        else F.lit(0)
    )
    out = df.repartition(F.col("route_key"), F.col("ts_day"), salt)
    sort_cols = [c for c in (CHUNK_COL, "route_key", "ts_day") if c in df.columns]
    sort_cols += [c for c in order_cols if c in df.columns]
    return out.sortWithinPartitions(*sort_cols)
