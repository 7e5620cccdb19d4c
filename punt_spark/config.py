"""Pipeline configuration — the Spark equivalent of Punt's config.json.

The reference compiles its JSON config once at startup into a Type registry
(reference: lib/punt/config.go:13-32, state.go:15-55). Our equivalent: plain
dataclasses that the pipeline materializes into broadcast lookup DataFrames
and per-sink DDL. There is no query language in either engine — the config
IS the plan.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

# --- Go time layout → Spark (JDK DateTimeFormatter) pattern ---------------
# The reference expresses index date buckets with Go reference-time layouts
# (e.g. "2006.01.02.15" — config.json:33, applied at cluster.go:284).
# Ordered longest-first so "2006" wins over "06", "15" over "1", etc.
_GO_TO_JAVA = [
    ("2006", "yyyy"),
    ("01", "MM"),
    ("02", "dd"),
    ("15", "HH"),
    ("04", "mm"),
    ("05", "ss"),
    ("Jan", "MMM"),
    ("06", "yy"),
    ("-07:00", "XXX"),
    ("Z07:00", "XXX"),
    ("MST", "zzz"),
]


def go_time_format_to_java(layout: str) -> str:
    """Translate a Go reference-time layout into a Spark datetime pattern.

    Covers the token subset Punt's configs actually use (date buckets and the
    ``@timestamp`` serialization format). Literal text is passed through;
    any character that is a letter in JDK patterns gets quoted.
    """
    out: list[str] = []
    i = 0
    while i < len(layout):
        for go_tok, java_tok in _GO_TO_JAVA:
            if layout.startswith(go_tok, i):
                out.append(java_tok)
                i += len(go_tok)
                break
        else:
            ch = layout[i]
            if ch.isalpha():
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


# The reference stamps @timestamp with this exact Go layout (cluster.go:285).
# UTC offset is always rendered literally "+00:00" (session tz is UTC).
AT_TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'+00:00'"


@dataclass
class MutatorConfig:
    """One mutator in a Type's chain (reference: lib/punt/mutators.go:15-24).

    name: "unixtime" | "lookup" (generalization of "geoip").
    config: mutator-specific options — see enrich.py.
    """

    name: str
    config: dict[str, Any] = field(default_factory=dict)


@dataclass
class MappingConfig:
    """Declared output schema for a mapping_type (reference:
    lib/punt/mapping.go:8-32, config.json:54-63). ``fields`` maps field
    name → {"type": <es type>, "index": bool}; Elasticsearch enforces it on
    write, so our sink path casts declared fields to the equivalent Spark
    type (see sink.enforce_mapping)."""

    name: str
    fields: dict[str, dict] = field(default_factory=dict)
    all: bool = True


@dataclass
class ClusterConfig:
    """One output cluster (reference: lib/punt/cluster.go:31-40,
    config.json:2-27). Each cluster is an independent lane — its own ES
    URL (here: output root), worker pool and ingest servers — sharing the
    global Type registry (state.go:27-33). Only ``out_root`` changes
    behavior: Spark sizes task and write widths from the data (session
    parallelism, AQE-coalesced sink exchanges), so the worker and bulk
    knobs are parsed but informational."""

    name: str
    out_root: str = ""  # ES URL analog: where this cluster's sinks live
    num_workers: int | None = None  # informational (worker pool size)
    bulk_size: int | None = None  # informational (ES bulk buffer)
    commit_interval: int | None = None  # informational (ES commit loop)


@dataclass
class ActionConfig:
    """A rendered alert action (reference: lib/punt/action.go:42-122).

    The reference's only implementation is the Discord webhook embed
    renderer (``NewDiscordWebhookAction``, action.go:77-122); we render the
    same embed payload into rows of an ``actions`` output table instead of
    POSTing — the batch analog of firing the webhook.
    """

    name: str
    type: str = "discord"
    url: str = ""
    color: int = 0


@dataclass
class AlertConfig:
    """A match alert + rollup window (reference: lib/punt/alert.go:96-130)."""

    name: str
    source_field: str = "content"
    match: str = ""
    rollup_window_sec: int = 2
    title: str = ""
    description: str = ""
    fields: dict[str, str] = field(default_factory=dict)
    sources: list[str] = field(default_factory=list)  # type names; [] = all
    action: str = ""  # ActionConfig name to fire on rollup flush (alert.go:45)


@dataclass
class TypeConfig:
    """A routing target — Punt's ``Type`` (reference: lib/punt/type.go:10-43).

    prefix + date_format define the sink partitioning (ES index name in the
    reference, (route_key, ts_day) partition spec here).
    """

    name: str  # tag it matches; "*" = catch-all
    prefix: str
    mapping_type: str = "test"
    date_format: str = "2006.01.02.15"  # Go layout, converted on use
    transformer: str = "direct"  # direct | unpack-merge | unpack-take
    payload_schema: str | None = None  # Spark DDL for JSON payload, optional
    mutators: list[MutatorConfig] = field(default_factory=list)

    @property
    def java_date_format(self) -> str:
        return go_time_format_to_java(self.date_format)

    @property
    def sink_name(self) -> str:
        return "sink_" + (self.name if self.name != "*" else "catchall")


@dataclass
class GCConfig:
    """Retention: keep newest N date-bucket partitions per prefix
    (reference: lib/punt/gc.go:15-55, config.json:46-52)."""

    prefix: str
    keep: int


@dataclass
class PipelineConfig:
    types: dict[str, TypeConfig] = field(default_factory=dict)
    alerts: list[AlertConfig] = field(default_factory=list)
    actions: dict[str, ActionConfig] = field(default_factory=dict)
    mappings: dict[str, MappingConfig] = field(default_factory=dict)
    clusters: dict[str, ClusterConfig] = field(default_factory=dict)
    gc: list[GCConfig] = field(default_factory=list)
    # The reference's execution knobs (num_workers/bulk_size/commit_interval,
    # config.json:5-7) have no field here: a bulk request commits when it
    # holds bulk_size actions (cluster.go:307-317), and the Spark analog is
    # a sink write sized by its data (AQE-coalesced, sink.salted_write_layout).
    # Salt fan-out for hot (route_key, ts_day) cells: a cell larger than a
    # target partition writes up to salt_buckets files — keep small; raise
    # only when a single cell overflows a task (hot-conversation days).
    salt_buckets: int = 4
    reference_year: int = 2017  # pinned RFC3164 year back-fill (parser.go:73-84)
    job_id: str = "punt-spark"  # plays the `punt-server` hostname stamp

    @property
    def catchall(self) -> TypeConfig | None:
        return self.types.get("*")

    @classmethod
    def from_json(cls, path: str) -> "PipelineConfig":
        """Load a Punt-shaped JSON config (reference: lib/punt/config.go)."""
        with open(path) as f:
            raw = json.load(f)
        types = {}
        for name, t in raw.get("types", {}).items():
            tr = t.get("transformer", {})
            muts = [
                MutatorConfig(m["name"], m.get("config", {}))
                for m in t.get("mutators", [])
            ]
            types[name] = TypeConfig(
                name=name,
                prefix=t["prefix"],
                mapping_type=t.get("mapping_type", "test"),
                date_format=t.get("date_format", "2006.01.02.15"),
                transformer=tr.get("name", "direct"),
                payload_schema=t.get("payload_schema"),
                mutators=muts,
            )
        alerts = []
        for name, a in raw.get("alerts", {}).items():
            cfg = a.get("config", {})
            alerts.append(
                AlertConfig(
                    name=name,
                    source_field=cfg.get("source", "content"),
                    match=cfg.get("match", ""),
                    rollup_window_sec=a.get("rollup_window", 2),
                    title=cfg.get("title", ""),
                    description=cfg.get("description", ""),
                    fields=cfg.get("fields", {}),
                    sources=a.get("sources", []),
                    action=a.get("action", ""),
                )
            )
        actions = {}
        for name, ac in raw.get("actions", {}).items():
            acfg = ac.get("config", {})
            actions[name] = ActionConfig(
                name=name,
                type=ac.get("type", "discord"),
                url=acfg.get("url", ""),
                color=int(acfg.get("color", 0)),
            )
        mappings = {
            name: MappingConfig(
                name=name,
                fields=mc.get("fields", {}),
                all=mc.get("all", True),
            )
            for name, mc in raw.get("mappings", {}).items()
        }
        clusters = {
            name: ClusterConfig(
                name=name,
                # the ES URL slot carries the output root in our engine;
                # accept either key
                out_root=cc.get("out_root", cc.get("url", "")),
                num_workers=cc.get("num_workers"),
                bulk_size=cc.get("bulk_size"),
                commit_interval=cc.get("commit_interval"),
            )
            for name, cc in raw.get("clusters", {}).items()
        }
        gc = [GCConfig(prefix=p, keep=g["keep"]) for p, g in raw.get("gc", {}).items()]
        return cls(
            types=types, alerts=alerts, actions=actions, mappings=mappings,
            clusters=clusters, gc=gc,
        )


def default_config() -> PipelineConfig:
    """Mirror of the reference's sample config.json routing shape, extended
    with the transcript-pipeline types used throughout tests/bench."""
    return PipelineConfig(
        types={
            "*": TypeConfig(name="*", prefix="test-", transformer="direct"),
            "logs": TypeConfig(name="logs", prefix="logs-", transformer="direct"),
            "audit": TypeConfig(
                name="audit", prefix="audit-", transformer="direct",
                mutators=[MutatorConfig("lookup", {"on": "tool"})],
            ),
            "app-json": TypeConfig(
                name="app-json",
                prefix="appjson-",
                mapping_type="payload",
                transformer="unpack-merge",
                payload_schema="level string, user string, epoch string",
                mutators=[
                    MutatorConfig(
                        "unixtime", {"fields": {"epoch": "epoch_ts"}}
                    )
                ],
            ),
            "metrics-json": TypeConfig(
                name="metrics-json",
                prefix="metricsjson-",
                mapping_type="payload",
                transformer="unpack-take",
                payload_schema="level string, user string, epoch string",
            ),
        },
        mappings={
            # declared sink schemas, enforced on write (mapping.go:8-32) —
            # fields here are ones each mapping_type's sinks actually carry
            "test": MappingConfig(
                name="test",
                fields={
                    "content": {"type": "text", "index": True},
                    "hostname": {"type": "keyword", "index": True},
                },
            ),
            "payload": MappingConfig(
                name="payload",
                fields={
                    "level": {"type": "keyword", "index": True},
                    "user": {"type": "keyword", "index": True},
                },
            ),
        },
        alerts=[
            AlertConfig(
                name="magic-word-found",
                source_field="content",
                match="^ magic.*",
                rollup_window_sec=2,
                title="FOUND MAGIC",
                description="{content}",
                fields={"hostname": "{hostname}"},
                action="discord-alert",
            )
        ],
        actions={
            "discord-alert": ActionConfig(
                name="discord-alert",
                type="discord",
                url="https://example.invalid/webhook",
                color=16738657,  # reference config.json:92
            )
        },
        gc=[GCConfig(prefix="test-", keep=1), GCConfig(prefix="logs-", keep=5)],
    )
