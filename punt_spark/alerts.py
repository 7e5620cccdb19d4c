"""Alerts — regex match → global tumbling-window rollup → rendered actions.

Reference: /root/reference/lib/punt/alert.go. A ``match`` alert checks a
regex against one source field of the post-transform payload
(alert.go:109-110, invoked from the worker at cluster.go:303-305); the first
matching event opens a rollup window, later matches within ``rollup_window``
seconds pile in, and the action fires once with the FIRST event's rendered
title/description, the title suffixed ``" (N similar events)"`` when more
than one event rolled up (action.go:113-115, N = count-1).

One Alert instance is shared by every Type it's wired to (state.go:39-52) —
the rollup window is GLOBAL across types. So the batch shape is: per type,
``filter(rlike)`` + render (match-time rendering, like MatchAlert.Check);
union the per-type event frames; one ``groupBy(chunk, window(ts, w))`` per
alert with ``min_by`` over the full rendered tuple picking the first event
(deterministic under timestamp ties — see ``rollup``).

Rollups are per chunk: ``CHUNK_COL``, when present, passes through events,
rollups and actions, which commit per chunk like the sinks. Only a window
straddling a day boundary splits, as one straddling a group or micro-batch
boundary does.

Window semantics divergence (documented): the reference's windows open at
wall-clock *arrival* of the first match (alert.go:50-65) — unreproducible by
construction; we use event-time tumbling windows (epoch-aligned), the
deterministic batch analog, and the pure-Python oracle pins the same rule.

Templates: the reference renders Go text/template ``{{.field}}``
(alert.go:112-124); our configs use ``{field}``, compiled at plan time into
a ``concat`` of literals and columns — no Python in the row path. A field
absent from the frame renders as "" (the reference would panic on a nil
type assertion — divergence in our favor).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import AlertConfig
from .sink import CHUNK_COL

_FIELD_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def render_template(template: str, available: list[str]) -> Column:
    """Compile "text {field} text" into concat(lit, col, lit, ...)."""
    parts: list[Column] = []
    pos = 0
    for m in _FIELD_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        name = m.group(1)
        if name in available:
            parts.append(F.coalesce(F.col(name).cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def matched_events(
    df: DataFrame, alert: AlertConfig, type_name: str, ts_col: str = "ts"
) -> DataFrame | None:
    """Match-time filter + render for one (alert, type). Returns a
    normalized event frame or None if the alert isn't wired to this type
    (empty ``sources`` = every type, state.go:39-52) or the source field is
    absent from this type's payload."""
    if alert.sources and type_name not in alert.sources:
        return None
    if alert.source_field not in df.columns:
        return None
    # unpack-take types drop the envelope; without the ts column there is
    # nothing to window on — same silent no-op as a missing source field.
    if ts_col not in df.columns:
        return None
    matched = df.filter(F.col(alert.source_field).rlike(alert.match))
    cols = df.columns
    return matched.select(
        F.lit(alert.name).alias("alert_name"),
        F.col(ts_col).alias("ts"),
        render_template(alert.title, cols).alias("title"),
        render_template(alert.description, cols).alias("description"),
        *[
            render_template(v, cols).alias(f"field_{k}")
            for k, v in alert.fields.items()
        ],
        *_chunk(df),
    )


def _chunk(df: DataFrame) -> list[str]:
    """``[CHUNK_COL]`` when ``df`` carries it (rollups stay per chunk)."""
    return [CHUNK_COL] if CHUNK_COL in df.columns else []


def rollup(events: DataFrame, alert: AlertConfig) -> DataFrame:
    """Global tumbling-window rollup of one alert's event frame.

    ``rollup_window == 0`` means NO rollup in the reference — the action
    fires once per matched event (alert.go:50-63) — so each event becomes
    its own single-event "window" (start = end = the event time).

    ``first_ts`` is the first rolled-up event's envelope timestamp — the
    reference renders it into the embed (action.go:109,
    ``infos[0].Log["timestamp"]``)."""
    field_names = [f"field_{k}" for k in alert.fields]
    chunk = _chunk(events)
    if alert.rollup_window_sec == 0:
        return events.select(
            F.lit(alert.name).alias("alert_name"),
            F.col("ts").alias("window_start"),
            F.col("ts").alias("window_end"),
            F.lit(1).cast("long").alias("n_events"),
            F.col("title"),
            F.col("description"),
            F.col("ts").alias("first_ts"),
            *field_names,
            *chunk,
        )
    w = F.window(F.col("ts"), f"{alert.rollup_window_sec} seconds")
    # "first" event = lexicographic min of the full rendered tuple, not of
    # ts alone: min_by on a tied ts would pick an engine-arbitrary event
    # (and could even mix columns from DIFFERENT tied events). The struct
    # key makes the choice deterministic and coherent; the pure-Python
    # oracle pins the same rule.
    order_key = F.struct(
        F.col("ts"),
        F.col("title"),
        F.col("description"),
        *[F.col(f) for f in field_names],
    )
    first_by = lambda c: F.min_by(c, order_key)  # noqa: E731
    agg = events.groupBy(*chunk, w.alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        first_by(F.col("title")).alias("__title"),
        first_by(F.col("description")).alias("description"),
        F.min("ts").alias("first_ts"),
        *[first_by(F.col(f)).alias(f) for f in field_names],
    )
    rendered_title = F.when(
        F.col("n_events") > 1,
        F.concat(
            F.col("__title"),
            F.lit(" ("),
            (F.col("n_events") - 1).cast("string"),
            F.lit(" similar events)"),
        ),
    ).otherwise(F.col("__title"))
    return agg.select(
        F.lit(alert.name).alias("alert_name"),
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_events"),
        rendered_title.alias("title"),
        F.col("description"),
        F.col("first_ts"),
        *field_names,
        *chunk,
    )


# Go time.RFC3339 renders UTC instants with a literal "Z" (action.go:109).
RFC3339_UTC_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def render_actions(
    rolled: DataFrame,
    alerts: list[AlertConfig],
    actions: dict,
) -> DataFrame | None:
    """Render rolled-up alert windows into action payload rows — the batch
    analog of ``Action.Run`` firing the Discord webhook per flushed window
    (action.go:105-122, wired via ``state.Alerts[name].Action``,
    alert.go:77-84).

    One row per (flushed window × its alert's action), embed-shaped:
    title (already carrying the reference's ``" (N similar events)"``
    suffix, N = n_events-1 — action.go:113-115), description, color and
    webhook url from the ActionConfig, timestamp = RFC3339 of the FIRST
    event's envelope ts (action.go:109), and the first event's rendered
    fields as a JSON array of ``{name, value, inline:false}`` objects
    (action.go:117-119, Embed.AddField)."""
    frames = []
    for a in alerts:
        act = actions.get(a.action)
        if act is None:
            continue
        sub = rolled.filter(F.col("alert_name") == a.name)
        field_structs = [
            F.struct(
                F.lit(k).alias("name"),
                F.coalesce(F.col(f"field_{k}"), F.lit("")).alias("value"),
                F.lit(False).alias("inline"),
            )
            for k in a.fields
            if f"field_{k}" in rolled.columns
        ]
        fields_json = (
            F.to_json(F.array(*field_structs))
            if field_structs
            else F.lit("[]")
        )
        frames.append(
            sub.select(
                "alert_name",
                F.lit(act.name).alias("action_name"),
                F.lit(act.type).alias("action_type"),
                "window_start",
                "window_end",
                "n_events",
                "title",
                "description",
                F.lit(act.url).alias("url"),
                F.lit(act.color).cast("long").alias("color"),
                F.date_format("first_ts", RFC3339_UTC_FORMAT).alias(
                    "timestamp"
                ),
                fields_json.alias("fields_json"),
                *_chunk(rolled),
            )
        )
    return reduce(DataFrame.unionByName, frames) if frames else None


def rollup_all(
    per_alert_events: dict[str, list[DataFrame]], alerts: list[AlertConfig]
) -> DataFrame | None:
    """Union each alert's per-type event frames and roll up across types."""
    frames = [
        rollup(reduce(DataFrame.unionByName, evs), a)
        for a in alerts
        if (evs := per_alert_events.get(a.name))
    ]
    if not frames:
        return None
    return reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), frames)
