"""punt_spark — a PySpark-native log/telemetry parse → enrich → route →
aggregate engine with the query and data-processing capabilities of
discord/punt (reference: /root/reference), re-expressed Spark-first.

The reference is a continuously-running row-at-a-time Go dataflow
(goroutines + channels → Elasticsearch bulk writes). This engine
re-expresses the same semantics as set-oriented DataFrame transforms:

* per-message parse stage      → vectorized Arrow-UDF regex parse (parse.py)
* transformer chain            → from_json column transforms (transform.py)
* mutator chain                → column exprs + broadcast joins (enrich.py)
* tag→type dispatch            → plan-time literal CASE on the tag (route.py)
* ES bulk buffer + commit      → atomic snapshot commits (sink.py)
* statsd counters              → per-stage/per-partition metric tables (metrics.py)
* alert rollup windows         → tumbling window aggregation (alerts.py)
* live tail                    → filter + sample query helpers (tail.py)
* index GC / retention         → keep-N partition expiry (sink.expire_by_config)

Everything is pyspark.sql DataFrame API — no RDDs, no per-row Python UDFs.
"""

__version__ = "0.1.0"
