"""cernan_spark — a PySpark-native rebuild of the capabilities of
postmates/cernan (a telemetry/log pipeline daemon).

Cernan is a parse → enrich/filter → route → aggregate → ship DAG over a
stream of telemetry points and log lines (see /root/reference, surveyed in
SURVEY.md). This package re-expresses every one of those behaviors
Spark-first:

- sources/   readers + deterministic synthetic transcript/dimension tables
- functions/ vectorized parsers (statsd/graphite/json-log grok) + scalar fns
- operators/ enrich, route (fan-out), bucket aggregation (merge laws),
             filters (delay/flush-boundary/json-encode/programmable),
             dedup + similarity + text-analysis (training-data ops)
- plans/     end-to-end pipeline assembly, checkpoint/lineage/metrics
- streaming/ Structured Streaming variants of the stateful pieces

Everything is DataFrame/SQL-first: parses are string-position and
`regexp_extract` column expressions (grok templates included), enrichment
is a projection over literal tag maps, routing is a broadcast-joined
rules table fanned out to per-sink tables, and the aggregation engine is a
single hash-aggregate `groupBy(key, kind, bin)` implementing cernan's
Value::add merge laws (reference: src/metric/telemetry.rs:94-137).
"""

__version__ = "0.1.0"
