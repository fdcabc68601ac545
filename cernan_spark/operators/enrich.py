"""Default-tag overlay enrichment.

Cernan overlays per-sink/per-filter default tags at the edge without
mutating pipeline events (TagIter::Double, reference
src/metric/mod.rs:43-85; event tags win over defaults,
src/metric/telemetry.rs:583-601,956-984).

Spark-first: the tag dictionaries are tiny config. :func:`enrich_tags`
joins one broadcast scope map per scope, then does a first-wins map merge
(event ⊳ scoped defaults ⊳ global defaults); :func:`enrich_tags_fast`, for
rows without event tags, collects the dictionaries and attaches the merged
maps as literals in one projection. No shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cernan_spark.functions.jsonlog import merge_maps_first_wins


def _scope_map(tag_dicts: DataFrame, scope: str) -> DataFrame:
    """(key → map of tags) for one scope, collected into a per-key map."""
    return (
        tag_dicts.filter(F.col("scope") == scope)
        .groupBy("key")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("tag_key", "tag_value"))
        ).alias(f"_{scope}_tags"))
    )


def enrich_tags_fast(
    df: DataFrame,
    tag_dicts: DataFrame,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Fast path for rows WITHOUT event tags (the transcripts case): the
    merged default-tag map and its canonical 'k=v,…' key are precomputed
    driver-side per (role, tool) combo — the dictionaries are tiny config —
    and attached by ``element_at`` on two literal maps keyed by the
    (role, tool) pair: one projection, no join and no per-row map merging.
    A ``tags`` map lists its entries in precedence order: role, tool, then
    global defaults, each in dictionary order.

    Rows whose role/tool values are outside the dictionaries map to a
    sentinel 'other' key per axis, so partial matches (known role,
    unlisted tool — or vice versa) still receive the matching scope's
    defaults, exactly like :func:`enrich_tags`'s independent overlays
    (TagIter precedence, src/metric/mod.rs:43-85).
    """
    rows = tag_dicts.collect()
    role_d: dict[str, dict[str, str]] = {}
    tool_d: dict[str, dict[str, str]] = {}
    glob: dict[str, str] = {}
    for r in rows:
        if r["scope"] == "role":
            role_d.setdefault(r["key"], {})[r["tag_key"]] = r["tag_value"]
        elif r["scope"] == "tool":
            tool_d.setdefault(r["key"], {})[r["tag_key"]] = r["tag_value"]
        else:
            glob[r["tag_key"]] = r["tag_value"]

    def merged(role: str, tool: str) -> dict[str, str]:
        # first-wins precedence: role ⊳ tool ⊳ global
        out = dict(role_d.get(role, {}))
        for k, v in tool_d.get(tool, {}).items():
            out.setdefault(k, v)
        for k, v in glob.items():
            out.setdefault(k, v)
        return out

    def key_of(m: dict[str, str]) -> str:
        return ",".join(f"{k}={m[k]}" for k in sorted(m))

    OTHER = "\x00other\x00"  # sentinel for values outside a dictionary
    pairs = [(ro, to) for ro in [*role_d, OTHER] for to in [*tool_d, OTHER]]

    def pair(role: Column, tool: Column) -> Column:
        return F.struct(role.alias("role"), tool.alias("tool"))

    def by_pair(value) -> Column:
        """Literal map (role, tool) → ``value(merged tags)``."""
        return F.create_map(*[
            x for ro, to in pairs
            for x in (pair(F.lit(ro), F.lit(to)), value(merged(ro, to)))
        ])

    def tags_lit(m: dict[str, str]) -> Column:
        return F.create_map(
            *[F.lit(x) for kv in m.items() for x in kv]
        ).cast("map<string,string>")

    def key_lit(m: dict[str, str]) -> Column:
        return F.lit(key_of(m))

    role_j = F.when(
        F.col(role_col).isin(list(role_d)), F.col(role_col)
    ).otherwise(F.lit(OTHER))
    tool_j = F.when(
        F.col(tool_col).isin(list(tool_d)), F.col(tool_col)
    ).otherwise(F.lit(OTHER))
    lookup = pair(role_j, tool_j)
    # every normalised pair is a key (sentinels included), so a lookup never
    # misses; the coalesce only keeps both columns non-null in the schema
    fallback = merged(OTHER, OTHER)
    return df.withColumns({
        "tags": F.coalesce(F.element_at(by_pair(tags_lit), lookup), tags_lit(fallback)),
        "tags_key": F.coalesce(F.element_at(by_pair(key_lit), lookup), key_lit(fallback)),
    })


def enrich_tags(
    df: DataFrame,
    tag_dicts: DataFrame,
    role_col: str = "role",
    tool_col: str = "tool",
    tags_col: str = "tags",
) -> DataFrame:
    """Overlay role/tool/global default tags under existing event tags.

    Precedence (first wins): event tags ⊳ role defaults ⊳ tool defaults ⊳
    global defaults. Both joins are broadcast; the output ``tags`` is a
    map<string,string> column.
    """
    role_m = F.broadcast(_scope_map(tag_dicts, "role").withColumnRenamed("key", "_rk"))
    tool_m = F.broadcast(_scope_map(tag_dicts, "tool").withColumnRenamed("key", "_tk"))
    glob = (
        tag_dicts.filter(F.col("scope") == "global")
        .select(F.struct("tag_key", "tag_value").alias("e"))
        .agg(F.map_from_entries(F.collect_list("e")).alias("m"))
        .collect()[0]["m"]
        or {}
    )
    glob_m = F.create_map(
        *[x for kv in glob.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    ) if glob else F.expr("map()")

    out = df.join(role_m, F.col(role_col) == F.col("_rk"), "left").drop("_rk")
    out = out.join(tool_m, F.col(tool_col) == F.col("_tk"), "left").drop("_tk")

    empty = F.expr("map()")
    event_tags = (
        F.coalesce(F.col(tags_col), empty) if tags_col in df.columns else empty
    )
    merged = merge_maps_first_wins(
        event_tags,
        F.coalesce(F.col("_role_tags"), empty),
        F.coalesce(F.col("_tool_tags"), empty),
        glob_m,
    )
    return out.withColumn("tags", merged).drop("_role_tags", "_tool_tags")
