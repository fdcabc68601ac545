"""Default-tag overlay enrichment.

Cernan overlays per-sink/per-filter default tags at the edge without
mutating pipeline events (TagIter::Double, reference
src/metric/mod.rs:43-85).

Spark-first: the tag dictionaries are tiny config. :func:`enrich_tags_fast`
collects them and attaches the merged maps as literals in one projection.
No join and no shuffle of the fact table. Rows carry no event tags of their
own, so event-tag precedence (src/metric/telemetry.rs:583-601,956-984) is
not modelled: an input ``tags`` column is replaced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich_tags_fast(
    df: DataFrame,
    tag_dicts: DataFrame,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Overlay role/tool/global default tags on rows WITHOUT event tags
    (the transcripts case): the merged default-tag map and its canonical
    'k=v,…' key are precomputed driver-side per (role, tool) combo — the
    dictionaries are tiny config — and attached by ``element_at`` on two
    literal maps keyed by the (role, tool) pair: one projection, no join
    and no per-row map merging. A ``tags`` map lists its entries in
    precedence order: role, tool, then global defaults, each in dictionary
    order.

    Rows whose role/tool values are outside the dictionaries map to a
    sentinel 'other' key per axis, so partial matches (known role,
    unlisted tool — or vice versa) still receive the matching scope's
    defaults, as cernan's independent overlays do (TagIter precedence,
    src/metric/mod.rs:43-85).
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

