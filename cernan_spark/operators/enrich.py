"""Default-tag overlay enrichment.

Cernan overlays per-sink/per-filter default tags at the edge without
mutating pipeline events (TagIter::Double, reference
src/metric/mod.rs:43-85).

Spark-first: the tag dictionaries are tiny config. :func:`enrich_tags_fast`
collects them and attaches the merged tags through two literal maps in one
projection.
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
    literal string maps keyed by ``role + SEP + tool``: one projection, no
    join and no per-row map merging. One map holds the canonical key
    (``tags_key``); the other holds the tags as 'k=v,…' in precedence
    order, which ``str_to_map`` turns into the ``tags`` map: role, tool,
    then global defaults, each in dictionary order.

    Rows whose role/tool values are outside the dictionaries map to a
    sentinel 'other' key per axis, so partial matches (known role,
    unlisted tool — or vice versa) still receive the matching scope's
    defaults, as cernan's independent overlays do (TagIter precedence,
    src/metric/mod.rs:43-85).

    A tag key or value containing ',' or '=' raises ``ValueError``: it
    would make 'k=v,…' ambiguous, so two tag sets could share one
    ``tags_key`` aggregate group.
    """
    return df.withColumns(tag_columns(tag_dicts, role_col, tool_col))


def tag_columns(
    tag_dicts: DataFrame, role_col: str = "role", tool_col: str = "tool"
) -> dict[str, Column]:
    """The ``tags`` and ``tags_key`` columns :func:`enrich_tags_fast` adds,
    built from one collect of the dictionaries, so that one build can
    enrich several frames."""
    rows = tag_dicts.collect()
    role_d: dict[str, dict[str, str]] = {}
    tool_d: dict[str, dict[str, str]] = {}
    glob: dict[str, str] = {}
    for r in rows:
        for x in (r["tag_key"], r["tag_value"]):
            if "," in x or "=" in x:
                raise ValueError(
                    f"tag {r['tag_key']!r}={r['tag_value']!r} "
                    "contains ',' or '='"
                )
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

    def kv(m: dict[str, str], keys) -> str:
        return ",".join(f"{k}={m[k]}" for k in keys)

    OTHER = "\x00other\x00"  # sentinel for values outside a dictionary
    SEP = "\x1f"  # joins role and tool into one lookup key
    combos = {
        ro + SEP + to: merged(ro, to)
        for ro in [*role_d, OTHER] for to in [*tool_d, OTHER]
    }

    def by_combo(value) -> Column:
        """Literal map 'role SEP tool' → ``value(merged tags)``."""
        return F.map_from_arrays(
            F.lit(list(combos)), F.lit([value(m) for m in combos.values()])
        )

    role_j = F.when(
        F.col(role_col).isin(list(role_d)), F.col(role_col)
    ).otherwise(F.lit(OTHER))
    tool_j = F.when(
        F.col(tool_col).isin(list(tool_d)), F.col(tool_col)
    ).otherwise(F.lit(OTHER))
    lookup = F.concat(role_j, F.lit(SEP), tool_j)
    # every normalised combo is a key (sentinels included), so a lookup
    # never misses; the coalesce only keeps both columns non-null in the
    # schema
    fallback = merged(OTHER, OTHER)
    tags = F.coalesce(
        F.element_at(by_combo(lambda m: kv(m, m)), lookup),
        F.lit(kv(fallback, fallback)),
    )
    return {
        # str_to_map('') is {'': null}, so no tags is an explicit empty map
        "tags": F.when(
            tags == "", F.create_map().cast("map<string,string>")
        ).otherwise(F.str_to_map(tags, F.lit(","), F.lit("="))),
        "tags_key": F.coalesce(
            F.element_at(by_combo(lambda m: kv(m, sorted(m))), lookup),
            F.lit(kv(fallback, sorted(fallback))),
        ),
    }
