"""Oracle gate: every ``__spark_entry__`` query, built and collected at
one SF, compared with its DuckDB twin in ``oracle_sql()`` as Arrow:

* schema parity: per-column Arrow type must be identical (int64 vs
  decimal128(38,0) FAILS loudly — DuckDB ``sum(BIGINT)`` silently returns
  HUGEINT where Spark returns int64, and the driver's hash is
  type-sensitive);
* value parity: order-insensitive exact comparison over ``repr`` of the
  Python-converted values (no rounding). Floats must be bit-identical
  (the repo's pinned-fold discipline already guarantees this for every
  oracled query).

A query without an oracle is still built and collected; it reports
``ok    <name>: rows-only (N rows)``, and an exception fails it.

Usage: python scripts/check_oracle_arrow.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from cernan_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _rowset(tbl, cols):
    """Order-insensitive exact value multiset from an Arrow table."""
    pylists = {c: tbl.column(c).to_pylist() for c in cols}

    def key(v):
        # exact: repr of the converted value; floats by repr (bit-exact),
        # NaN normalized so NaN == NaN; tz-aware UTC datetimes normalized
        # to naive (same instant — see _tz_equiv)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return repr(v.astimezone(datetime.timezone.utc).replace(tzinfo=None))
        return repr(v)

    n = tbl.num_rows
    return sorted(tuple(key(pylists[c][i]) for c in cols) for i in range(n))


def _tz_equiv(st, ot) -> bool:
    """timestamp[us, tz=UTC] (Spark TimestampType under the pinned UTC
    session zone) vs timestamp[us] (DuckDB TIMESTAMP) name the same
    instant; the driver's hash demonstrably treats them as equal
    (streaming_sessions was driver-GREEN in r5 with exactly this skew),
    so the gate does too. Any other type difference still fails."""
    import pyarrow as pa

    return (
        pa.types.is_timestamp(st)
        and pa.types.is_timestamp(ot)
        and st.unit == ot.unit
        and {st.tz, ot.tz} <= {None, "UTC"}
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            stbl = sdf.toArrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({stbl.num_rows} rows)")
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        scols = sorted(stbl.column_names)
        ocols = sorted(otbl.column_names)
        if scols != ocols:
            print(f"FAIL  {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        types_bad = []
        for c in scols:
            st = stbl.schema.field(c).type
            ot = otbl.schema.field(c).type
            if st != ot and not _tz_equiv(st, ot):
                types_bad.append(f"{c}: spark={st} oracle={ot}")
        if types_bad:
            print(f"FAIL  {name}: type skew — " + "; ".join(types_bad))
            failures += 1
            continue
        if stbl.num_rows != otbl.num_rows:
            print(f"FAIL  {name}: rowcount {stbl.num_rows} vs {otbl.num_rows}")
            failures += 1
            continue
        sset = _rowset(stbl, scols)
        oset = _rowset(otbl, scols)
        if sset != oset:
            ndiff = sum(1 for a, b in zip(sset, oset) if a != b)
            print(f"FAIL  {name}: values differ ({ndiff}/{len(sset)} rows)")
            for a, b in zip(sset, oset):
                if a != b:
                    print(f"   spark={a}\n   duck ={b}")
                    break
            failures += 1
        else:
            print(f"PASS  {name} ({stbl.num_rows} rows)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
