"""Property-based tests (the reference's test strategy is quickcheck-heavy
— SURVEY §5): wire codecs must round-trip arbitrary payloads, and the
gauge fold must equal a plain Python fold on arbitrary programs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cernan_spark.functions.nativeproto import (
    decode_payload,
    encode_logline,
    encode_payload,
    encode_telemetry,
)
from cernan_spark.functions.avrowire import (
    decode_avro_payload,
    encode_avro_payload,
    read_container,
    write_container,
)

_name = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF), min_size=1,
    max_size=24,
)
_tags = st.dictionaries(_name, _name, max_size=4)
_samples = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=64), max_size=8
)


@given(
    name=_name,
    samples=_samples,
    kind=st.sampled_from(["SUM", "SET", "SUMMARIZE", "HISTOGRAM"]),
    persist=st.booleans(),
    tags=_tags,
    ts=st.integers(min_value=0, max_value=2**53),
)
@settings(max_examples=200, deadline=None)
def test_native_telemetry_roundtrip_property(name, samples, kind, persist, tags, ts):
    buf = encode_payload(points=[
        encode_telemetry(name, samples, kind=kind, persist=persist,
                         metadata=tags, timestamp_ms=ts)
    ])
    (p,), lines = decode_payload(buf)
    assert lines == []
    assert p["name"] == name
    assert p["samples"] == samples
    assert p["kind"] == kind
    assert p["persist"] is persist
    assert p["metadata"] == tags
    assert p["timestamp_ms"] == ts


@given(path=_name, value=st.text(max_size=200), tags=_tags,
       ts=st.integers(min_value=-(2**40), max_value=2**40))
@settings(max_examples=100, deadline=None)
def test_native_logline_roundtrip_property(path, value, tags, ts):
    _, (ln,) = decode_payload(
        encode_payload(lines=[encode_logline(path, value, tags, ts)])
    )
    assert (ln["path"], ln["value"], ln["metadata"], ln["timestamp_ms"]) == (
        path, value, tags, ts,
    )


_recs = st.lists(
    st.fixed_dictionaries(
        {
            "name": st.text(max_size=20),
            "value": st.floats(allow_nan=False, allow_infinity=False, width=64),
            "ts": st.integers(min_value=-(2**62), max_value=2**62),
        }
    ),
    max_size=10,
)

_AVRO_SCHEMA = {
    "type": "record",
    "name": "telem",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "ts", "type": "long"},
    ],
}


@given(records=_recs, id_=st.integers(min_value=0, max_value=2**63 - 1),
       control=st.integers(min_value=0, max_value=3),
       codec=st.sampled_from(["null", "deflate"]))
@settings(max_examples=100, deadline=None)
def test_avro_container_roundtrip_property(records, id_, control, codec):
    blob = write_container(records, _AVRO_SCHEMA, codec=codec)
    p = decode_avro_payload(encode_avro_payload(blob, id_=id_, control=control))
    assert p["id"] == id_
    assert p["sync"] is bool(control & 1)
    c = read_container(p["avro_blob"])
    assert c["err"] is None
    assert c["codec"] == codec
    assert c["records"] == records


def test_gauge_chunked_equals_global_property(spark):
    """Arbitrary SET/SUM programs (30 seeded random series): the fold is
    chunked by bin, and every observed bin of gauge_carry_forward holds the
    running value of a whole-series Python fold after the bin's last point,
    including delta runs that straddle bins and bins with no SET; empty
    bins inside a series are filled."""
    import random

    from cernan_spark.operators.aggregate import gauge_carry_forward

    width = 4
    rng = random.Random(2024)
    rows = []
    for s in range(30):
        p_set = rng.choice([0.0, 0.1, 0.5, 1.0])
        epoch = 0
        for i in range(rng.randint(1, 40)):
            epoch += rng.choice([0, 0, 1, 3, 9])  # 9 skips whole bins
            kind = "SET" if rng.random() < p_set else "SUM"
            rows.append((f"s{s}", kind, float(rng.randint(-50, 50)), epoch, i))

    want, running = {}, {}
    for name, kind, value, epoch, _ in rows:  # per series in order_key order
        running[name] = value if kind == "SET" else running.get(name, 0.0) + value
        want[(name, epoch // width)] = running[name]

    df = spark.createDataFrame(
        rows, "name string, kind string, value double, event_epoch long, order_key long"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    got = {
        (r["name"], r["bin"]): (r["gauge_value"], r["n_points"])
        for r in gauge_carry_forward(df, bin_width=width, key_cols=["name"]).collect()
    }
    assert {k: v for k, (v, n) in got.items() if n > 0} == want
    for series in {name for name, _ in want}:
        bins = sorted(b for name, b in got if name == series)
        assert bins == list(range(bins[0], bins[-1] + 1))


# ---------------------------------------------------------------------------
# nested-avro structural codec: random schema trees + matching values
# ---------------------------------------------------------------------------

_AVRO_PRIM = st.sampled_from(
    ["string", "long", "int", "double", "boolean", "null", "bytes"]
)


def _avro_schema_st(depth: int):
    if depth == 0:
        return _AVRO_PRIM
    sub = _avro_schema_st(depth - 1)
    return st.one_of(
        _AVRO_PRIM,
        st.builds(lambda v: {"type": "array", "items": v}, sub),
        st.builds(lambda v: {"type": "map", "values": v}, sub),
        # unions constrained to [null, X]: the writer's branch choice and
        # the reader agree without float/int cross-branch ambiguity
        st.builds(lambda v: ["null", v] if v != "null" else ["null"], _AVRO_PRIM),
        st.just({"type": "enum", "name": f"E{depth}", "symbols": ["A", "B", "C"]}),
        st.just({"type": "fixed", "name": f"X{depth}", "size": 4}),
        st.builds(
            lambda ts: {
                "type": "record",
                "name": f"R{depth}",
                "fields": [
                    {"name": f"f{i}", "type": t} for i, t in enumerate(ts)
                ],
            },
            st.lists(sub, min_size=1, max_size=3),
        ),
    )


def _avro_value_st(schema):
    if isinstance(schema, str):
        return {
            "string": st.text(max_size=20),
            "long": st.integers(-(2**63), 2**63 - 1),
            "int": st.integers(-(2**31), 2**31 - 1),
            "double": st.floats(allow_nan=False),
            "boolean": st.booleans(),
            "null": st.none(),
            "bytes": st.binary(max_size=20),
        }[schema]
    if isinstance(schema, list):
        return st.one_of([_avro_value_st(s) for s in schema])
    t = schema["type"]
    if t == "record":
        return st.fixed_dictionaries(
            {f["name"]: _avro_value_st(f["type"]) for f in schema["fields"]}
        )
    if t == "array":
        return st.lists(_avro_value_st(schema["items"]), max_size=3)
    if t == "map":
        return st.dictionaries(
            st.text(max_size=8), _avro_value_st(schema["values"]), max_size=3
        )
    if t == "enum":
        return st.sampled_from(schema["symbols"])
    if t == "fixed":
        return st.binary(min_size=schema["size"], max_size=schema["size"])
    raise AssertionError(schema)


@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_avro_nested_schema_roundtrip_property(data):
    """Any generated schema tree (records/arrays/maps/unions/enums/fixed up
    to depth 2) round-trips value-exactly through the structural codec,
    both codecs."""
    from cernan_spark.functions.avrowire import (
        _jsonable,
        read_container,
        write_container,
    )

    fields = data.draw(st.lists(_avro_schema_st(2), min_size=1, max_size=3))
    schema = {
        "type": "record",
        "name": "Top",
        "fields": [{"name": f"t{i}", "type": t} for i, t in enumerate(fields)],
    }
    recs = data.draw(st.lists(_avro_value_st(schema), max_size=3))
    codec = data.draw(st.sampled_from(["null", "deflate"]))
    out = read_container(write_container(recs, schema, codec=codec))
    assert out["err"] is None and out["decoded"], out["err"]
    assert out["records"] == [_jsonable(r) for r in recs]
    assert out["n_records"] == len(recs)


def test_paragraph_dedup_matches_python_model(spark):
    """Random paragraph compositions from a small vocabulary (duplicates
    abundant): the Spark operator must match a pure-Python model of the
    first-owner rule — copy counts, kept positions, rebuilt clean text."""
    import random

    from cernan_spark.operators.dedup import paragraph_dedup

    rng = random.Random(77)
    vocab = [f"para body {i} words here" for i in range(12)]
    docs = []
    for d in range(150):
        n = rng.randint(1, 5)
        docs.append((d, [rng.choice(vocab) for _ in range(n)]))

    # python model
    owner: dict[str, tuple[int, int]] = {}
    copies: dict[str, int] = {}
    for d, paras in docs:
        for p, para in enumerate(paras):
            copies[para] = copies.get(para, 0) + 1
            if para not in owner or (d, p) < owner[para]:
                owner[para] = (d, p)
    want = {}
    for d, paras in docs:
        kept = [
            para
            for p, para in enumerate(paras)
            if copies[para] == 1 or owner[para] == (d, p)
        ]
        n_dup = len(paras) - len(kept)
        want[d] = (len(paras), n_dup, "\n\n".join(kept))

    df = spark.createDataFrame(
        [(d, "\n\n".join(paras)) for d, paras in docs],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_dup_paras"], r["clean_text"])
        for r in paragraph_dedup(df).collect()
    }
    assert got == want


def test_span_overlap_matches_python_model(spark):
    """Random token streams over a tiny vocabulary: pair-wise shared
    complete-span counts from the Spark operator equal the brute-force
    Python model (distinct k-gram sets, oversize buckets dropped)."""
    import random
    from itertools import combinations

    from cernan_spark.operators.dedup import span_overlap_pairs

    rng = random.Random(88)
    k, cap = 3, 10
    docs = [
        (d, [rng.choice("abcdefg") for _ in range(rng.randint(3, 14))])
        for d in range(60)
    ]

    spans = {
        d: {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        for d, toks in docs
    }
    # bucket cap: spans carried by more than `cap` docs drop entirely
    carriers: dict[tuple, int] = {}
    for s in spans.values():
        for g in s:
            carriers[g] = carriers.get(g, 0) + 1
    want = {}
    for a, b in combinations(range(60), 2):
        n = len(
            {g for g in spans[a] & spans[b] if 1 < carriers[g] <= cap}
        )
        if n:
            want[(a, b)] = n

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_spans"]
        for r in span_overlap_pairs(df, span_tokens=k, max_bucket=cap).collect()
    }
    assert got == want


def test_sessionize_chunked_matches_python_model(spark):
    """Random multi-user event streams: the chunked segmented scan must
    assign every event the session index an independent Python fold
    assigns (order by event_id, >gap starts a session)."""
    import datetime as dt
    import random

    from cernan_spark.operators.skew import sessionize_chunked

    rng = random.Random(99)
    base = dt.datetime(2024, 6, 1)
    rows = []
    t = 0
    for i in range(800):
        t += rng.choice([30, 60, 120, 2000, 4000])
        rows.append((i, rng.randint(0, 6), base + dt.timedelta(seconds=t)))

    by_user: dict[int, list[tuple[int, dt.datetime]]] = {}
    for eid, uid, ts in rows:
        by_user.setdefault(uid, []).append((eid, ts))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()
        idx, last = 0, None
        for eid, ts in evs:
            if last is None or (ts - last).total_seconds() > 1800:
                idx += 1
            want[eid] = idx
            last = ts

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize_chunked(df, chunks=13).collect()
    }
    assert got == want
