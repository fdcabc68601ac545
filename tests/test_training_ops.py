"""Training-data operators: dedup (exact / MinHash-LSH / SimHash), shingle
Jaccard, similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cernan_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_lsh_candidates,
    shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near-dup of 0
    (2, "completely different text about spark query engines and shuffles here"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (4, "another unrelated document mentioning minhash banding and jaccard"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(shingles(F.col("text"), 2).alias("s")).collect()[0]["s"]
    assert sorted(out) == ["a b", "b c", "c d"]


def test_minhash_finds_near_dups(spark):
    cands = minhash_lsh_candidates(_docs(spark), num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0   # exact dup: identical sigs
    assert (0, 1) in pairs                             # near dup caught by a band
    assert (0, 2) not in pairs and (2, 4) not in pairs # unrelated not candidates


def test_exact_jaccard_verify(spark):
    docs = _docs(spark)
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16)
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, cands.select("id_a", "id_b")).collect()
    }
    assert verified[(0, 3)] == 1.0
    assert 0.5 < verified[(0, 1)] < 1.0


def test_simhash_near_dups_close(spark):
    # hamming distance between near-dups < between unrelated docs
    from cernan_spark.operators.dedup import simhash

    h = {
        r["doc_id"]: r["h"]
        for r in _docs(spark).select("doc_id", simhash(F.col("text")).alias("h")).collect()
    }
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h[0], h[1]) < ham(h[0], h[2])
    assert ham(h[0], h[3]) == 0


def test_simhash_onefold_equals_naive(spark):
    """The one-pass vote-array fold must produce bit-identical fingerprints
    to the per-bit-fold reference form (64× fewer array traversals)."""
    from cernan_spark.operators.dedup import simhash, simhash_naive

    got = (
        _docs(spark)
        .select(
            "doc_id",
            simhash(F.col("text")).alias("fast"),
            simhash_naive(F.col("text")).alias("naive"),
        )
        .collect()
    )
    assert all(r["fast"] == r["naive"] for r in got)


def test_minhash_portable_matches_xxhash_pairs(spark):
    """portable=True changes the hash family, not the algorithm: on a
    corpus with an unambiguous near-dup, both modes find the same pair
    with high signature agreement."""
    for portable in (False, True):
        cands = minhash_lsh_candidates(
            _docs(spark), num_hashes=32, bands=16, portable=portable
        )
        pairs = {(r["id_a"], r["id_b"]): r["n_match"] for r in cands.collect()}
        assert (0, 1) in pairs or (0, 3) in pairs
        assert pairs.get((0, 3), 32) == 32  # exact dup: every row agrees


def test_dedup_groups_connected_components(spark):
    """Cluster resolution: transitive chains collapse to the min id in
    O(log d) pointer-doubling rounds (a 6-node chain + a star + a pair)."""
    from cernan_spark.operators.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [
            # chain 10-11-12-13-14-15
            (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
            # star centered at 20
            (20, 21), (20, 22), (20, 23),
            # isolated pair (reversed order on input)
            (31, 30),
        ],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["canonical_id"] for r in dedup_groups(pairs, max_iters=6).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
        30: 30, 31: 30,
    }


def test_simhash_hamming_banding_is_complete(spark):
    """Pigeonhole guarantee: chunk-banded candidate generation finds EVERY
    pair within hamming distance k (< n_chunks) — compare against the
    brute-force all-pairs popcount on a small corpus."""
    from cernan_spark.operators.dedup import simhash, simhash_hamming_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_hamming_pairs(docs, k=3, n_chunks=4).collect()
    }
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", simhash(F.col("text")).alias("fp")).collect()
    }
    ids = sorted(fp)
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(fp[a], fp[b]) <= 3
    }
    assert got == want


def test_simhash_hamming_seeded_twin_recall(spark):
    """Seeded one-token-edit twins land within small hamming distance of
    their original; the banded search recovers them on the xxhash64 scale
    path. Distances are deterministic (xxhash64), so the counts are exact:
    17/50 twins at radius 3, 36/50 at radius 7 (sf0.01 corpus)."""
    from cernan_spark.operators.dedup import (
        seed_text_near_dups,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    seeded = seed_text_near_dups(docs)

    def twins_found(k, n_chunks, max_bucket=100):
        pairs = simhash_hamming_pairs(
            seeded, k=k, n_chunks=n_chunks, max_bucket=max_bucket
        )
        return pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000).count()

    assert twins_found(3, 4) == 17
    # wider radius: 8-bit chunks over 550 docs make some buckets exceed the
    # degenerate-bucket cap, costing one pair; uncapped, pigeonhole recovers
    # every distance-≤7 twin
    assert twins_found(7, 8) == 35
    assert twins_found(7, 8, max_bucket=10_000) == 36  # recall 0.72


def test_simhash_portable_mode_31_bits(spark):
    """portable=True yields a 31-bit fingerprint (DuckDB-reproducible) and
    the hamming-pairs pipeline still returns only radius-k pairs."""
    from cernan_spark.operators.dedup import seed_text_near_dups, simhash_hamming_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = simhash_hamming_pairs(
        seed_text_near_dups(docs, n_seed=10), portable=True
    ).collect()
    assert all(0 <= r["hamming"] <= 3 for r in out)
    assert any(r["id_b"] - r["id_a"] == 1_000_000 for r in out)


def test_bucket_drop_stats_accounting(spark):
    """Oversize LSH buckets are no longer dropped silently: the accounting
    series count the buckets past the cap and the members inside them, and
    report explicit zeros on a clean corpus."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.dedup import bucket_drop_stats, minhash_banded

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    boiler = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("the same boilerplate text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    banded = minhash_banded(boiler, bands=8)
    out = {
        r["name"]: r["value"]
        for r in bucket_drop_stats(
            banded, ["band", "band_hash"], max_bucket=10, operator="minhash"
        ).collect()
    }
    n_boiler = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert out["cernan.dedup.minhash.buckets_dropped"] >= 8
    assert out["cernan.dedup.minhash.members_affected"] >= 8 * n_boiler
    clean = {
        r["name"]: r["value"]
        for r in bucket_drop_stats(
            minhash_banded(docs, bands=8),
            ["band", "band_hash"],
            max_bucket=10_000,
            operator="minhash",
        ).collect()
    }
    assert clean["cernan.dedup.minhash.buckets_dropped"] == 0.0
    assert clean["cernan.dedup.minhash.members_affected"] == 0.0


def test_minhash_resume_equals_one_pass(spark):
    """(shard-1 pairs) ∪ (shard-2 resumed from stored signatures) must
    equal the one-pass result over the union corpus — including twins
    that straddle the shard boundary, which only the resumed banding of
    new-vs-all can find. No bucket crosses the cap, so the delta
    retracts nothing."""
    from cernan_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_resume_delta,
        minhash_signatures,
        seed_text_near_dups,
    )

    docs = seed_text_near_dups(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        n_seed=20,
    )
    # originals (doc_id < 20) land in shard 1, their twins (≥ 1e6) in
    # shard 2 → every seeded pair crosses the boundary
    shard1 = docs.filter(F.col("doc_id") < 1_000_000)
    shard2 = docs.filter(F.col("doc_id") >= 1_000_000)

    def pairset(rows):
        return {(r["id_a"], r["id_b"], r["n_match"]) for r in rows}

    one_pass = pairset(minhash_lsh_candidates(docs).collect())
    run1 = pairset(minhash_lsh_candidates(shard1).collect())
    sigs1 = minhash_signatures(shard1)
    delta = minhash_resume_delta(shard2, sigs1).collect()
    assert {r["op"] for r in delta} == {"add"}
    run2 = pairset(delta)
    assert run1 | run2 == one_pass
    assert run1 & run2 == set()          # no pair re-emitted
    assert any(b - a == 1_000_000 for a, b, _ in run2)  # cross-shard twins


def test_paragraph_dedup_semantics(spark):
    """Paragraph-level boilerplate removal: the first (doc, position)
    occurrence of each repeated paragraph survives, later copies drop,
    unique paragraphs are untouched, and clean_text preserves position
    order."""
    from cernan_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha body\n\nshared footer\n\nmore alpha"),
        (2, "beta body\n\nshared footer"),
        (3, "shared footer\n\ngamma body"),
        (4, "delta only"),
        # every paragraph a duplicate → clean_text must be '' (not null)
        (5, "alpha body\n\nshared footer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # doc 1 owns the footer (first occurrence) → keeps everything
    assert out[1]["n_dup_paras"] == 0
    assert out[1]["clean_text"] == rows[0][1]
    # docs 2 and 3 lose their footer copy, keep their own bodies in order
    assert out[2]["n_dup_paras"] == 1 and out[2]["clean_text"] == "beta body"
    assert out[3]["n_dup_paras"] == 1 and out[3]["clean_text"] == "gamma body"
    assert out[4] ["n_dup_paras"] == 0 and out[4]["clean_text"] == "delta only"
    assert out[5]["n_dup_paras"] == 2 and out[5]["clean_text"] == ""
    assert {r["n_paras"] for r in out.values()} == {3, 2, 2, 1}
    # the portable oracle mode agrees with the xxhash64 scale path
    port = {r["doc_id"]: r["clean_text"]
            for r in paragraph_dedup(df, portable=True).collect()}
    assert port == {k: v["clean_text"] for k, v in out.items()}


def test_span_overlap_pairs(spark):
    """Docs sharing a verbatim k-token block pair up with the complete-span
    count; shorter shared runs and distinct docs never match."""
    from cernan_spark.operators.dedup import span_overlap_pairs

    block = " ".join(f"lic{j}" for j in range(8))
    rows = [
        (1, "alpha text here " + block),
        (2, "totally different body " + block),
        (3, "shares only a short run lic0 lic1 lic2 plus own words"),
        (4, "nothing in common at all right"),
        # 9 shared tokens → two complete 8-token spans with doc 1 and 2
        (5, "prefix " + block + " lic0tail" ),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_spans"]
        for r in span_overlap_pairs(df, span_tokens=8).collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 5)] == 1 and got[(2, 5)] == 1
    assert not any(3 in k or 4 in k for k in got)
    # portable mode agrees
    port = {
        (r["id_a"], r["id_b"]): r["n_shared_spans"]
        for r in span_overlap_pairs(df, span_tokens=8, portable=True).collect()
    }
    assert port == got


def test_simhash_resume_equals_one_pass(spark):
    """(shard-1 pairs) ∪ (shard-2 resumed from stored fingerprints) must
    equal the one-pass SimHash radius search over the union corpus,
    including cross-shard twins; no pair is re-emitted and, with no
    bucket crossing the cap, none is retracted."""
    from cernan_spark.operators.dedup import (
        seed_text_near_dups,
        simhash_fingerprints,
        simhash_hamming_pairs,
        simhash_resume_delta,
    )

    docs = seed_text_near_dups(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        n_seed=20,
    )
    shard1 = docs.filter(F.col("doc_id") < 1_000_000)
    shard2 = docs.filter(F.col("doc_id") >= 1_000_000)

    def pairset(rows):
        return {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}

    one_pass = pairset(simhash_hamming_pairs(docs).collect())
    run1 = pairset(simhash_hamming_pairs(shard1).collect())
    fps1 = simhash_fingerprints(shard1)
    delta = simhash_resume_delta(shard2, fps1).collect()
    assert {r["op"] for r in delta} == {"add"}
    run2 = pairset(delta)
    assert run1 | run2 == one_pass
    assert run1 & run2 == set()
    assert any(b - a == 1_000_000 for a, b, _ in run2)


def test_resume_delta_bucket_cases(spark):
    """_resume_delta on a hand-built banded frame, every cap case pinned
    (cap=4): a crossed bucket whose pair survives via another band is NOT
    retracted; a crossed bucket with no other co-occurrence IS; a bucket
    already over the cap on old members alone retracts nothing (its pairs
    were dropped by an earlier generation); surviving buckets with a new
    member emit adds only for new-touching pairs."""
    from cernan_spark.operators.dedup import _resume_delta

    rows = []

    def bucket(band, bh, old, new):
        for i in old:
            rows.append((i, i, False, band, bh))
        for i in new:
            rows.append((i, i, True, band, bh))

    bucket(0, 100, old=[1, 2], new=[3, 4, 5])      # crossed (5 > 4)
    bucket(1, 200, old=[1, 2], new=[])             # (1,2) survives here
    bucket(0, 300, old=[6, 7], new=[8, 9, 10])     # crossed, no rescue
    bucket(0, 400, old=[11], new=[12])             # plain add
    bucket(0, 500, old=[13, 14, 15, 16, 17], new=[18])  # n_old > cap: noop
    banded = spark.createDataFrame(
        rows, "id long, sig long, is_new boolean, band int, band_hash long"
    )
    out = _resume_delta(banded, 4, ("band", "band_hash"), "sig")
    got = {(r["id_a"], r["id_b"], r["op"]) for r in out.collect()}
    assert (6, 7, "retract") in got
    assert (1, 2, "retract") not in got            # rescued by band 1
    assert (11, 12, "add") in got
    assert not any(a >= 13 or b >= 13 for a, b, _ in got if a != 11)
    # bucket (0,100): old-old (1,2) not an add (no new member in pair was
    # required — the whole bucket crossed, so no adds from it at all)
    assert not any(op == "add" and {a, b} <= {1, 2, 3, 4, 5}
                   for a, b, op in got)


def _apply_delta(prior: set, delta_rows, key=lambda r: (r["id_a"], r["id_b"])):
    adds = {key(r) for r in delta_rows if r["op"] == "add"}
    retr = {key(r) for r in delta_rows if r["op"] == "retract"}
    return (prior - retr) | adds


def test_minhash_resume_delta_cap_crossing_equals_one_pass(spark):
    """A boilerplate cluster whose LSH bucket crosses max_bucket only
    once the second shard lands. Composing only the delta's adds keeps
    shard-1's stale pairs (≠ one-pass); applying its retractions restores
    full equality."""
    from cernan_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_resume_delta,
        minhash_signatures,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    some = base.filter(F.col("doc_id") < 40).select("doc_id", "text")
    boiler = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit("exact boilerplate page body repeated verbatim").alias("text"),
    ).filter(F.col("doc_id") < 2_000_006)  # 6 identical docs
    docs = some.unionByName(boiler)
    # shard 1: all regular docs + 3 boilerplate copies (bucket size 3 ≤ 4)
    shard1 = docs.filter(
        (F.col("doc_id") < 1_000_000) | (F.col("doc_id") < 2_000_003)
    )
    shard2 = docs.filter(F.col("doc_id") >= 2_000_003)  # +3 copies → 6 > 4

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    cap = 4
    one_pass = pairs(minhash_lsh_candidates(docs, max_bucket=cap))
    run1 = pairs(minhash_lsh_candidates(shard1, max_bucket=cap))
    sigs1 = minhash_signatures(shard1)
    delta = minhash_resume_delta(shard2, sigs1, max_bucket=cap).collect()
    adds = {(r["id_a"], r["id_b"]) for r in delta if r["op"] == "add"}
    assert run1 | adds != one_pass  # adds alone keep stale shard-1 pairs
    assert _apply_delta(run1, delta) == one_pass
    retr = {(r["id_a"], r["id_b"]) for r in delta if r["op"] == "retract"}
    assert retr == {(2_000_000, 2_000_001), (2_000_000, 2_000_002),
                    (2_000_001, 2_000_002)}


def test_simhash_resume_delta_cap_crossing_equals_one_pass(spark):
    """SimHash analog (the sf0.1 degenerate-chunk shape): identical texts
    share every chunk bucket; 3 copies in shard 1 pair up, 3 more in
    shard 2 push the bucket past the cap — one-pass drops them all, and
    only the delta's retractions reproduce that."""
    from cernan_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_hamming_pairs,
        simhash_resume_delta,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    some = base.filter(F.col("doc_id") < 40).select("doc_id", "text")
    boiler = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit("exact boilerplate page body repeated verbatim").alias("text"),
    ).filter(F.col("doc_id") < 2_000_006)
    docs = some.unionByName(boiler)
    shard1 = docs.filter(
        (F.col("doc_id") < 1_000_000) | (F.col("doc_id") < 2_000_003)
    )
    shard2 = docs.filter(F.col("doc_id") >= 2_000_003)

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    cap = 4
    one_pass = pairs(simhash_hamming_pairs(docs, max_bucket=cap))
    run1 = pairs(simhash_hamming_pairs(shard1, max_bucket=cap))
    fps1 = simhash_fingerprints(shard1)
    delta = simhash_resume_delta(shard2, fps1, max_bucket=cap).collect()
    adds = {(r["id_a"], r["id_b"]) for r in delta if r["op"] == "add"}
    assert run1 | adds != one_pass
    assert _apply_delta(run1, delta) == one_pass


def test_minhash_resume_delta_three_generations(spark):
    """Induction over generations: composing the delta shard-by-shard
    across THREE scheduled ingests lands on the one-pass pair set of the
    final union corpus, with caps crossing at different generations (3
    identical copies per shard of one boilerplate text → sizes 3/6/9
    around cap 4, plus cross-shard twins for the add path)."""
    from cernan_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_resume_delta,
        minhash_signatures,
        seed_text_near_dups,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seeded = seed_text_near_dups(
        base.filter(F.col("doc_id") < 30), n_seed=10
    )
    boiler = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit("exact boilerplate page body repeated verbatim").alias("text"),
    ).filter(F.col("doc_id") < 2_000_009)  # 9 identical docs
    docs = seeded.unionByName(boiler)
    shards = [
        docs.filter(
            (F.col("doc_id") % 3 == g)
            & (F.col("doc_id") < 2_000_000) | (
                (F.col("doc_id") >= 2_000_000 + 3 * g)
                & (F.col("doc_id") < 2_000_000 + 3 * (g + 1))
            )
        )
        for g in range(3)
    ]
    cap = 4

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    cur = pairs(minhash_lsh_candidates(shards[0], max_bucket=cap))
    indexed = shards[0]
    for g in (1, 2):
        sigs = minhash_signatures(indexed)
        delta = minhash_resume_delta(
            shards[g], sigs, max_bucket=cap
        ).collect()
        cur = _apply_delta(cur, delta)
        indexed = indexed.unionByName(shards[g])
    assert cur == pairs(minhash_lsh_candidates(docs, max_bucket=cap))


def test_fuzzy_probe_matches_hits_and_blocks(spark):
    from cernan_spark.operators.textstats import fuzzy_probe_matches

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and agaim"),
            (3, "completely unrelated text that shares no prefix with others"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again")],
        "probe_id long, probe_text string",
    )
    got = {
        (r.probe_id, r.doc_id): r.dist
        for r in fuzzy_probe_matches(docs, probes, max_dist=3).collect()
    }
    assert got == {(1, 1): 0, (1, 2): 1}
    # exclude_self drops the identity pair, keeps the near-miss
    got2 = {
        (r.probe_id, r.doc_id)
        for r in fuzzy_probe_matches(
            docs, probes, max_dist=3, exclude_self=True
        ).collect()
    }
    assert got2 == {(1, 2)}


def test_fuzzy_probe_non_ascii_normalized(spark):
    from cernan_spark.operators.textstats import fuzzy_probe_matches

    # é is stripped on both sides (DuckDB levenshtein is byte-based; the
    # comparison alphabet is pinned to printable ASCII)
    docs = spark.createDataFrame(
        [(1, "café latte with extra milk and sugar on the side ok")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(9, "caf latte with extra milk and sugar on the side ok")],
        "probe_id long, probe_text string",
    )
    rows = fuzzy_probe_matches(docs, probes, max_dist=3).collect()
    assert [(r.probe_id, r.doc_id, r.dist) for r in rows] == [(9, 1, 0)]


def test_stratified_sample_rates_and_nesting(spark):
    from cernan_spark.operators.textstats import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(4000)],
        "doc_id long, lang string",
    )
    lo = stratified_sample(docs, {"en": 0.2}, lang_col="lang")
    hi = stratified_sample(docs, {"en": 0.6}, lang_col="lang")
    n_lo, n_hi = lo.count(), hi.count()
    # rate accuracy: uniform hash → binomial; 2000 draws at p±0.05 margin
    assert abs(n_lo / 2000 - 0.2) < 0.05
    assert abs(n_hi / 2000 - 0.6) < 0.05
    assert lo.filter("lang = 'fr'").count() == 0  # default rate drops
    # nesting: raising a rate only ADDS docs (hash threshold is monotone),
    # the property that makes sampled corpora refinable without churn
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids


def test_dedup_savings_cluster_rollup(spark):
    """Chain 1-2-3 (one cluster of 3) + pair 7-8: sizes {3:1, 2:1};
    bytes saved = total minus the canonical member's bytes."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    sizes = spark.createDataFrame(
        [(1, 100), (2, 110), (3, 120), (7, 50), (8, 60)],
        "doc_id long, n_chars long",
    )
    g = dedup_groups(pairs)
    m = g.join(sizes, g["id"] == F.col("doc_id"))
    cl = m.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_chars").alias("total_bytes"),
        F.sum(
            F.when(F.col("id") == F.col("canonical_id"), F.col("n_chars"))
            .otherwise(F.lit(0))
        ).alias("kept_bytes"),
    )
    out = {
        r["cluster_size"]: (r["total_bytes"], r["kept_bytes"])
        for r in cl.collect()
    }
    assert out[3] == (330, 100)  # canonical is min id 1
    assert out[2] == (110, 50)


def test_cdc_chunks_survive_prefix_shift(spark):
    """The CDC selling point: prepending one char shifts every fixed
    window but chunk boundaries re-synchronize, so the original and the
    shifted twin still share byte-identical chunks covering most of the
    document; chunk reassembly reproduces the text exactly."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.dedup import cdc_duplicate_chunks

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 30)
    twins = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("X"), F.col("text")).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(twins)
    dups = cdc_duplicate_chunks(corpus).collect()
    assert len(dups) > 0
    all_texts = [r["text"] for r in corpus.collect()]
    orig_texts = [r["text"] for r in base.collect()]
    # every reported shared chunk really occurs somewhere in the corpus
    for r in dups:
        assert any(r["chunk"] in t for t in all_texts), r["chunk"][:40]
    # and the headline property: chunks shared ACROSS the shift — present
    # in an (unshifted) original AND reported duplicated — carry
    # substantial byte-identical content despite the prefix edit
    cross_bytes = sum(
        r["chunk_len"]
        for r in dups
        if any(r["chunk"] in t for t in orig_texts)
    )
    assert cross_bytes > 500
