"""Binary framing (native/avro wire shapes) + text-analysis operators."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from cernan_spark.functions.avrowire import decode_avro_payload, encode_avro_payload
from cernan_spark.functions.framing import encode_frames, frames_from_stream
from cernan_spark.operators.aggregate import prometheus_windowed_summaries
from cernan_spark.operators.textstats import (
    doc_fingerprint,
    lang_id,
    quality_scores,
    token_stats,
)


def test_avro_header_roundtrip():
    blob = b"avro-bytes-here"
    # v1: the fixed 24-byte header, then the blob
    r = decode_avro_payload(struct.pack(">IIQQ", 1, 1, 42, 777) + blob)
    assert (r["version"], r["control"], r["id"], r["order_by"]) == (1, 1, 42, 777)
    assert r["avro_blob"] == blob
    # v2 (the encoder's default): a metadata count byte follows the header
    assert decode_avro_payload(encode_avro_payload(blob))["avro_blob"] == blob


def test_frame_split_and_reencode(spark):
    f1, f2 = b"hello", b"world!!"
    stream = struct.pack(">I", len(f1)) + f1 + struct.pack(">I", len(f2)) + f2
    stream += b"\x00\x00\x00\xff(partial"  # trailing partial frame → dropped
    df = spark.createDataFrame([(1, stream)], "conn_id long, stream binary")
    rows = frames_from_stream(df).orderBy("frame_idx").collect()
    assert [bytes(r["frame"]) for r in rows] == [f1, f2]
    # re-encode gives back the original framing (native sink relay)
    re = encode_frames(frames_from_stream(df)).orderBy("frame_idx").collect()
    assert b"".join(bytes(r["framed"]) for r in re) == (
        struct.pack(">I", len(f1)) + f1 + struct.pack(">I", len(f2)) + f2
    )


def test_token_stats_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat and the hat sat on a mat",), ("1 2 3 4 5 !!!! ....",)],
        "text string",
    )
    q = quality_scores(token_stats(df)).collect()
    good = next(r for r in q if r["text"].startswith("the cat"))
    bad = next(r for r in q if r["text"].startswith("1 2"))
    assert good["n_tokens"] == 9 and good["quality_ok"]
    assert good["stopword_ratio"] > 0.3
    assert not bad["quality_ok"]  # digits+punct heavy
    assert bad["digit_ratio"] > 0.2


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the quick fox is in the barn and it is fine",),
            ("el perro y la casa de un hombre que no es",),
            ("zzz qqq www",),
        ],
        "text string",
    )
    got = {r["text"][:2]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got["th"] == "en"
    assert got["el"] == "es"
    assert got["zz"] == "und"


def test_doc_fingerprint_overlap(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different content right here folks"),
        ],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: set(r["fingerprint"]) for r in doc_fingerprint(df).collect()}
    sim01 = len(fp[0] & fp[1])
    sim02 = len(fp[0] & fp[2])
    assert sim01 > sim02
    # deterministic
    fp2 = {r["doc_id"]: set(r["fingerprint"]) for r in doc_fingerprint(df).collect()}
    assert fp == fp2


def test_prometheus_windowed_summary_purges_by_age(spark):
    rows = [
        ("lat", 1.0, "SUMMARIZE", False, 100, None, 1),
        ("lat", 100.0, "SUMMARIZE", False, 900, None, 2),
        ("lat", 50.0, "SUMMARIZE", False, 950, None, 3),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, value double, kind string, persist boolean, "
        "event_epoch long, ts timestamp, order_key long",
    )
    out = prometheus_windowed_summaries(df, capacity_seconds=100, now_epoch=960)
    r = out.collect()[0]
    # the t=100 sample aged out; only 100.0 and 50.0 remain
    assert r["n_points"] == 2 and r["samples_sum"] == 150.0


def test_repetition_stats_signals(spark):
    """Gopher repetition rules: a degenerate doc scores high on both
    signals, a diverse doc scores low."""
    from cernan_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_token_frac"], r["top_bigram_frac"])
        for r in repetition_stats(df).collect()
    }
    assert got[1] == (round(1 - 1 / 6, 4), 1.0)   # all bigrams identical
    assert got[2] == (0.0, 0.2)                    # 5 distinct bigrams
    assert got[3] == (0.0, 0.0)                    # no bigrams at all


def test_benchmark_decontamination_flags_seeded_overlap(spark):
    """benchmark_ngram_overlap flags exactly the docs that share an n-gram
    with the benchmark set — seeded contamination is fully recovered, and
    clean docs never false-positive."""
    from cernan_spark.operators.textstats import benchmark_ngram_overlap

    def doc(i, words):
        return (i, " ".join(words))

    bench = spark.createDataFrame(
        [doc(100, [f"b{j}" for j in range(12)])], "doc_id long, text string"
    )
    training = spark.createDataFrame(
        [
            # contaminated: carries benchmark tokens b2..b9 (one 8-gram)
            doc(1, ["x0", "x1"] + [f"b{j}" for j in range(2, 10)] + ["x2"]),
            # clean: same vocabulary but never 8 consecutive benchmark words
            doc(2, [f"b{j}" for j in range(7)] + ["zz"] + ["b7", "b8"]),
            # too short for any 8-gram
            doc(3, ["b0", "b1", "b2"]),
        ],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: (r["n_hit_shingles"], r["n_benchmarks"])
        for r in benchmark_ngram_overlap(training, bench, n=8).collect()
    }
    assert hits == {1: (1, 1)}


def test_pii_redaction_categories_and_counts(spark):
    from cernan_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail a@b.co and c.d+x@e-f.org twice"),
        (2, "call +4915551234567 now"),
        (3, "host 192.168.0.1 and 10.0.0.255."),
        (4, "nothing sensitive here, 12.34 is a price not an ip"),
        (5, "combo a@b.io +1234567 1.2.3.4"),
    ]
    out = {
        r["doc_id"]: r
        for r in redact_pii(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["n_email"] == 2
    assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> twice"
    assert out[2]["n_phone"] == 1 and "<PHONE>" in out[2]["redacted"]
    assert out[3]["n_ipv4"] == 2
    assert out[3]["redacted"] == "host <IP> and <IP>."
    assert (out[4]["n_email"], out[4]["n_phone"], out[4]["n_ipv4"]) == (0, 0, 0)
    assert out[4]["redacted"] == rows[3][1]
    assert out[5]["redacted"] == "combo <EMAIL> <PHONE> <IP>"


def test_token_budget_sampler_prefix_property(spark):
    """The sampler keeps a deterministic prefix per language: cumulative
    tokens never exceed the budget, dropping any kept doc keeps the prefix
    property, and reruns select the identical set."""
    from cernan_spark.operators.textstats import sample_to_token_budget

    rows = [(i, "en" if i % 2 == 0 else "de", 10 + (i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang_pred string, n_tokens int")
    kept = sample_to_token_budget(df, budget=100).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang_pred"], []).append(r)
    assert set(by_lang) == {"en", "de"}
    for lang, rs in by_lang.items():
        assert max(r["cum_tokens"] for r in rs) <= 100
        # contiguous prefix: cum of the sorted rows is the running sum
        rs.sort(key=lambda r: r["cum_tokens"])
        run = 0
        for r in rs:
            run += r["n_tokens"]
            assert r["cum_tokens"] == run
    again = sample_to_token_budget(df, budget=100).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in kept}


def test_token_budget_chunked_equals_plain_window(spark):
    """The two-phase chunked scan (hash-range buckets + per-bucket offsets)
    is bit-identical to the single-window form (chunks=1) — including on a
    hot-language corpus (one language = 80% of docs) and negative doc ids,
    where the pmod key must order like the SQL replay."""
    from cernan_spark.operators.textstats import sample_to_token_budget

    rows = [
        (i if i % 5 else -i, "en" if i % 5 else f"l{i % 3}", 5 + (i * 13) % 40)
        for i in range(1, 400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang_pred string, n_tokens int")
    for budget in (0, 37, 500, 10**9):
        plain = {
            (r["doc_id"], r["lang_pred"], r["cum_tokens"])
            for r in sample_to_token_budget(df, budget=budget, chunks=1).collect()
        }
        chunked = {
            (r["doc_id"], r["lang_pred"], r["cum_tokens"])
            for r in sample_to_token_budget(df, budget=budget, chunks=64).collect()
        }
        assert chunked == plain


def test_token_budget_key_no_ansi_overflow(spark):
    """doc_id beyond 2^33 (the ANSI-mode overflow regime flagged in review)
    must not error and must still select a valid prefix."""
    from cernan_spark.operators.textstats import sample_to_token_budget

    big = 9_000_000_000  # > 8.4e9 where the unreduced multiply overflowed
    rows = [(big + i, "en", 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang_pred string, n_tokens int")
    kept = sample_to_token_budget(df, budget=55).collect()
    assert len(kept) == 5 and max(r["cum_tokens"] for r in kept) == 50


def test_pii_extended_categories_adversarial(spark):
    """Six-category PII scrub + Luhn gating under adversarial punctuation:
    boundaries at commas/parens, separator-mixed cards, shape-valid but
    checksum-invalid digit runs, and key-shaped tokens glued to punctuation."""
    from cernan_spark.operators.textstats import redact_pii

    rows = [
        (0, "pay 4111 1111 1111 1111, or (4111-1111-1111-1112) now"),
        (1, "ssn: 123-45-6789. but 1123-45-6789 has no boundary-3 run"),
        (2, "token sk_live_abcDEF1234567890x, then api_0123456789abcdef!"),
        (3, "short key sk_live_tooshort and code 1234-5678 stay put"),
        (4, "order id 1234567890123456 looks like a card but fails luhn"),
        (5, "visa test 4012888888881881 passes luhn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    # two card-shaped runs, only the first passes Luhn
    assert out[0]["n_ccard"] == 2 and out[0]["n_ccard_luhn"] == 1
    assert out[0]["redacted"] == "pay <CCARD>, or (<CCARD>) now"
    # \b keeps the 4-digit-prefixed lookalike from matching as SSN
    assert out[1]["n_ssn"] == 1
    assert out[1]["redacted"].startswith("ssn: <SSN>. but 1123-45-6789")
    assert out[2]["n_apikey"] == 2
    assert out[2]["redacted"] == "token <KEY>, then <KEY>!"
    # <16 key chars and short digit groups are not PII
    assert out[3]["n_apikey"] == 0 and out[3]["n_ccard"] == 0
    assert out[3]["redacted"] == rows[3][1]
    # shape match without a valid check digit: counted, redacted, not luhn
    assert out[4]["n_ccard"] == 1 and out[4]["n_ccard_luhn"] == 0
    assert out[5]["n_ccard_luhn"] == 1


def test_pii_counts_are_disjoint_across_categories(spark):
    """A match consumed by an earlier category never re-counts under a
    later one (r4 ADVICE #5): counts run on the progressively-redacted
    text, so they mirror which placeholder actually wins in `redacted`."""
    from cernan_spark.operators.textstats import redact_pii

    rows = [
        # '+' + 15 digits: phone wins; the ccard-shaped sub-run must not
        # also count (this was the double-counted case)
        (0, "fraud line +411111111111111 reported"),
        # email whose local part is card-shaped: email wins, ccard 0
        (1, "from 4111111111111111@scam.example please"),
        # a real card NEXT TO a phone still counts once each
        (2, "call +1234567890 re card 4111 1111 1111 1111"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[0]["n_phone"] == 1 and out[0]["n_ccard"] == 0
    assert out[0]["redacted"] == "fraud line <PHONE> reported"
    assert out[1]["n_email"] == 1 and out[1]["n_ccard"] == 0
    assert out[2]["n_phone"] == 1 and out[2]["n_ccard"] == 1
    assert out[2]["redacted"] == "call <PHONE> re card <CCARD>"


def test_normalize_and_url_stats(spark):
    from cernan_spark.operators.textstats import (
        domain_rollup,
        normalize_text,
        url_stats,
    )

    rows = [
        (1, "  Hello\t WORLD \x01 again  "),
        (2, "links https://A.example.com/x?q=1 http://b.org/y https://a.example.COM/z"),
        (3, "no urls here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert norm[1] == "hello world again"
    u = {r["doc_id"]: r for r in url_stats(df).collect()}
    assert u[2]["n_urls"] == 3 and u[2]["n_hosts"] == 2
    assert u[2]["hosts"] == ["a.example.com", "b.org"]
    assert u[3]["n_urls"] == 0 and u[3]["hosts"] == []
    roll = {r["host"]: (r["n_docs"], r["n_mentions"])
            for r in domain_rollup(df).collect()}
    assert roll["a.example.com"] == (1, 2) and roll["b.org"] == (1, 1)


def test_cap_docs_per_domain(spark):
    """Per-domain cap: a hot host is trimmed to the cap with a
    deterministic pseudo-random survivor set; small hosts keep all docs;
    reruns select the identical subset."""
    from cernan_spark.operators.textstats import cap_docs_per_domain

    rows = [(i, "big.com" if i % 2 == 0 else f"s{i % 3}.org") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    kept = cap_docs_per_domain(df, max_per_host=10).collect()
    by_host: dict[str, list] = {}
    for r in kept:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["big.com"]) == 10          # 100 docs → capped
    for h, rs in by_host.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
    small = [h for h in by_host if h != "big.com"]
    assert all(len(by_host[h]) == 10 for h in small)  # 33-34 docs → capped too
    again = {r["doc_id"] for r in cap_docs_per_domain(df, max_per_host=10).collect()}
    assert again == {r["doc_id"] for r in kept}
    # generous cap keeps everything
    assert cap_docs_per_domain(df, max_per_host=1000).count() == 200


def test_token_budget_per_language_map(spark):
    """A per-language budget dict gives each language its own quota; the
    chunked scan still matches the single-window form, and unlisted
    languages fall to the default."""
    from cernan_spark.operators.textstats import sample_to_token_budget

    rows = [(i, ["en", "de", "fr"][i % 3], 10) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang_pred string, n_tokens int")
    budgets = {"en": 100, "de": 40}
    kept = sample_to_token_budget(
        df, budgets, default_budget=20, chunks=8
    ).collect()
    by = {}
    for r in kept:
        by.setdefault(r["lang_pred"], []).append(r["cum_tokens"])
    assert max(by["en"]) == 100 and len(by["en"]) == 10
    assert max(by["de"]) == 40 and len(by["de"]) == 4
    assert max(by["fr"]) == 20 and len(by["fr"]) == 2  # default budget
    plain = {
        (r["doc_id"], r["cum_tokens"])
        for r in sample_to_token_budget(
            df, budgets, default_budget=20, chunks=1
        ).collect()
    }
    assert {(r["doc_id"], r["cum_tokens"]) for r in kept} == plain


def test_canonical_url_cases(spark):
    """Messy variants collapse; distinct logical URLs do not."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.textstats import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/p/?utm_source=x&b=2&a=1#frag",
         "https://example.com/p?a=1&b=2"),
        ("https://example.com/p?a=1&b=2", "https://example.com/p?a=1&b=2"),
        ("http://Example.com:80/", "http://example.com/"),
        ("http://example.com/path/sub/?gclid=zz", "http://example.com/path/sub"),
        ("https://example.com", "https://example.com"),
        ("https://example.com/p?a=2&b=1", "https://example.com/p?a=2&b=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_template_drift_lifecycle(spark):
    """Early-only template -> vanished, late-only -> new, balanced ->
    stable with lift 1 (same share both halves)."""
    import datetime as dt

    from cernan_spark.operators.textstats import template_drift

    early = dt.datetime(2026, 1, 1)
    late = dt.datetime(2026, 1, 3)  # midpoint = Jan 2
    rows = (
        [("old err 7", early)] * 3
        + [("new err 9", late)] * 2
        + [("steady 1", early), ("steady 2", late)]
    )
    df = spark.createDataFrame(rows, "text string, ts timestamp")
    got = {r["template"]: r for r in template_drift(df).collect()}
    assert got["old err <N>"]["status"] == "vanished"
    assert got["new err <N>"]["status"] == "new"
    s = got["steady <N>"]
    assert s["status"] == "stable" and s["n_early"] == 1 and s["n_late"] == 1
    # shares: early 1/4, late 1/3 -> lift (1*4)/(1*3)
    assert abs(s["lift"] - 4 / 3) < 1e-15


def test_zipf_fit_exact_power_law(spark):
    """A corpus engineered so count(rank) = round(1000/rank) follows an
    exact -1 power law in the large terms: the fitted slope lands near
    -1 with high R2; a uniform corpus (all counts equal) fits slope 0."""
    from cernan_spark.operators.textstats import zipf_fit

    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * round(1000 / r)
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(df, vocab_k=20).collect()[0]
    assert row["n_ranks"] == 20
    assert abs(row["zipf_slope"] + 1.0) < 0.01
    assert row["r2"] > 0.999

    flat = spark.createDataFrame(
        [(1, " ".join([f"t{i}" for i in range(30)] * 3))],
        "doc_id long, text string",
    )
    row2 = zipf_fit(flat, vocab_k=30).collect()[0]
    assert row2["zipf_slope"] == 0.0


def test_rake_keyphrases_hand_model(spark):
    """Classic RAKE hand example: stopword-delimited runs score by
    deg/freq sums; a longer phrase of co-occurring words outranks a
    frequent single word."""
    from cernan_spark.operators.textstats import rake_keyphrases

    docs = spark.createDataFrame(
        [
            (1, "deep learning the deep learning systems"),
            (2, "systems a deep learning"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["phrase"]: r
        for r in rake_keyphrases(
            docs, stopwords=["the", "a"], top_k=10
        ).collect()
    }
    # candidates: 'deep learning' (x2: doc1 pre-the, doc2 post-a),
    # 'deep learning systems' (doc1), 'systems' (doc2)
    assert out["deep learning"]["n_occurrences"] == 2
    assert out["deep learning systems"]["n_occurrences"] == 1
    assert out["systems"]["n_occurrences"] == 1
    # word stats: deep: freq3 deg=2+2+3=7; learning: same; systems:
    # freq2 deg=3+1=4
    assert out["deep learning"]["score"] == round(7 / 3 + 7 / 3, 6)
    assert out["deep learning systems"]["score"] == round(
        7 / 3 + 7 / 3 + 4 / 2, 6
    )
    assert out["systems"]["score"] == 2.0
    best = max(out.values(), key=lambda r: r["score"])
    assert best["phrase"] == "deep learning systems"


def test_rake_top_k_and_stopword_only_docs(spark):
    """Docs of only stopwords contribute nothing; top_k truncates by
    (score desc, phrase asc)."""
    from cernan_spark.operators.textstats import rake_keyphrases

    docs = spark.createDataFrame(
        [(1, "the a the"), (2, "alpha the beta"), (3, "alpha the beta")],
        "doc_id long, text string",
    )
    rows = rake_keyphrases(docs, stopwords=["the", "a"], top_k=1).collect()
    assert len(rows) == 1
    assert rows[0]["phrase"] == "alpha"  # tie on score 1.0 → lexicographic
