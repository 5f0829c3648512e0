"""PII screening/redaction and Gopher-style repetition signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.text import (
    lines,
    pii_counts,
    redact_pii,
    repetition_stats,
    words,
)


def _one(spark, text, cols):
    df = spark.createDataFrame([(text,)], "text: string")
    return df.select(*[c.alias(n) for n, c in cols(F.col("text")).items()]).first()


def test_pii_counts(spark):
    r = _one(
        spark,
        "mail a@b.co and x.y+z@host.example.com, call +1 (555) 123-4567, "
        "host 10.0.0.1, ssn 123-45-6789",
        pii_counts,
    )
    assert r.n_email == 2
    # screening counts overlap by design: the SSN also matches the looser
    # phone shape (redact_pii's ordering is what resolves precedence)
    assert r.n_phone == 2
    assert r.n_ipv4 == 1
    assert r.n_ssn == 1


def test_pii_counts_clean_text_zero(spark):
    r = _one(spark, "no personal data in this perfectly ordinary sentence", pii_counts)
    assert (r.n_email, r.n_phone, r.n_ipv4, r.n_ssn) == (0, 0, 0, 0)


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [("contact a@b.co or 10.0.0.1 now",)], "text: string"
    )
    out = df.select(redact_pii(F.col("text")).alias("t")).first().t
    assert out == "contact <PII> or <PII> now"
    assert "@" not in out and "10.0" not in out


def test_redaction_order_email_before_phone(spark):
    # digits inside an email must be consumed by the email pattern, not
    # left half-eaten by the phone pattern
    df = spark.createDataFrame([("reach me: user12345678@host.com",)], "text: string")
    out = df.select(redact_pii(F.col("text")).alias("t")).first().t
    assert out == "reach me: <PII>"


def _rep(col):
    return repetition_stats(words(col))


def test_repetition_stats(spark):
    r = _one(spark, "spam spam spam spam", _rep)
    assert r.dup_word_frac == 0.75  # 1 distinct of 4
    assert r.top_bigram_frac == 1.0  # "spam spam" is every bigram
    r2 = _one(spark, "all words here are unique tokens", _rep)
    assert r2.dup_word_frac == 0.0
    assert round(r2.top_bigram_frac, 2) == 0.2  # 1 of 5 bigrams


def test_repetition_stats_degenerate(spark):
    assert _one(spark, "", _rep).dup_word_frac == 0.0
    one = _one(spark, "word", _rep)
    assert one.dup_word_frac == 0.0 and one.top_bigram_frac == 0.0


def test_gopher_stats_values(spark):
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.text import gopher_stats

    doc = "words only here\n- bullet one\n* bullet two\n1. numbered\nend with...\nhash # and 42 7x"
    df = spark.createDataFrame([(doc,)], "text string")
    g = gopher_stats(F.col("text"), words(F.col("text")), lines(F.col("text")))
    row = df.select(*[c.alias(n) for n, c in g.items()]).first()
    # 6 lines: 3 bullets, 1 ellipsis-ended
    assert row["bullet_line_frac"] == pytest.approx(3 / 6)
    assert row["ellipsis_line_frac"] == pytest.approx(1 / 6)
    # words: 15 \w+ tokens; symbols: one '#', one '...'
    n_words = df.select(F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0))).first()[0]
    assert row["symbol_word_ratio"] == pytest.approx(2 / n_words)
    # non-alpha words: '1', '42', '7x' has alpha -> 2 non-alpha
    assert row["alpha_word_frac"] == pytest.approx((n_words - 2) / n_words)
    # empty doc: all zero, no nulls
    z = spark.createDataFrame([("",)], "text string").select(
        *[c.alias(n) for n, c in g.items()]
    ).first()
    assert all(z[n] == 0.0 for n in ("symbol_word_ratio", "alpha_word_frac"))


def test_pipeline_gopher_shape_gate_batch_and_stream(spark, tmp_path):
    import os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus, prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        (1, "clean prose with words and more words"),
        (2, "- a\n- b\n- c\n- d\nonly one prose line"),       # bullet-heavy
        (3, "wait for it...\nand then...\nmore...\nyes..."),  # ellipsis-heavy
        (4, "42 17 99 3 8 1024 7 0 55 6"),                    # no alpha words
        (5, "# # # # # two words"),                           # symbol-heavy
    ]
    cfg = CorpusConfig(
        exact=False,
        max_symbol_word_ratio=0.1,
        max_bullet_line_frac=0.5,
        max_ellipsis_line_frac=0.3,
        min_alpha_word_frac=0.8,
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prep = prepare_corpus(docs, cfg)
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1]
    assert "gopher_shape" in [n for n, _ in prep.stages]

    # streaming form applies the identical per-row gate
    src = str(tmp_path / "gopher_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "text": [r[1] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("gopher_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    skept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM gopher_stream_t").collect())
    assert skept == kept


def test_compression_ratio_matches_zlib_and_gates(spark):
    import zlib

    from mysql_to_s3_spark.operators.text import compression_ratio
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    rep = "spam " * 400                      # repetitive -> tiny ratio
    import random

    rnd = random.Random(7)
    noise = "".join(chr(rnd.randint(33, 0x2FA0)) for _ in range(800))  # incompressible
    prose = "a reasonable sentence with ordinary mixed words and several distinct tokens " * 4
    df = spark.createDataFrame(
        [(1, rep), (2, noise), (3, prose), (4, None), (5, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["cr"] for r in df.select(
        "doc_id", compression_ratio(F.col("text")).alias("cr")).collect()}
    for i, t in ((1, rep), (2, noise), (3, prose)):
        b = t.encode("utf-8")
        assert got[i] == pytest.approx(len(zlib.compress(b, 6)) / len(b))
    assert got[4] is None and got[5] == 0.0
    # the signal separates the three regimes: repetitive << prose < noise
    assert got[1] < 0.1 < got[3] < got[2]

    cfg = CorpusConfig(exact=False, min_compression_ratio=0.1, max_compression_ratio=0.7)
    kept = sorted(r["doc_id"] for r in prepare_corpus(df, cfg).docs.select("doc_id").collect())
    # repetitive (below min) + noise (above max) + empty (0.0) dropped;
    # null text dropped too (null ratio fails both bounds, the standard
    # SQL null-gate semantics)
    expected = sorted(i for i in (1, 2, 3) if 0.1 <= got[i] <= 0.7)
    assert kept == expected and 3 in kept and 1 not in kept and 2 not in kept


# ---------------------------------------------------------------- r9s3:
# the COMPLETE Gopher table-A1 repetition rule set (text.gopher_repetition)


def _py_gopher_repetition(text):
    """Pure-Python replica of the documented semantics. re.ASCII is
    load-bearing: Java and RE2 \\w are ASCII-only (Spark and DuckDB
    agree with each other), while Python's default \\w is
    Unicode-aware — the hypothesis harness found 'µ' counted as a word
    here but not by either engine."""
    import re
    from collections import Counter

    ws = re.findall(r"\w+", text, re.ASCII)
    n_chars = len(text)
    out = {}

    def cfrac(num):
        return min(num / n_chars, 1.0) if n_chars > 0 else 0.0

    for name, parts in (
        ("line", [x for x in text.split("\n") if x != ""]),
        ("para", [x for x in text.split("\n\n") if x != ""]),
    ):
        cnt = Counter(parts)
        out[f"dup_{name}_frac"] = (
            1.0 - len(cnt) / len(parts) if parts else 0.0
        )
        out[f"dup_{name}_char_frac"] = cfrac(
            sum((c - 1) * len(p) for p, c in cnt.items() if c >= 2)
        )
    for n in (2, 3, 4):
        grams = Counter(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
        if grams:
            mx = max(grams.values())
            cov = max(mx * len(g) for g, c in grams.items() if c == mx)
        else:
            cov = 0
        out[f"top_{n}gram_char_frac"] = cfrac(cov)
    for n in (5, 6, 7, 8, 9, 10):
        grams = Counter(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
        out[f"dup_{n}gram_char_frac"] = cfrac(
            sum(c * len(g) for g, c in grams.items() if c >= 2)
        )
    return out


def _spark_gopher_repetition(spark, texts):
    from mysql_to_s3_spark.operators.text import gopher_repetition

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    df = df.withColumn("__ws__", words(F.col("text")))
    rep = gopher_repetition(F.col("text"), F.col("__ws__"))
    rows = (
        df.select("i", *[c.alias(n) for n, c in rep.items()])
        .orderBy("i")
        .collect()
    )
    return rows


def test_gopher_repetition_crafted(spark):
    seg = "one two three four five six seven eight nine ten"
    texts = [
        # twice-repeated 10-word segment: dup n-grams for every n <= 10
        seg + " " + seg,
        # duplicate lines and a duplicate blank-line paragraph
        "alpha beta\nalpha beta\ngamma\n\nalpha beta\n\nalpha beta",
        # heavy 2-gram repetition, no 5-gram dups
        "spam ham spam ham spam ham end",
        # degenerate: empty / single word / no repetition
        "",
        "word",
        "all unique words in this doc",
    ]
    got = _spark_gopher_repetition(spark, texts)
    for row, text in zip(got, texts):
        want = _py_gopher_repetition(text)
        for k, v in want.items():
            assert abs(row[k] - v) < 1e-9, (text[:40], k, row[k], v)
    # sanity on the crafted values themselves
    r0 = got[0].asDict()
    assert r0["dup_10gram_char_frac"] > 0.0
    assert r0["dup_5gram_char_frac"] == 1.0  # overlap-capped
    r1 = got[1].asDict()
    assert r1["dup_line_frac"] > 0.0 and r1["dup_para_frac"] > 0.0
    assert got[2]["top_2gram_char_frac"] > got[2]["dup_5gram_char_frac"]


def test_gopher_repetition_random_docs_match_python(spark):
    import random

    rng = random.Random(937)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "longerword"]
    texts = []
    for _ in range(40):
        n = rng.randrange(0, 60)
        toks = [rng.choice(vocab) for _ in range(n)]
        # inject structure: newlines and blank lines at random cuts
        s = " ".join(toks)
        for cut in sorted(rng.sample(range(len(s)), min(4, len(s))), reverse=True):
            s = s[:cut] + rng.choice([" ", "\n", "\n\n"]) + s[cut:]
        texts.append(s)
    got = _spark_gopher_repetition(spark, texts)
    for row, text in zip(got, texts):
        want = _py_gopher_repetition(text)
        for k, v in want.items():
            assert abs(row[k] - v) < 1e-9, (repr(text[:50]), k, row[k], v)


def test_pipeline_gopher_repetition_gate_batch_and_stream(spark, tmp_path):
    import os

    import pandas as pd
    import pytest

    from mysql_to_s3_spark.pipeline import (
        CorpusConfig,
        PipelineError,
        prepare_corpus,
        prepare_corpus_stream,
    )
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    seg = "one two three four five six seven eight nine ten"
    rows = [
        # long enough that the count-1 "mode" 2-gram covers < 20% of it
        (1, "clean prose with several distinct ordinary words here and "
            "nothing that repeats anywhere because every token differs "
            "from its neighbours across the whole document body"),
        (2, seg + " " + seg),                                   # dup 5..10-grams
        (3, "same line\nsame line\nsame line\nanother one"),    # dup lines
        (4, "para here\n\npara here\n\nand a different closer"),  # dup paragraphs
        (5, "go go go go go go stop"),                          # top-2gram heavy
    ]
    cfg = CorpusConfig(
        exact=False,
        gopher_repetition_max={
            "dup_line_frac": 0.30,
            "dup_para_frac": 0.30,
            "top_2gram_char_frac": 0.20,
            "dup_5gram_char_frac": 0.15,
        },
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prep = prepare_corpus(docs, cfg)
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1]
    assert "repetition" in [n for n, _ in prep.stages]
    # gate columns must not leak into the output schema
    assert not [c for c in prep.docs.columns if c.startswith("__")]

    # unknown signal names refuse at plan-build time
    with pytest.raises(PipelineError, match="unknown gopher_repetition_max"):
        prepare_corpus(
            docs, CorpusConfig(exact=False, gopher_repetition_max={"nope": 0.1})
        )

    # streaming form applies the identical per-row gate
    src = str(tmp_path / "gopher_rep_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "text": [r[1] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("gopher_rep_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    skept = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM gopher_rep_stream_t").collect()
    )
    assert skept == kept


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_gopher_repetition_hypothesis_docs_match_python(spark):
    """Property form of the python-replica check: arbitrary unicode word
    soup with random line/paragraph structure, batched into ONE Spark
    job per example set (12 examples x ~8 docs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x24F
        ),
        min_size=1,
        max_size=8,
    )
    sep = st.sampled_from([" ", "  ", "\n", "\n\n", " \n "])
    doc = st.lists(st.tuples(word, sep), min_size=0, max_size=40).map(
        lambda ps: "".join(w + s for w, s in ps)
    )

    @given(st.lists(doc, min_size=1, max_size=8))
    @settings(
        max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    def check(texts):
        got = _spark_gopher_repetition(spark, texts)
        for r, text in zip(got, texts):
            want = _py_gopher_repetition(text)
            for k, v in want.items():
                assert abs(r[k] - v) < 1e-9, (repr(text[:60]), k, r[k], v)

    check()


# ---------------------------------------------------------------------------
# C4 rule family (r10): c4_stats signals, the line clean, the pipeline
# stages in both forms


def test_c4_stats_values(spark):
    from mysql_to_s3_spark.operators.text import c4_line_clean, c4_stats
    from pyspark.sql import functions as F

    doc = "\n".join(
        [
            "a good long sentence here.",   # kept
            "short one.",                   # terminal but 2 words -> dropped
            "no terminal punctuation line", # >=3 words but no punct -> dropped
            'he said "stop!"',              # terminal ! before closing quote -> kept
            "the javascript widget loads.", # js word -> dropped
            "ends with question mark?",     # kept
        ]
    )
    df = spark.createDataFrame([(doc,)], "text string")
    s = c4_stats(F.col("text"), lines(F.col("text")))
    row = df.select(
        *[v.alias(k) for k, v in s.items()],
        c4_line_clean(lines(F.col("text"))).alias("clean"),
    ).first()
    assert row["c4_term_line_frac"] == pytest.approx(5 / 6)
    assert row["c4_short_line_frac"] == pytest.approx(1 / 6)
    # periods: 3 line-ends + '!' + '?' = 5 marks
    assert row["c4_sentences"] == 5
    assert row["c4_has_brace"] is False
    assert row["c4_has_lorem"] is False
    assert row["c4_has_js_line"] is True
    assert row["clean"] == "\n".join(
        ["a good long sentence here.", 'he said "stop!"', "ends with question mark?"]
    )
    # flags on a brace + lorem doc; empty-after-clean comes back ''
    row2 = (
        spark.createDataFrame([("Lorem Ipsum { filler",)], "text string")
        .select(
            *[v.alias(k) for k, v in s.items()],
            c4_line_clean(lines(F.col("text"))).alias("clean"),
        )
        .first()
    )
    assert row2["c4_has_brace"] is True and row2["c4_has_lorem"] is True
    assert row2["clean"] == ""


def test_pipeline_c4_stages_batch_and_stream(spark, tmp_path):
    import os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import (
        CorpusConfig,
        prepare_corpus,
        prepare_corpus_stream,
    )
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        # survives: 2 clean terminal sentences + nav junk the clean strips
        (1, "home | products | about\nthis is a fine sentence.\nhere is another good one."),
        # brace page
        (2, "function f() { return 1; }\na real sentence lives here too."),
        # lorem page
        (3, "standard lorem ipsum filler text.\nand a second sentence follows."),
        # too few sentences after the clean (one terminal line only)
        (4, "just one usable sentence here.\nshort.\nmenu menu menu"),
    ]
    cfg = CorpusConfig(
        exact=False,
        c4_line_clean=True,
        c4_min_sentences=2,
        c4_block_braces=True,
        c4_block_lorem=True,
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prep = prepare_corpus(docs, cfg)
    kept = {r["doc_id"]: r["text"] for r in prep.docs.collect()}
    assert sorted(kept) == [1]
    # the surviving text is the CLEANED text (nav line gone)
    assert kept[1] == "this is a fine sentence.\nhere is another good one."
    names = [n for n, _ in prep.stages]
    assert names.index("c4_clean") < names.index("c4_shape")

    # brace/lorem gates fire on the CLEANED text: doc 2's brace line is
    # removed by the clean (no terminal punct), so dropping it must be
    # the sentence floor's doing, not the brace rule — verify by
    # running the gate-only config on the raw docs
    gate_only = prepare_corpus(docs, CorpusConfig(
        exact=False, c4_block_braces=True, c4_block_lorem=True,
    ))
    assert sorted(r["doc_id"] for r in gate_only.docs.select("doc_id").collect()) == [1, 4]

    src = str(tmp_path / "c4_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "text": [r[1] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("c4_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    srows = {r["doc_id"]: r["text"] for r in spark.sql("SELECT * FROM c4_stream_t").collect()}
    assert srows == kept  # identical survivors AND identical cleaned text


def test_c4_stats_random_docs_match_python(spark):
    """c4_stats / c4_line_clean vs a direct Python replica over random
    word/punct docs — pins the filter predicate triple exactly."""
    import random
    import re

    from mysql_to_s3_spark.operators.text import c4_line_clean, c4_stats
    from mysql_to_s3_spark.operators.text import lines as text_lines
    from pyspark.sql import functions as F

    rng = random.Random(1234)
    vocab = ["alpha", "beta", "gamma", "javascript", "lorem", "ipsum", "{x}"]
    docs = []
    for i in range(40):
        lines = []
        for _ in range(rng.randint(1, 6)):
            ws = [rng.choice(vocab) for _ in range(rng.randint(0, 5))]
            lines.append(" ".join(ws) + rng.choice([".", "!", "?", "", " ", '."', ""]))
        docs.append((i, "\n".join(lines)))

    def py_line_ok(line):
        words = re.findall(r"\w+", line, flags=re.ASCII)
        term = re.search(r'[.!?]["\']?$', line.rstrip()) is not None
        return term and len(words) >= 3 and not any(
            w.lower() == "javascript" for w in words
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    ls = text_lines(F.col("text"))
    s = c4_stats(F.col("text"), ls)
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", "text",
            *[v.alias(k) for k, v in s.items()],
            c4_line_clean(ls).alias("clean"),
        ).collect()
    }
    for i, text in docs:
        lines = text.split("\n")
        r = got[i]
        want_term = sum(
            1 for l in lines if re.search(r'[.!?]["\']?$', l.rstrip())
        ) / len(lines)
        want_short = sum(
            1 for l in lines if len(re.findall(r"\w+", l, flags=re.ASCII)) < 3
        ) / len(lines)
        assert r["c4_term_line_frac"] == pytest.approx(want_term), (i, text)
        assert r["c4_short_line_frac"] == pytest.approx(want_short), (i, text)
        assert r["c4_sentences"] == len(re.findall(r"[.!?]", text)), (i, text)
        assert r["c4_has_brace"] == ("{" in text)
        assert r["c4_has_lorem"] == ("lorem ipsum" in text.lower())
        assert r["clean"] == "\n".join(l for l in lines if py_line_ok(l)), (i, text)
