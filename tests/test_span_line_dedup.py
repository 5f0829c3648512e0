"""Sub-document dedup: cross-doc duplicated-span fraction (Lee et al.
2022 exact-substring signal) and CCNet/RefinedWeb-style line-level
boilerplate removal — `operators/dedup.py` tail section.

Both operators are also driver-hash-verified as legs of the
`text_winnow_fingerprint` row (queries.py) against a DuckDB replica;
these tests pin the operator-level contracts on hand-built corpora
where the expected answer is enumerable by eye.
"""

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.dedup import (
    duplicated_span_fraction,
    strip_boilerplate_lines,
    token_span_keys,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_span_keys_count_and_short_doc(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c"), (3, "x")])
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(token_span_keys(F.col("text"), k=5)).alias("n")
        ).collect()
    }
    # 6 tokens -> 2 windows of 5; 3 tokens -> 0; 1 token -> 0
    assert out == {1: 2, 2: 0, 3: 0}


def test_span_keys_case_insensitive(spark):
    df = _docs(spark, [(1, "Foo Bar Baz"), (2, "foo bar baz")])
    a, b = (
        df.orderBy("doc_id")
        .select(token_span_keys(F.col("text"), k=3).alias("k"))
        .collect()
    )
    assert a["k"] == b["k"] and len(a["k"]) == 1


def test_duplicated_span_fraction_hand_corpus(spark):
    # docs 1 and 2 share the run "p q r s t"; doc 3 is disjoint; doc 4 is
    # too short for any window
    df = _docs(
        spark,
        [
            (1, "p q r s t u v"),   # windows: pqrst qrstu rstuv
            (2, "z p q r s t"),     # windows: zpqrs pqrst
            (3, "m n o m n o m"),   # 3 windows, none shared across docs
            (4, "a b"),
        ],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicated_span_fraction(df, k=5).collect()
    }
    assert out[1] == (3, 1, pytest.approx(1 / 3, abs=1e-6))
    assert out[2] == (2, 1, pytest.approx(0.5, abs=1e-6))
    assert out[3] == (3, 0, 0.0)
    assert out[4] == (0, 0, None)


def test_duplicated_span_fraction_in_doc_repeat_not_dup(spark):
    # the same span repeated WITHIN one doc is not cross-doc duplication
    df = _docs(spark, [(1, "a b c a b c a b c"), (2, "x y z w v u")])
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in duplicated_span_fraction(df, k=3).collect()
    }
    assert out[1] == (7, 0)
    assert out[2] == (4, 0)


def test_duplicated_span_fraction_min_docs(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "a b c")])
    frac2 = {
        r["doc_id"]: r["dup_frac"]
        for r in duplicated_span_fraction(df, k=3, min_docs=2).collect()
    }
    frac4 = {
        r["doc_id"]: r["dup_frac"]
        for r in duplicated_span_fraction(df, k=3, min_docs=4).collect()
    }
    assert frac2 == {1: 1.0, 2: 1.0, 3: 1.0}
    assert frac4 == {1: 0.0, 2: 0.0, 3: 0.0}


def test_strip_boilerplate_basic(spark):
    df = _docs(
        spark,
        [
            (1, "keep me\nshared footer\nunique a"),
            (2, "shared footer\nunique b"),
            (3, "unique c\n\nshared footer"),
        ],
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "keep me\nunique a"
    assert out[2]["clean_text"] == "unique b"
    # the blank line is structural and survives
    assert out[3]["clean_text"] == "unique c\n"
    assert [out[i]["n_dropped"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [out[i]["n_lines"] for i in (1, 2, 3)] == [3, 2, 3]


def test_strip_boilerplate_trim_normalization(spark):
    # the SAME content with different surrounding whitespace is one line
    # for frequency purposes, but the kept text is untouched
    df = _docs(spark, [(1, "  footer  \nmine"), (2, "footer\nyours")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "mine"
    assert out[2]["clean_text"] == "yours"


def test_strip_boilerplate_max_docs_threshold(spark):
    df = _docs(spark, [(1, "x\na"), (2, "x\nb"), (3, "x\nc")])
    keep2 = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=3).collect()}
    drop2 = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=2).collect()}
    assert keep2[1]["clean_text"] == "x\na" and keep2[1]["n_dropped"] == 0
    assert drop2[1]["clean_text"] == "a" and drop2[1]["n_dropped"] == 1


def test_strip_boilerplate_all_dropped_and_in_doc_repeat(spark):
    # doc 3 is nothing but boilerplate -> empty string, not null; a line
    # repeated within ONE doc only is not boilerplate
    df = _docs(spark, [(1, "same\nsame"), (2, "promo"), (3, "promo")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    assert out[1]["clean_text"] == "same\nsame" and out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 1


def test_strip_boilerplate_order_preserved(spark):
    lines = [f"line {i}" for i in range(20)]
    df = _docs(spark, [(1, "\n".join(lines)), (2, "line 7\nline 3")])
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(df, max_docs=1).collect()}
    kept = [l for l in lines if l not in ("line 7", "line 3")]
    assert out[1]["clean_text"] == "\n".join(kept)


def test_span_and_line_plans_have_no_cross_join(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e g")])
    for out in (
        duplicated_span_fraction(df, k=5),
        strip_boilerplate_lines(df),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Property conformance vs a pure-Python reference
# ---------------------------------------------------------------------------

import re as _re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_TOK = _re.compile(r"\w+|[^\w\s]", _re.ASCII)
_VOCAB = ["a", "b", "c", "dd", "ee"]


def _py_span_fraction(rows, k, min_docs):
    spans = {}  # key -> set(doc)
    per_doc = {}
    for doc_id, text in rows:
        t = _TOK.findall(text.lower())
        wins = [tuple(t[i : i + k]) for i in range(len(t) - k + 1)]
        per_doc[doc_id] = wins
        for w in wins:
            spans.setdefault(w, set()).add(doc_id)
    out = {}
    for doc_id, wins in per_doc.items():
        dup = sum(1 for w in wins if len(spans[w]) >= min_docs)
        out[doc_id] = (
            len(wins),
            dup,
            round(dup / len(wins), 6) if wins else None,
        )
    return out


def _py_strip_lines(rows, max_docs):
    freq = {}  # trimmed line -> set(doc)
    for doc_id, text in rows:
        for ln in text.split("\n"):
            if ln.strip():
                freq.setdefault(ln.strip(), set()).add(doc_id)
    out = {}
    for doc_id, text in rows:
        kept, dropped = [], 0
        for ln in text.split("\n"):
            if not ln.strip() or len(freq.get(ln.strip(), ())) <= max_docs:
                kept.append(ln)
            else:
                dropped += 1
        out[doc_id] = ("\n".join(kept), len(text.split("\n")), dropped)
    return out


_doc_text = st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12).map(" ".join)
_line_text = st.lists(
    st.sampled_from(["promo", "nav bar", "real content", "  promo  ", ""]),
    min_size=1,
    max_size=6,
).map("\n".join)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=8),
    k=st.integers(min_value=2, max_value=4),
    min_docs=st.integers(min_value=2, max_value=3),
)
def test_prop_span_fraction_matches_python(spark, texts, k, min_docs):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicated_span_fraction(df, k=k, min_docs=min_docs).collect()
    }
    want = _py_span_fraction(rows, k, min_docs)
    for d in want:
        g, w = got[d], want[d]
        assert g[0] == w[0] and g[1] == w[1], (d, g, w)
        if w[2] is None:
            assert g[2] is None
        else:
            assert abs(g[2] - w[2]) < 1e-9


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(_line_text, min_size=1, max_size=8),
    max_docs=st.integers(min_value=1, max_value=3),
)
def test_prop_strip_lines_matches_python(spark, texts, max_docs):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_dropped"])
        for r in strip_boilerplate_lines(df, max_docs=max_docs).collect()
    }
    assert got == _py_strip_lines(rows, max_docs)


def test_strip_duplicated_spans_keeper_semantics(spark):
    """r8: the rewrite half of exact-substring dedup — the keeper (min
    doc id) keeps its span, every other holder loses exactly the
    covered tokens (case-insensitive keying, original-case rebuild);
    unique docs and sub-k docs pass through untouched."""
    from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three"),
            (2, f"zero {shared.upper()} four five"),
            (3, "totally unrelated words only here now"),
            (4, "tiny doc"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in strip_duplicated_spans(docs, k=5).collect()
    }
    # keeper (doc 1) intact
    assert got[1]["clean_text"] == f"{shared} one two three"
    assert got[1]["n_removed"] == 0
    # doc 2 loses the 5 covered tokens (its ORIGINAL-case copy), rest kept
    assert got[2]["clean_text"] == "zero four five"
    assert got[2]["n_removed"] == 5
    # untouched docs
    assert got[3]["n_removed"] == 0 and got[3]["clean_text"].startswith("totally")
    assert got[4]["n_removed"] == 0 and got[4]["clean_text"] == "tiny doc"
    assert got[4]["n_tokens"] == 2


def _py_strip_spans(rows, k, min_docs=2):
    """Reference rewrite: k-token windows over the RAW token stream,
    keyed by their lowercased join; every covered token of a non-keeper
    (min doc id) holder of a span held by >= min_docs docs is removed."""
    toks = {d: _TOK.findall(text) for d, text in rows}
    holders = {}  # key -> set(doc)
    for d, t in toks.items():
        for i in range(len(t) - k + 1):
            holders.setdefault("\x1f".join(t[i : i + k]).lower(), set()).add(d)
    out = {}
    for d, t in toks.items():
        covered = set()
        for i in range(len(t) - k + 1):
            h = holders["\x1f".join(t[i : i + k]).lower()]
            if len(h) >= min_docs and d != min(h):
                covered.update(range(i, i + k))
        kept = [tok for j, tok in enumerate(t) if j not in covered]
        out[d] = (" ".join(kept), len(t), len(covered))
    return out


def test_span_operators_unicode_case_expansion(spark):
    """Lowercasing changes the token stream on non-ASCII text: 'İ'
    lowers to 'i' + U+0307 (one extra punctuation token) and the Kelvin
    sign U+212A lowers to the ASCII word character 'k'. The measure
    tokenizes the lowercased text; the rewrite slides its windows over
    the raw tokens it removes. Each must match its own reference."""
    from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

    kelvin = "\u212a"
    rows = [
        (1, "İstanbul is a big city"),
        (2, "we love İSTANBUL is a big city too"),
        (3, f"{kelvin}elvin scale rocks"),
        (4, "kelvin scale rocks here"),
        (5, f"{kelvin}elvin scale rocks!"),
        (6, "İstanbul is a big city"),  # fully covered non-keeper -> ''
        (7, "tiny"),
    ]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in strip_duplicated_spans(df, k=3).collect()
    }
    want = _py_strip_spans(rows, k=3)
    assert got == want
    assert want[2] == ("we love too", 9, 6) and want[6][0] == ""
    got_frac = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicated_span_fraction(df, k=3).collect()
    }
    want_frac = _py_span_fraction(rows, 3, 2)
    assert got_frac.keys() == want_frac.keys()
    for d, (n, nd, frac) in want_frac.items():
        assert got_frac[d][:2] == (n, nd), d
        assert got_frac[d][2] == (None if frac is None else pytest.approx(frac, abs=1e-9)), d
