"""URL canonicalization + URL-level dedup (the RefinedWeb/CCNet first
pass): operators/text.canonical_url, operators/dedup.url_dedup, the
prepare_corpus `url_dedup` stage, and the streaming analog."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.dedup import url_dedup
from mysql_to_s3_spark.operators.text import canonical_url

CASES = [
    # (messy, canonical)
    ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag", "http://example.com/a/b?a=1&b=2"),
    ("https://example.com:443/path", "https://example.com/path"),
    ("https://example.com:8443/path/", "https://example.com:8443/path"),  # non-default port kept
    ("http://example.com:8080/x?fbclid=abc", "http://example.com:8080/x"),
    ("https://www.sub.example.com/", "https://sub.example.com"),
    ("http://example.com", "http://example.com"),
    ("http://example.com/?", "http://example.com"),  # empty query -> '?' dropped
    ("http://example.com/x?b=2&a=1&a=0", "http://example.com/x?a=0&a=1&b=2"),  # stable sort
    ("http://example.com/CaseSensitive/Path", "http://example.com/CaseSensitive/Path"),
    ("http://example.com/x?ref=hn&gclid=1&utm_campaign=c", "http://example.com/x"),
    ("http://wwwx.example.com/a", "http://wwwx.example.com/a"),  # www-prefix needs the dot
    ("HTTPS://EX.COM/A#x?y=1", "https://ex.com/A"),  # fragment strips before query parse
    # IPv6 bracket authorities: default ports strip, explicit ports keep
    ("https://[2001:db8::1]:443/x", "https://[2001:db8::1]/x"),
    ("http://[::1]:80/y", "http://[::1]/y"),
    ("https://[2001:db8::1]:8443/x", "https://[2001:db8::1]:8443/x"),
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], "id int, url string"
    )
    got = {r["id"]: r["c"] for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()}
    for i, (messy, want) in enumerate(CASES):
        assert got[i] == want, (messy, got[i], want)


def test_canonical_url_null_safe(spark):
    df = spark.createDataFrame([(1, None)], "id int, url string")
    # null in -> null out (concat of null authority), never an exception
    assert df.select(canonical_url(F.col("url")).alias("c")).first()["c"] is None


def test_url_dedup_groups_and_keeper(spark):
    df = spark.createDataFrame(
        [
            (7, "HTTP://WWW.E.com/a?utm_source=1"),
            (2, "http://e.com/a/"),
            (3, "http://e.com/b"),
            (9, "http://e.com:80/a"),
        ],
        "doc_id long, url string",
    )
    got = sorted((r["url"], r["keeper"], r["n_dupes"]) for r in url_dedup(df).collect())
    assert got == [("http://e.com/a", 2, 3), ("http://e.com/b", 3, 1)]


def test_pipeline_url_dedup_stage(spark):
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "http://a.com/x?utm_source=s"),
            (2, "different text here", "HTTP://WWW.A.com/x"),  # same canonical as 1
            (3, "third doc text", "http://b.com/y"),
        ],
        "doc_id long, text string, url string",
    )
    cfg = CorpusConfig(url_col="url", exact=False)
    prep = prepare_corpus(docs, cfg)
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1, 3]  # min-id keeper per canonical url
    names = [n for n, _ in prep.stages]
    assert names[1] == "url_dedup"  # first stage after input
    # funnel accounting sees the drop
    funnel = prep.funnel()
    assert funnel["input"] == 3 and funnel["url_dedup"] == 2


def test_stream_url_dedup_first_arrival_wins(spark, tmp_path):
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import (
        read_parquet_stream,
        stream_url_dedup,
    )

    src = str(tmp_path / "url_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02"]
            ).astype("datetime64[us]"),
            "url": ["http://a.com/x?utm_source=s", "http://b.com/y"],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "doc_id": [3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 00:10:01"]
            ).astype("datetime64[us]"),
            # 3 canonicalizes equal to doc 1 -> dropped; 4 is new
            "url": ["HTTP://WWW.A.com:80/x", "http://c.com/z"],
        }
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = stream_url_dedup(sdf, "ts", "url", lateness="1 hour")
    name = "url_dedup_stream"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert kept == [1, 2, 4]
    # the helper column never leaks into the output schema
    assert "__curl__" not in spark.sql(f"SELECT * FROM {name}").columns


def test_stream_pipeline_applies_url_dedup(spark, tmp_path):
    """prepare_corpus_stream with url_col drops canonical re-crawls and
    matches the batch stage on arrival-ordered ids."""
    import pandas as pd

    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus, prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        (1, "alpha beta gamma delta", "http://a.com/x?utm_source=s"),
        (2, "different text here now", "HTTP://WWW.A.com/x"),
        (3, "third doc text body", "http://b.com/y"),
    ]
    src = str(tmp_path / "p_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]
            ).astype("datetime64[us]"),
            "text": [r[1] for r in rows],
            "url": [r[2] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")

    cfg = CorpusConfig(url_col="url", exact=False)
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    name = "url_pipe_stream"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    stream_kept = sorted(r["doc_id"] for r in spark.sql(f"SELECT * FROM {name}").collect())

    batch_docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    batch_kept = sorted(
        r["doc_id"] for r in prepare_corpus(batch_docs, cfg).docs.select("doc_id").collect()
    )
    assert stream_kept == batch_kept == [1, 3]


def test_pipeline_url_dedup_keeps_all_null_url_docs(spark):
    """Docs WITHOUT a url must all survive the url_dedup stage — a null
    canonical is 'address unknown', not 'the same address'."""
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    docs = spark.createDataFrame(
        [
            (1, "one text", "http://a.com/x"),
            (2, "two text", "HTTP://a.com/x"),  # dup of 1
            (3, "three text", None),
            (4, "four text", None),
        ],
        "doc_id long, text string, url string",
    )
    prep = prepare_corpus(docs, CorpusConfig(url_col="url", exact=False))
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1, 3, 4]


def test_stream_url_dedup_keeps_all_null_url_rows(spark, tmp_path):
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import (
        read_parquet_stream,
        stream_url_dedup,
    )

    src = str(tmp_path / "null_url_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01"] * 4
            ).astype("datetime64[us]"),
            "url": ["http://a.com/x", "HTTP://a.com/x", None, None],
        }
    ).to_parquet(src + "/a.parquet")
    schema = spark.read.parquet(src).schema
    out = stream_url_dedup(read_parquet_stream(spark, src, schema), "ts", "url")
    q = (
        out.writeStream.format("memory").queryName("null_url_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM null_url_stream").collect())
    # both null-url rows kept; one of the two dup urls kept
    assert set(kept) >= {3, 4} and len(kept) == 3


def test_canonical_url_idempotent_property(spark):
    """canonical(canonical(u)) == canonical(u): the output is a fixed
    point, so re-canonicalizing landed data never changes keys —
    generated over the full messy-feature cross product."""
    import itertools

    urls = []
    for scheme, www, host, port, slash, q, frag in itertools.product(
        ("http://", "HTTP://", "https://"),
        ("", "www.", "WWW."),
        ("ex.com", "Sub.EX.com"),
        ("", ":80", ":443", ":8080"),
        ("", "/"),
        ("", "?b=2&a=1", "?utm_source=x", "?utm_source=x&a=1"),
        ("", "#frag"),
    ):
        urls.append(f"{scheme}{www}{host}{port}/p{slash}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert bad == [], bad[:5]


def test_blank_urls_treated_as_missing(spark):
    """'' is the common SQL convention for a missing url: blank-url
    docs must all survive (batch + the operator itself excludes them
    from groups)."""
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    docs = spark.createDataFrame(
        [
            (1, "one", "http://a.com/x"),
            (2, "two", ""),
            (3, "three", "  "),
            (4, "four", ""),
        ],
        "doc_id long, text string, url string",
    )
    prep = prepare_corpus(docs, CorpusConfig(url_col="url", exact=False))
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1, 2, 3, 4]
    # the reporting operator excludes missing addresses from groups
    assert url_dedup(docs).count() == 1


def test_blank_canonical_urls_survive_pipeline(spark):
    """Regression: urls that are non-blank RAW but canonicalize to ''
    ('#frag', '/', '?utm_source=x') once entered the dedup branch yet
    never appeared in keepers — the left_semi dropped them ENTIRELY.
    The shared usable_url predicate (canonical-form test) keeps all of
    them, in batch and streaming alike."""
    import os

    import pandas as pd

    from mysql_to_s3_spark.operators.text import usable_url
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus
    from mysql_to_s3_spark.streaming.stream_extract import (
        read_parquet_stream,
        stream_url_dedup,
    )

    rows = [
        (1, "one", "http://a.com/x"),
        (2, "two", "#frag"),
        (3, "three", "/"),
        (4, "four", "?utm_source=x"),
        (5, "five", "HTTP://a.com/x"),  # true dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    # the predicate itself
    flags = {r["doc_id"]: r["u"] for r in docs.select(
        "doc_id", usable_url(F.col("url")).alias("u")).collect()}
    assert flags == {1: True, 2: False, 3: False, 4: False, 5: True}
    prep = prepare_corpus(docs, CorpusConfig(url_col="url", exact=False))
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1, 2, 3, 4]
    # operator: only the usable-url group is reported
    got = url_dedup(docs).collect()
    assert len(got) == 1 and got[0]["n_dupes"] == 2

    import pandas as pd
    import tempfile

    src = tempfile.mkdtemp(prefix="blank_canon_stream_")
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "url": [r[2] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    q = (
        stream_url_dedup(sdf, "ts", "url")
        .writeStream.format("memory").queryName("blank_canon_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    skept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM blank_canon_t").collect())
    assert set(skept) >= {2, 3, 4} and len(skept) == 4


# ---------------------------------------------------------------- r9s3:
# RefinedWeb-style URL blocklist + word blocklist


def test_url_host_and_suffixes(spark):
    from mysql_to_s3_spark.operators.text import host_suffixes, url_host

    cases = [
        ("https://WWW.Sub.Example.COM:8080/a?b=1#f", "sub.example.com"),
        ("http://user:pw@Ads.Net/x", "ads.net"),
        ("https://example.com", "example.com"),
        ("ftp://Files.example.org:21/", "files.example.org"),
        ("no scheme here", None),
        ("/relative/path", None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: (r["h"], r["s"])
        for r in df.select(
            "i",
            url_host(F.col("url")).alias("h"),
            host_suffixes(url_host(F.col("url"))).alias("s"),
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        h, sufs = got[i]
        assert h == want, (i, h, want)
        if want is None:
            assert sufs == []
        else:
            labels = want.split(".")
            assert sufs == [".".join(labels[j:]) for j in range(len(labels))]


def test_url_blocked_subdomain_semantics(spark):
    from mysql_to_s3_spark.operators.text import url_blocked

    urls = [
        (1, "https://ads.tracker.net/x"),     # blocked via parent tracker.net
        (2, "https://tracker.net/x"),          # blocked exactly
        (3, "https://nottracker.net/x"),       # NOT blocked (string suffix != domain suffix)
        (4, "https://tracker.net.evil.com/x"), # NOT blocked (tracker.net is not a suffix chain)
        (5, "https://clean.org/x"),
        (6, None),                             # address unknown -> kept
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    flag = url_blocked(F.col("url"), ("tracker.net",))
    got = {r["doc_id"]: r["b"] for r in df.select("doc_id", flag.alias("b")).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False, 6: False}
    # empty blocklist blocks nothing
    none_blocked = df.filter(url_blocked(F.col("url"), ())).count()
    assert none_blocked == 0


def test_url_blocklist_screen_matches_literal_form(spark):
    from mysql_to_s3_spark.operators.dedup import url_blocklist_screen
    from mysql_to_s3_spark.operators.text import url_blocked

    rows = [
        (i, f"https://{'deep.' if i % 3 == 0 else ''}h{i % 5}.site{i % 4}.com/p{i}")
        for i in range(60)
    ] + [(100, None), (101, "not a url")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = ("site1.com", "h2.site2.com")
    hosts = spark.createDataFrame([(h,) for h in bl], "host string")
    screened = sorted(
        r["doc_id"] for r in url_blocklist_screen(df, hosts).select("doc_id").collect()
    )
    literal = sorted(
        r["doc_id"]
        for r in df.filter(~url_blocked(F.col("url"), bl)).select("doc_id").collect()
    )
    assert screened == literal and 100 in screened and 101 in screened
    # both joins are equi-joins — never a nested-loop contains() scan
    plan = url_blocklist_screen(df, hosts)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan


def test_blockword_frac_and_pipeline_gates(spark, tmp_path):
    import os

    import pandas as pd
    import pytest

    from mysql_to_s3_spark.operators.text import blockword_frac, words
    from mysql_to_s3_spark.pipeline import (
        CorpusConfig,
        PipelineError,
        prepare_corpus,
        prepare_corpus_stream,
    )
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        (1, "https://good.org/a", "ordinary prose with plain words"),
        (2, "https://ads.bad.net/b", "ordinary prose with plain words"),   # url-blocked
        (3, "https://good.org/c", "one SPAM word in ten total making it ten percent"),
        (4, "https://good.org/d", "spam spam spam heavy doc"),             # word-blocked
        (5, None, "no address but fine text"),                             # kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {
        r["doc_id"]: r["bf"]
        for r in df.select(
            "doc_id", F.round(blockword_frac(words(F.col("text")), ("SPAM",)), 6).alias("bf")
        ).collect()
    }
    assert got[1] == 0.0 and abs(got[3] - 0.1) < 1e-9 and got[4] == 0.6

    cfg = CorpusConfig(
        exact=False,
        url_col="url",
        url_blocklist=("bad.net",),
        block_words=("spam",),
        max_blockword_frac=0.15,
    )
    prep = prepare_corpus(df, cfg)
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [1, 3, 5]
    names = [n for n, _ in prep.stages]
    assert names.index("url_blocklist") < names.index("url_dedup")
    assert "blockwords" in names

    # url_blocklist without url_col refuses at plan-build time
    with pytest.raises(PipelineError, match="url_blocklist requires url_col"):
        prepare_corpus(df, CorpusConfig(exact=False, url_blocklist=("x.com",)))

    # streaming form applies the identical gates
    src = str(tmp_path / "urlbl_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "url": [r[1] for r in rows],
            "text": [r[2] for r in rows],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("urlbl_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    skept = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM urlbl_stream_t").collect()
    )
    assert skept == kept


def test_url_host_ipv6_bracket_authority(spark):
    from mysql_to_s3_spark.operators.text import url_host

    cases = [
        ("https://[2001:db8::1]/page", "2001:db8::1"),
        ("http://user@[::1]:8080/x", "::1"),
        ("https://plain.example.com/x", "plain.example.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["h"] for r in df.select("i", url_host(F.col("url")).alias("h")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])
