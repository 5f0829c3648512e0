"""Seeded input generators for the benchmark workloads.

The generator is the only code that sees ``--seed``: it writes parquet
tables and hands the program nothing but those files plus the generated
query stream / configs. The same seed always yields byte-identical inputs.

Three generators:

- ``write_tables``: a TPC-H-shaped star schema (region, nation, customer,
  orders, lineitem) with the column names and types of the package's
  testdata, at a row count the run budget allows.
- ``jx_stream``: one round of (name, JX query dict, DuckDB SQL) triples
  drawn from templates that mirror the catalog's JX rows. A round holds
  each template once in a fixed order, so the work mix is seed-stable;
  only the constants vary.
- ``write_corpus``: a document corpus with fixed shares of injected exact
  and near duplicates and of benchmark-contaminated docs.

Sizes live in ``SIZES`` so the README and the workloads read one place.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # star schema: orders rows (jx_mixed, snowflake_extract); ~4 lineitems
    # per order
    "orders": 20_000,
    "extract_orders": 4_000,
    "customers": 2_000,
    # documents per corpus pass
    "docs": 500,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1992, 1, 1)
N_DAYS = 2557  # 1992-01-01 .. 1998-12-31


def _ts(days: np.ndarray) -> pa.Array:
    us = (np.datetime64(EPOCH, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, n_orders: int) -> None:
    """Write the star schema with ``n_orders`` orders under ``out_dir``."""
    n_cust = SIZES["customers"]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
    })
    odays = rng.integers(0, N_DAYS, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)].tolist(),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)].tolist(),
    })
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per)
    n_li = len(okey)
    starts = np.cumsum(per) - per
    lnum = np.arange(n_li) - np.repeat(starts, per) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 122, n_li)),
    })


# ---------------------------------------------------------------------------
# JX query stream


def _day(rng: random.Random, lo: int = 0, hi: int = N_DAYS - 120) -> str:
    return (EPOCH + dt.timedelta(days=rng.randint(lo, hi))).strftime("%Y-%m-%d")


def _key_range(r: random.Random) -> tuple[int, int]:
    n = SIZES["orders"]
    hi = r.randint(n // 20, n // 10)
    return hi - n // 40, hi


def _t_setop(r: random.Random):
    q = r.randint(20, 45)
    lo, hi = _key_range(r)
    jx = {
        "from": "lineitem",
        "where": {"and": [{"gt": {"l_quantity": q}}, {"gte": {"l_orderkey": lo}}, {"lt": {"l_orderkey": hi}}]},
        "select": ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 100_000,
    }
    sql = f"""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
              WHERE l_quantity > {q} AND l_orderkey >= {lo} AND l_orderkey < {hi}
              ORDER BY l_orderkey, l_linenumber"""
    return jx, sql


def _t_groupby(r: random.Random):
    day = _day(r, 1500)
    jx = {
        "from": "lineitem",
        "groupby": ["l_returnflag", "l_linestatus"],
        "select": [
            {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
            {"name": "sum_disc", "value": {"mul": ["l_extendedprice", {"sub": [1, "l_discount"]}]}, "aggregate": "sum"},
            {"name": "avg_disc", "value": "l_discount", "aggregate": "avg"},
            {"name": "n", "value": ".", "aggregate": "count"},
        ],
        "where": {"lte": [{"unix": "l_shipdate"}, {"date": day}]},
    }
    sql = f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                     sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
                     avg(l_discount) AS avg_disc, count(*) AS n
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day}'
              GROUP BY 1, 2"""
    return jx, sql


def _t_scalar(r: random.Random):
    p = r.choice([0.5, 0.75, 0.9, 0.95])
    flag = r.choice(["A", "N", "R"])
    jx = {
        "from": "lineitem",
        "where": {"eq": {"l_returnflag": flag}},
        "select": [
            {"name": "n", "value": "l_quantity", "aggregate": "count"},
            {"name": "total", "value": "l_quantity", "aggregate": "sum"},
            {"name": "lo", "value": "l_extendedprice", "aggregate": "min"},
            {"name": "hi", "value": "l_extendedprice", "aggregate": "max"},
            {"name": "sd", "value": "l_quantity", "aggregate": "std"},
            {"name": "pct", "value": "l_extendedprice", "aggregate": "percentile", "percentile": p},
        ],
    }
    sql = f"""SELECT count(l_quantity) AS n, sum(l_quantity) AS total,
                     min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
                     stddev_pop(l_quantity) AS sd,
                     quantile_cont(l_extendedprice, {p}) AS pct
              FROM lineitem WHERE l_returnflag = '{flag}'"""
    return jx, sql


def _t_edges_default(r: random.Random):
    q = r.randint(5, 40)
    jx = {
        "from": "lineitem",
        "where": {"gt": {"l_quantity": q}},
        "edges": [
            {"name": "flag", "value": "l_returnflag", "allowNulls": False},
            {"name": "status", "value": "l_linestatus", "allowNulls": False},
        ],
        "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
        "limit": 1000,
    }
    sql = f"""WITH f AS (SELECT DISTINCT l_returnflag AS flag FROM lineitem WHERE l_quantity > {q}),
                   s AS (SELECT DISTINCT l_linestatus AS status FROM lineitem WHERE l_quantity > {q}),
                   a AS (SELECT l_returnflag AS flag, l_linestatus AS status, sum(l_quantity) AS total
                         FROM lineitem WHERE l_quantity > {q} GROUP BY 1, 2)
              SELECT f.flag, s.status, a.total FROM f CROSS JOIN s LEFT JOIN a USING (flag, status)"""
    return jx, sql


def _t_edges_set(r: random.Random):
    parts = sorted(r.sample(SEGMENTS, 3))
    bal = r.randint(0, 5000)
    jx = {
        "from": "customer",
        "where": {"gt": {"c_acctbal": bal}},
        "edges": [{
            "name": "seg", "value": "c_mktsegment", "allowNulls": True,
            "domain": {"type": "set", "partitions": parts},
        }],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    values = ", ".join(f"('{p}')" for p in parts) + ", (NULL)"
    in_list = ", ".join(f"'{p}'" for p in parts)
    sql = f"""WITH a AS (SELECT CASE WHEN c_mktsegment IN ({in_list}) THEN c_mktsegment END AS seg,
                                count(*) AS n
                         FROM customer WHERE c_acctbal > {bal} GROUP BY 1),
                   p(seg) AS (VALUES {values})
              SELECT p.seg, CAST(coalesce(a.n, 0) AS BIGINT) AS n
              FROM p LEFT JOIN a ON p.seg IS NOT DISTINCT FROM a.seg"""
    return jx, sql


def _t_edges_time(r: random.Random):
    start = _day(r, 0, N_DAYS - 400)
    end = (dt.datetime.strptime(start, "%Y-%m-%d") + dt.timedelta(days=7 * r.randint(20, 50))).strftime("%Y-%m-%d")
    n_weeks = (dt.datetime.strptime(end, "%Y-%m-%d") - dt.datetime.strptime(start, "%Y-%m-%d")).days // 7
    jx = {
        "from": "orders",
        "edges": [{
            "name": "bucket", "value": "o_orderdate", "allowNulls": False,
            "domain": {"type": "time", "min": start, "max": end, "interval": "week"},
        }],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    sql = f"""WITH a AS (SELECT TIMESTAMP '{start}' + INTERVAL 1 SECOND *
                                (604800 * CAST(floor(date_diff('second', TIMESTAMP '{start}', o_orderdate) / 604800) AS BIGINT)) AS bucket,
                                count(*) AS n
                         FROM orders WHERE o_orderdate >= TIMESTAMP '{start}' AND o_orderdate < TIMESTAMP '{end}'
                         GROUP BY 1),
                   p AS (SELECT TIMESTAMP '{start}' + INTERVAL 1 SECOND * (604800 * g.x) AS bucket
                         FROM generate_series(0, {n_weeks - 1}) g(x))
              SELECT p.bucket, CAST(coalesce(a.n, 0) AS BIGINT) AS n FROM p LEFT JOIN a USING (bucket)"""
    return jx, sql


def _t_edges_range(r: random.Random):
    width = r.choice([5, 10])
    jx = {
        "from": "lineitem",
        "where": {"eq": {"l_linestatus": r.choice(["F", "O"])}},
        "edges": [{
            "name": "bucket", "value": "l_quantity", "allowNulls": False,
            "domain": {"type": "range", "min": 0, "max": 50, "interval": width},
        }],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    status = jx["where"]["eq"]["l_linestatus"]
    sql = f"""WITH a AS (SELECT CAST(floor(l_quantity / {width}) * {width} AS DOUBLE) AS bucket, count(*) AS n
                         FROM lineitem WHERE l_linestatus = '{status}' AND l_quantity >= 0 AND l_quantity < 50
                         GROUP BY 1),
                   p AS (SELECT CAST(x * {width} AS DOUBLE) AS bucket FROM generate_series(0, {50 // width - 1}) g(x))
              SELECT p.bucket, CAST(coalesce(a.n, 0) AS BIGINT) AS n FROM p LEFT JOIN a USING (bucket)"""
    return jx, sql


def _t_window(r: random.Random):
    lo, hi = _key_range(r)
    jx = {
        "from": "lineitem",
        "where": {"and": [{"gte": {"l_orderkey": lo}}, {"lt": {"l_orderkey": hi}}]},
        "window": [
            {"name": "running_qty", "value": "l_quantity", "aggregate": "sum", "edges": ["l_orderkey"],
             "sort": ["l_linenumber"], "range": {"min": None, "max": 1}},
            {"name": "seq", "edges": ["l_orderkey"], "sort": ["l_linenumber"]},
        ],
        "select": ["l_orderkey", "l_linenumber", "running_qty", "seq"],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 100_000,
    }
    sql = f"""SELECT l_orderkey, l_linenumber,
                     sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
                     row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS seq
              FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"""
    return jx, sql


def _t_nested(r: random.Random):
    price = r.randint(100_000, 400_000)
    jx = {
        "from": "fact.items",
        "select": [
            {"name": "total", "value": "l_quantity", "aggregate": "sum"},
            {"name": "n", "value": ".", "aggregate": "count"},
        ],
        "where": {"gt": {"o_totalprice": price}},
    }
    sql = f"""SELECT sum(l_quantity) AS total, count(*) AS n
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              WHERE o_totalprice > {price}"""
    return jx, sql


def _t_format_table(r: random.Random):
    seg = r.choice(SEGMENTS)
    jx = {
        "from": "customer",
        "where": {"eq": {"c_mktsegment": seg}},
        "groupby": ["c_nationkey"],
        "select": [
            {"name": "n", "value": ".", "aggregate": "count"},
            {"name": "bal", "value": "c_acctbal", "aggregate": "sum"},
        ],
        "format": "table",
    }
    sql = f"""SELECT c_nationkey, count(*) AS n, sum(c_acctbal) AS bal
              FROM customer WHERE c_mktsegment = '{seg}' GROUP BY 1"""
    return jx, sql


def _t_format_cube(r: random.Random):
    q = r.randint(5, 40)
    jx = {
        "from": "lineitem",
        "where": {"lt": {"l_quantity": q}},
        "edges": [
            {"name": "rf", "value": "l_returnflag", "allowNulls": False,
             "domain": {"type": "set", "partitions": ["A", "N", "R"]}},
            {"name": "ls", "value": "l_linestatus", "allowNulls": False,
             "domain": {"type": "set", "partitions": ["F", "O"]}},
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube",
    }
    sql = f"""WITH a AS (SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n
                         FROM lineitem WHERE l_quantity < {q} GROUP BY 1, 2),
                   p AS (SELECT rf, ls FROM (VALUES ('A'), ('N'), ('R')) r(rf),
                                            (VALUES ('F'), ('O')) s(ls))
              SELECT p.rf, p.ls, CAST(coalesce(a.n, 0) AS BIGINT) AS n FROM p LEFT JOIN a USING (rf, ls)"""
    return jx, sql


# one round of the stream, in the order the queries are sent
TEMPLATES = [
    ("setop", _t_setop),
    ("groupby", _t_groupby),
    ("scalar_pct", _t_scalar),
    ("edges_default", _t_edges_default),
    ("edges_set", _t_edges_set),
    ("edges_time", _t_edges_time),
    ("edges_range", _t_edges_range),
    ("window", _t_window),
    ("nested", _t_nested),
    ("format_table", _t_format_table),
    ("format_cube", _t_format_cube),
]


def jx_stream(seed: int) -> list[tuple[str, dict, str]]:
    """One round: every template once, in TEMPLATES order, with seeded
    constants. The order is fixed so that a template's first-use cost in a
    fresh driver lands on the same template in every run; the seed moves
    only the constants."""
    r = random.Random(seed)
    return [(name, *build(r)) for name, build in TEMPLATES]


# ---------------------------------------------------------------------------
# corpus

_TECH = (
    "key agg row scan slow fast table value part hash merge batch spark line sort "
    "window data query join order group column filter stream vector small big "
    "customer index shard token model train eval split cache plan stage task"
).split()
_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "los", "y", "es", "una", "para", "en"),
}
_PUNCT = (",", ".", ";", "!", "?", "--")
# bench subset of the catalog's decontamination oracle (doc_id % 7 = 0 AND
# doc_id < 3500): the oracle SQL hard-codes it, so the corpus honours it
BENCH_MOD, BENCH_MAX = 7, 3500
# injected shares among the docs after the first quarter
SHARES = {"exact_dup": 0.06, "near_dup": 0.06, "contaminated": 0.03}


def _doc(r: random.Random) -> tuple[str, str]:
    lang = r.choices(["en", "de", "fr", "es", "und"], weights=[60, 10, 10, 10, 10])[0]
    n = r.randint(12, 90)
    stop_p = r.uniform(0.0, 0.3) if lang != "und" else 0.0
    punct_p = r.choice([0.0, 0.0, 0.0, 0.05, 0.15])
    words = []
    for _ in range(n):
        if lang != "und" and r.random() < stop_p:
            words.append(r.choice(_STOP[lang]))
        else:
            words.append(r.choice(_TECH))
        if r.random() < punct_p:
            words.append(r.choice(_PUNCT))
    return " ".join(words), lang


def corpus_rows(seed: int) -> dict[str, list]:
    """Rows of one corpus, doc ids ``0 .. SIZES["docs"] - 1``. The first quarter
    are fresh docs (the sources later copies point back to); after it, each
    doc is an exact duplicate, a near duplicate or a contaminated copy with
    the SHARES probabilities. Bench-subset ids are always fresh docs."""
    n_docs = SIZES["docs"]
    r = random.Random(seed)
    head = n_docs // 4
    bench_ids = [b for b in range(head) if b % BENCH_MOD == 0 and b < BENCH_MAX]
    texts: list[str] = []
    langs: list[str] = []
    for doc_id in range(n_docs):
        u = r.random()
        if doc_id < head or doc_id % BENCH_MOD == 0 or u >= sum(SHARES.values()):
            text, lang = _doc(r)
        elif u < SHARES["exact_dup"]:
            # equal fingerprint: case and whitespace differ only
            src = r.randrange(head)
            text, lang = "  " + texts[src].upper().replace(" ", "   ") + " ", langs[src]
        elif u < SHARES["exact_dup"] + SHARES["near_dup"]:
            src = r.randrange(head)
            ws = texts[src].split(" ")
            ws[r.randrange(len(ws))] = r.choice(_TECH)
            text, lang = " ".join(ws) + " " + r.choice(_TECH), langs[src]
        else:
            b = r.choice(bench_ids)
            text, lang = texts[b] + " " + _doc(r)[0], langs[b]
        texts.append(text)
        langs.append(lang)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_corpus(path: str, seed: int) -> None:
    """Write one corpus parquet (schema of the testdata ``documents``
    table)."""
    rows = corpus_rows(seed)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": rows["text"],
            "lang": rows["lang"],
            "source": rows["source"],
            "n_chars": pa.array(rows["n_chars"], pa.int64()),
        }),
        path,
    )
