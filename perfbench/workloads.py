"""The three workloads. Each drives one public entry point of the package
from a single client thread (closed loop: the next operation starts when
the previous one returned).

A workload has five phases, called by ``run.py``:

- ``generate(seed, dir)``: write the seeded input files. This is the
  benchmark's own work, so it is not timed.
- ``stage(seed, dir)``: hand the inputs to the program (table loads,
  plan/config construction). Timed as part of ``setup_s``.
- ``warmup(inputs)``: work a long-lived user would already have paid.
- ``timed(inputs, seconds)``: whole operations until ``seconds`` passed.
- ``check(inputs, result)``: correctness, outside the timed window; the
  count of failed operations it returns feeds ``failed``.

``Result.ops`` holds one latency per completed operation, ``Result.failed``
the operations that raised, ``Result.items`` the units of work the
throughput counts.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from dataclasses import dataclass, field

import gen


@dataclass
class Result:
    ops: list[float] = field(default_factory=list)  # seconds per operation
    items: int = 0  # queries / fact docs written / input docs
    wall_s: float = 0.0  # wall time of the operations counted in `items`
    failed: int = 0  # operations that raised
    extra: dict = field(default_factory=dict)  # workload-specific figures


def _duck(data_dir: str, tables: list[str]):
    import duckdb  # the checks' oracle only: kept out of the session start

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ---------------------------------------------------------------------------
# jx_mixed


def _norm(v):
    """The catalog's float-rounding convention: 6 decimals, fewer for big
    magnitudes (6dp on ~1e9 asks for more digits than a double holds)."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 2) if abs(v) >= 1e6 else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _row_hash(rows) -> str:
    import hashlib

    canon = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def _shaped_rows(jx: dict, res) -> list[tuple]:
    """Rows of a run result: a DataFrame collect, a format=table dict, or
    a format=cube dict flattened to (edge coordinates..., selects...)."""
    if isinstance(res, list):
        return [tuple(r) for r in res]
    if res["meta"]["format"] == "table":
        return [tuple(r) for r in res["data"]]
    parts = [[p["value"] for p in e["domain"]["partitions"]] for e in res["edges"]]
    names = [s["name"] for s in jx["select"]]
    rows = []
    for i, a in enumerate(parts[0]):
        for j, b in enumerate(parts[1]):
            rows.append((a, b, *[res["data"][n][i][j] for n in names]))
    return rows


class JxMixed:
    """A seeded stream of JX queries over the star schema, issued one
    after another; every round holds each template once."""

    tables = ["region", "nation", "customer", "orders", "lineitem"]

    def __init__(self, spark):
        self.spark = spark

    def generate(self, seed: int, data_dir: str) -> None:
        gen.write_tables(data_dir, seed, gen.SIZES["orders"])

    def stage(self, seed: int, data_dir: str) -> dict:
        from pyspark.sql import functions as F

        from mysql_to_s3_spark.sources import registry

        # the nested `fact` container: orders + collect_list(lineitem)
        orders = registry.load_table(self.spark, data_dir, "orders")
        items = registry.load_table(self.spark, data_dir, "lineitem")
        children = items.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))).alias("items")
        )
        fact = orders.join(children, orders.o_orderkey == children.l_orderkey, "left").drop("l_orderkey")
        return {"dir": data_dir, "containers": {"fact": fact}, "seed": seed}

    def _one(self, inputs: dict, jx: dict):
        from mysql_to_s3_spark.operators import executor
        from mysql_to_s3_spark.plans import formats

        kw = dict(spark=self.spark, sf_dir=inputs["dir"], containers=inputs["containers"])
        if jx.get("format") in ("table", "cube"):
            return formats.run_formatted(jx, **kw)
        df = executor.run(jx, **kw)
        tracer = inputs.get("tracer")
        if tracer is None:
            return df.collect()
        with tracer.span("jx.collect"):
            return df.collect()

    def warmup(self, inputs: dict) -> None:
        """None: the round runs from a fresh driver, so the templates'
        first-use costs are in it, each time on the same template (the
        round order is fixed)."""

    def timed(self, inputs: dict, seconds: float) -> Result:
        res = Result()
        answers = []
        t0 = time.perf_counter()
        rounds = 0
        while time.perf_counter() - t0 < seconds:
            for name, jx, sql in gen.jx_stream(inputs["seed"] * 1000 + rounds):
                t = time.perf_counter()
                try:
                    out = self._one(inputs, jx)
                except Exception as e:  # counted, reported, run continues
                    print(f"query {name} failed: {e!r}"[:500])
                    res.failed += 1
                    continue
                res.ops.append(time.perf_counter() - t)
                answers.append((name, jx, sql, out))
            rounds += 1
        res.wall_s = time.perf_counter() - t0
        res.items = len(answers)
        res.extra["answers"] = answers
        return res

    def check(self, inputs: dict, res: Result) -> int:
        con = _duck(inputs["dir"], self.tables)
        bad = 0
        for name, jx, sql, out in res.extra.pop("answers"):
            want = _row_hash(con.execute(sql).fetchall())
            if _row_hash(_shaped_rows(jx, out)) != want:
                print(f"query {name} mismatch vs DuckDB: {json.dumps(jx)[:300]}")
                bad += 1
        con.close()
        return bad


# ---------------------------------------------------------------------------
# snowflake_extract

EXTRACT_BATCH = 800
EXTRACT_ORDERS = gen.SIZES["extract_orders"]


class _TimedQueue:
    """File-queue notify that stamps each message's arrival time."""

    def __init__(self, path: str):
        from mysql_to_s3_spark.sinks.notify import FileQueue

        self.q = FileQueue(path)
        self.stamps: list[float] = []

    def add(self, msg: dict) -> None:
        self.q.add(msg)
        self.stamps.append(time.perf_counter())


class SnowflakeExtract:
    """build_plan + Extract.run over every order: orders nest customer ->
    nation -> region dims and a lineitem child array, written as JSON-lines
    keyset batches with a checkpoint and a file-queue notify, followed by
    a resume run() that must write nothing."""

    tables = ["region", "nation", "customer", "orders", "lineitem"]

    def __init__(self, spark):
        self.spark = spark

    def generate(self, seed: int, data_dir: str) -> None:
        gen.write_tables(data_dir, seed, EXTRACT_ORDERS)

    def stage(self, seed: int, data_dir: str) -> dict:
        from mysql_to_s3_spark.sources import registry, snowflake

        tabs = {t: registry.load_table(self.spark, data_dir, t) for t in self.tables}
        meta = [
            snowflake.TableMeta("orders", tabs["orders"].columns, ["o_orderkey"]),
            snowflake.TableMeta("customer", tabs["customer"].columns, ["c_custkey"]),
            snowflake.TableMeta("nation", tabs["nation"].columns, ["n_nationkey"]),
            snowflake.TableMeta("region", tabs["region"].columns, ["r_regionkey"]),
            snowflake.TableMeta("lineitem", tabs["lineitem"].columns, ["l_orderkey", "l_linenumber"]),
        ]
        rels = [
            snowflake.Relation("orders_cust", "orders", ["o_custkey"], "customer", ["c_custkey"]),
            snowflake.Relation("cust_nation", "customer", ["c_nationkey"], "nation", ["n_nationkey"]),
            snowflake.Relation("nation_region", "nation", ["n_regionkey"], "region", ["r_regionkey"]),
            snowflake.Relation("items_order", "lineitem", ["l_orderkey"], "orders", ["o_orderkey"]),
        ]
        cfg = snowflake.SnowflakeConfig(fact_table="orders")
        return {"dir": data_dir, "tables": tabs, "meta": meta, "rels": rels, "cfg": cfg, "seed": seed}

    def warmup(self, inputs: dict) -> None:
        """None: an extract is a batch job that pays its cold start on
        every scheduled run, so the timed run includes it."""

    def _extract(self, inputs: dict, root: str):
        from mysql_to_s3_spark.sources import snowflake
        from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig

        plan = snowflake.build_plan(inputs["meta"], inputs["rels"], inputs["cfg"])
        ex = Extract(
            inputs["tables"], plan, inputs["cfg"],
            ExtractConfig(
                field="o_orderkey", start=0, batch=EXTRACT_BATCH,
                destination=os.path.join(root, "out"),
                last=os.path.join(root, "checkpoint.json"),
                source_name="orders",
            ),
        )
        q = _TimedQueue(os.path.join(root, "queue.jsonl"))
        listed: list[float] = []
        batches = ex.batches

        def stamped_batches():
            out = batches()
            listed.append(time.perf_counter())
            return out

        ex.batches = stamped_batches
        return ex, q, listed

    def timed(self, inputs: dict, seconds: float) -> Result:
        res = Result(extra={"runs": [], "resume_s": []})
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds:
            root = os.path.join(inputs["dir"], f"extract{i}")
            t = time.perf_counter()
            try:
                ex, q, listed = self._extract(inputs, root)
                written = ex.run(notify=q)
                run_s = time.perf_counter() - t
                t = time.perf_counter()
                resumed = ex.run(notify=q)
                res.extra["resume_s"].append(time.perf_counter() - t)
            except Exception as e:
                print(f"extract failed: {e!r}"[:500])
                res.failed += 1
                i += 1
                continue
            marks = listed[:1] + q.stamps[: len(written)]
            res.ops += [b - a for a, b in zip(marks, marks[1:])]
            res.items += EXTRACT_ORDERS
            res.wall_s += run_s
            res.extra["runs"].append((root, len(written), len(resumed), len(q.q.messages())))
            i += 1
        return res

    def check(self, inputs: dict, res: Result) -> int:
        con = _duck(inputs["dir"], ["lineitem"])
        want = {
            k: (n, round(s, 6))
            for k, n, s in con.execute(
                "SELECT l_orderkey, count(*), sum(l_quantity) FROM lineitem GROUP BY 1"
            ).fetchall()
        }
        con.close()
        n_batches = math.ceil(EXTRACT_ORDERS / EXTRACT_BATCH)
        bad = 0
        for root, n_written, n_resumed, n_notes in res.extra.pop("runs"):
            seen: dict[int, int] = {}
            for batch_dir in sorted(glob.glob(os.path.join(root, "out", "*"))):
                key = os.path.basename(batch_dir)
                ok = True
                for part in glob.glob(os.path.join(batch_dir, "part-*")):
                    with open(part) as f:
                        for line in f:
                            doc = json.loads(line)
                            okey = doc["orders"]["o_orderkey"]
                            seen[okey] = seen.get(okey, 0) + 1
                            li = doc["orders"].get("lineitem")
                            li = [] if li is None else li if isinstance(li, list) else [li]
                            got = (len(li), round(sum(x["l_quantity"] for x in li), 6))
                            ok &= doc["etl"]["id"] == key == f"0.{okey // EXTRACT_BATCH}"
                            ok &= want.get(okey) == got
                bad += not ok
            if sorted(seen) != list(range(EXTRACT_ORDERS)) or set(seen.values()) != {1}:
                print("extract: order ids missing or duplicated across batch files")
                bad += 1
            if n_written != n_batches or n_notes != n_batches:
                print(f"extract: {n_written} batches written, {n_notes} notified, want {n_batches}")
                bad += 1
            if n_resumed != 0:
                print(f"extract: resume wrote {n_resumed} batches, want 0")
                bad += 1
        return bad


# ---------------------------------------------------------------------------
# corpus_prepare


class CorpusPrepare:
    """prepare_corpus with the catalog's pipeline config (quality ->
    language -> exact -> ngram near-dup -> decontam -> split), then
    write_training_shards. One operation is one pass over the staged
    corpus; it runs cold and outlasts the timed window, so a run makes
    exactly one."""

    def __init__(self, spark):
        self.spark = spark

    def generate(self, seed: int, data_dir: str) -> None:
        os.makedirs(data_dir, exist_ok=True)
        gen.write_corpus(os.path.join(data_dir, "documents.parquet"), seed)

    def stage(self, seed: int, data_dir: str) -> dict:
        from pyspark.sql import functions as F

        from mysql_to_s3_spark.pipeline import CorpusConfig
        from mysql_to_s3_spark.queries import _PIPE_CFG, _SPLIT_FRACTIONS
        from mysql_to_s3_spark.sources import registry

        docs = registry.spread(registry.load_table(self.spark, data_dir, "documents"))
        bench = docs.filter((F.col("doc_id") % gen.BENCH_MOD == 0) & (F.col("doc_id") < gen.BENCH_MAX))
        cfg = CorpusConfig(splits=_SPLIT_FRACTIONS, **_PIPE_CFG)
        return {"dir": data_dir, "docs": docs, "bench": bench, "cfg": cfg, "seed": seed}

    def warmup(self, inputs: dict) -> None:
        """None: corpus preparation is a batch job; its cold start is paid
        on every run, so the timed run includes it."""

    def timed(self, inputs: dict, seconds: float) -> Result:
        from mysql_to_s3_spark import pipeline

        res = Result()
        out = os.path.join(inputs["dir"], "shards")
        t = time.perf_counter()
        try:
            prep = pipeline.prepare_corpus(inputs["docs"], inputs["cfg"], bench=inputs["bench"])
            pipeline.write_training_shards(prep.docs, out, extra_cols=("split",))
        except Exception as e:
            print(f"corpus pass failed: {e!r}"[:500])
            res.failed += 1
            return res
        res.wall_s = time.perf_counter() - t
        res.ops.append(res.wall_s)
        res.items = gen.SIZES["docs"]
        res.extra["prep"] = prep
        return res

    def check(self, inputs: dict, res: Result) -> int:
        if "prep" not in res.extra:
            return 0  # the failed pass is already counted
        want = expected_kept(inputs["dir"])
        got: dict[int, str] = {}
        dups = 0
        for part in glob.glob(os.path.join(inputs["dir"], "shards", "bucket=*", "part-*")):
            with open(part) as f:
                for line in f:
                    doc = json.loads(json.loads(line)["doc"])
                    dups += doc["doc_id"] in got
                    got[doc["doc_id"]] = doc["split"]
        if got != want or dups:
            missing = sorted(set(want) - set(got))[:10]
            extra = sorted(set(got) - set(want))[:10]
            print(f"corpus: shards differ from the oracle (missing {missing}, extra {extra}, dups {dups})")
            return 1
        return 0


def _shingles(text: str, k: int = 5) -> frozenset:
    """operators.dedup.shingles / the oracle's _sql_shingles: distinct
    char k-shingles, the whole text when shorter than k."""
    return frozenset(text[i:i + k] for i in range(max(len(text) - k + 1, 1)))


def _round6(x: float) -> float:
    # DuckDB round(): half away from zero
    return math.floor(x * 1e6 + 0.5) / 1e6


def expected_kept(corpus_dir: str) -> dict[int, str]:
    """doc_id -> split of the survivors, by the catalog's pipeline_prepare
    oracle: its per-doc stages (quality, language guess, split, exact
    fingerprint) are the oracle's own DuckDB expressions; its all-pairs
    stages (0.9 Jaccard near-dup components with min-id keeper, 0.8
    containment decontamination against the bench subset) are evaluated
    over Python sets with the same arithmetic, because DuckDB's
    list_intersect all-pairs join takes minutes at this corpus size."""
    from mysql_to_s3_spark.queries import _PIPE_CFG, _SQL_FP, _text_quality_sql

    q = _PIPE_CFG
    con = _duck(corpus_dir, ["documents"])
    rows = con.execute(f"""
        WITH tq AS ({_text_quality_sql()})
        SELECT d.doc_id, d.text, {_SQL_FP} AS fp, tq.split
        FROM documents d JOIN tq USING (doc_id)
        WHERE tq.quality >= {q["min_quality"]} AND tq.lang_guess IN ('{q["languages"][0]}')
    """).fetchall()
    bench = con.execute(
        f"SELECT doc_id, text FROM documents WHERE doc_id % {gen.BENCH_MOD} = 0 AND doc_id < {gen.BENCH_MAX}"
    ).fetchall()
    con.close()
    # exact dedup: min doc_id per fingerprint
    keeper: dict[str, int] = {}
    for doc_id, _, fp, _ in rows:
        keeper[fp] = min(doc_id, keeper.get(fp, doc_id))
    ded = {doc_id: (text, split) for doc_id, text, fp, split in rows if keeper[fp] == doc_id}
    sh = {d: _shingles(t) for d, (t, _) in ded.items()}
    # near dup: Jaccard >= threshold needs the smaller set >= threshold x larger
    ids = sorted(sh, key=lambda d: len(sh[d]))
    parent = {d: d for d in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        sa = sh[a]
        for b in ids[i + 1:]:
            sb = sh[b]
            if _round6(len(sa) / len(sb)) < q["near_threshold"]:
                break  # Jaccard <= |sa|/|sb|, and later sets only grow
            inter = len(sa & sb)
            if _round6(inter / (len(sa) + len(sb) - inter)) >= q["near_threshold"]:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    nd = [d for d in ded if find(d) == d]
    bsh = [(b, _shingles(t)) for b, t in bench]
    kept = {}
    for d in nd:
        sd = sh[d]
        if not any(b != d and _round6(len(sd & bs) / len(bs)) >= q["decontam_threshold"] for b, bs in bsh):
            kept[d] = ded[d][1]
    return kept


WORKLOADS = {
    "jx_mixed": JxMixed,
    "snowflake_extract": SnowflakeExtract,
    "corpus_prepare": CorpusPrepare,
}
