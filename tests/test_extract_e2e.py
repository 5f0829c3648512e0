"""End-to-end Extract orchestrator: batch-key assignment, JSON-lines
writes, checkpoint/resume, notify hook."""

import glob
import json
import os

import pytest

from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig, read_checkpoint
from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan
from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables


def _setup(spark, tmp_path):
    cfg = SnowflakeConfig(
        fact_table="fact_table",
        show_foreign_keys=False,
        null_values=["-", "unknown", ""],
        reference_only=["inner1.value", "inner2.value"],
    )
    plan = build_plan(TABLES_META, RELATIONS, cfg)
    extract_cfg = ExtractConfig(
        field="id",
        start=0,
        batch=5,  # 5 fact rows per sub-batch
        destination=str(tmp_path / "out"),
        last=str(tmp_path / "extract.last"),
    )
    return Extract(build_tables(spark), plan, cfg, extract_cfg)


def _read_docs(path):
    docs = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            docs += [json.loads(line) for line in fh if line.strip()]
    return docs


def test_extract_run_writes_batches_and_checkpoint(spark, tmp_path):
    ex = _setup(spark, tmp_path)
    notified = []
    written = ex.run(notify=notified.append)
    # 12 fact rows, batch size 5 -> keys 0.0, 0.1, 0.2
    assert [os.path.basename(p) for p in written] == ["0.0", "0.1", "0.2"]
    assert [n["key"] for n in notified] == ["0.0", "0.1", "0.2"]

    all_docs = []
    for p in written:
        all_docs += _read_docs(p)
    assert len(all_docs) == 12
    ids = sorted(d["fact_table"]["id"] for d in all_docs)
    assert ids == [10, 11, 12, 13, 15, 16, 17, 18, 19, 20, 21, 22]
    # every doc carries the etl lineage envelope
    assert all("etl" in d and d["etl"]["id"] for d in all_docs)

    cp = read_checkpoint(str(tmp_path / "extract.last"))
    assert cp is not None and tuple(cp[0]) == (0, 2)
    # first_value is the minimum fact id of the last written batch
    assert cp[1] == min(d["fact_table"]["id"] for d in _read_docs(written[-1])) == 21


def test_extract_resume_skips_done_batches(spark, tmp_path):
    ex = _setup(spark, tmp_path)
    ex.run()
    # a fresh run with the checkpoint present writes nothing new
    again = ex.run()
    assert again == []


def test_checkpoint_write_is_atomic(tmp_path, monkeypatch):
    """A write that dies mid-dump leaves the previous checkpoint readable."""
    from mysql_to_s3_spark.sources import extract

    path = str(tmp_path / "extract.last")
    extract.write_checkpoint(path, (0, 1), 16)

    def partial_dump(obj, f):
        f.write('{"start_point": [0,')
        raise OSError("killed mid-write")

    monkeypatch.setattr(extract.json, "dump", partial_dump)
    with pytest.raises(OSError):
        extract.write_checkpoint(path, (0, 2), 21)
    assert read_checkpoint(path) == ((0, 1), 16)


# -- multi-partition sink round-trip: batch-key naming, gzip, scrub
# at partition count > 1 (round-3 verdict item 5) --


def test_multibatch_multipartition_sink_roundtrip(spark, tmp_path):
    """Extract.run writes N>1 batch-key-named batches from a >1-partition
    fact; reading every batch back (plain + the gzip/typed variants)
    reproduces collect_docs' scrubbed documents exactly."""
    import json

    from mysql_to_s3_spark.sinks.json_sink import collect_docs, write_json_lines
    from mysql_to_s3_spark.sinks.typed_json import untyped, write_typed_json_lines
    from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan, doc_frame
    from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables

    tables = build_tables(spark)
    tables["fact_table"] = tables["fact_table"].repartition(4)
    cfg = SnowflakeConfig(
        fact_table="fact_table",
        null_values=["-", "unknown", ""],
        reference_only=["inner1", "inner2"],
    )
    plan = build_plan(TABLES_META, RELATIONS, cfg)
    dest = str(tmp_path / "out")
    ex = Extract(
        tables, plan, cfg,
        ExtractConfig(field="id", start=10, batch=5, destination=dest),
    )
    written = ex.run()
    # 12 fact rows (ids 10..22) in batches of 5 -> 3 batch-key paths
    assert len(written) == 3
    assert sorted(p.rsplit("/", 1)[1] for p in written) == ["0.0", "0.1", "0.2"]

    def read_docs(path):
        lines = [r["value"] for r in spark.read.text(path).collect()]
        return [json.loads(ln) for ln in lines]

    got = []
    for p in written:
        for d in read_docs(p):
            assert d["etl"]["id"] == p.rsplit("/", 1)[1]  # lineage carries the batch key
            got.append(d["fact_table"])
    want_rows = collect_docs(doc_frame(tables, plan, cfg, ids=list(range(10, 23))), "fact_table")
    want = [w["fact_table"] for w in want_rows]
    keyed = lambda docs: sorted(docs, key=lambda d: json.dumps(d, sort_keys=True))
    assert keyed(got) == keyed(want)

    # gzip + partitions > 1 through the plain sink
    docs_df = doc_frame(tables, plan, cfg, ids=list(range(10, 23))).repartition(4)
    gz = str(tmp_path / "gz")
    write_json_lines(docs_df, gz, "fact_table", gzip=True)
    import glob

    parts = glob.glob(gz + "/part-*.txt.gz")
    assert len(parts) > 1  # really multi-partition, really gzip
    got_gz = [d["fact_table"] for d in read_docs(gz)]
    assert keyed(got_gz) == keyed(want)

    # typed-JSON sink on the same multi-partition frame: encode->untype
    # round-trips the scrubbed docs
    tj = str(tmp_path / "typed")
    write_typed_json_lines(docs_df, tj, "fact_table")
    got_tj = [untyped(d) for d in read_docs(tj)]
    # scrub drops nothing typed adds; untyped({}) == {} matches scrubbed-None docs
    assert keyed(got_tj) == keyed([w if w is not None else {} for w in want])
