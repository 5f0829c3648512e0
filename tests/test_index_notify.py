"""operators.index (hash/unique index, id semi-join) and sinks.notify."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.index import IndexError_, hash_index, semi_join_ids, unique_index
from mysql_to_s3_spark.sinks.notify import CallbackQueue, FileQueue, notify_payload
from mysql_to_s3_spark.sources.registry import load_table


def test_hash_index_groups_members(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    idx = hash_index(li, ["l_orderkey"])
    row = idx.filter(F.col("l_orderkey") == idx.select(F.min("l_orderkey")).first()[0]).first()
    assert row["n_members"] == len(row["members"])
    assert idx.agg(F.sum("n_members")).first()[0] == li.count()


def test_unique_index_accepts_unique_keys(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = unique_index(orders, ["o_orderkey"])
    assert out.count() == orders.count()


def test_unique_index_raises_on_duplicates(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(IndexError_, match="duplicate keys"):
        unique_index(li, ["l_orderkey"])


def test_unique_index_first_mode_dedupes(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    out = unique_index(li, ["l_orderkey"], fail_on_dup=False)
    assert out.count() == li.select("l_orderkey").distinct().count()
    assert sorted(out.columns) == sorted(li.columns)


def test_semi_join_ids_list_and_frame(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    by_list = semi_join_ids(orders, [1, 2, 3], "o_orderkey")
    assert by_list.count() == orders.filter(F.col("o_orderkey").isin(1, 2, 3)).count()
    ids_df = orders.select("o_orderkey").filter(F.col("o_orderkey") < 10)
    by_frame = semi_join_ids(orders, ids_df, "o_orderkey")
    assert by_frame.count() == orders.filter(F.col("o_orderkey") < 10).count()


def test_notify_payload_shape_and_queues(tmp_path):
    msg = notify_payload("bucket-x", "3.7", now=86400.0)
    assert msg == {
        "bucket": "bucket-x",
        "key": "3.7",
        "timestamp": 86400.0,
        "date/time": "1970-01-02 00:00:00",
    }
    q = FileQueue(str(tmp_path / "queue.jsonl"))
    q.add(msg)
    q.add(notify_payload("bucket-x", "3.8", now=90000.0))
    assert [m["key"] for m in q.messages()] == ["3.7", "3.8"]

    seen = []
    CallbackQueue(seen.append).add(msg)
    assert seen == [msg]


def test_extract_notifies_per_batch(spark, sf_dir, tmp_path):
    from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, TableMeta, build_plan

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 40)
    meta = [TableMeta("orders", orders.columns, ["o_orderkey"])]
    plan = build_plan(meta, [], SnowflakeConfig(fact_table="orders"))
    ex = Extract(
        {"orders": orders},
        plan,
        SnowflakeConfig(fact_table="orders"),
        ExtractConfig(field="o_orderkey", batch=20, destination=str(tmp_path / "out")),
    )
    q = FileQueue(str(tmp_path / "q.jsonl"))
    written = ex.run(notify=q)
    msgs = q.messages()
    assert len(msgs) == len(written) > 0
    assert all(set(m) == {"bucket", "key", "timestamp", "date/time"} for m in msgs)
