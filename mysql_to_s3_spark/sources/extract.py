"""Extract orchestrator: incremental, checkpointed fact-table extraction to
JSON batches (reference mysql_to_s3/extract.py:40 Extract).

The reference's thread/queue machinery (extract.py:86-118) dissolves into
Spark's scheduler: the batch loop only decides BATCH BOUNDARIES, and each
batch is one declarative doc_frame -> sink write. The reference's keyset
pagination (extract.py:156-183) becomes batch-key numbering: one listing
job assigns every fact row at or after ``start`` its counter-chain key
(``batch_key_columns``: a row_number window over the extract field) and
collects the distinct keys with each batch's minimum id; a batch's ids
are that numbered frame filtered on its key, semi-joined into doc_frame.
Checkpoint/resume keeps the reference's [start_point, first_value]
contract (extract.py:94-110,254); first_value comes from the listing.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_to_s3_spark.sinks.json_sink import etl_envelope, write_json_lines
from mysql_to_s3_spark.sources.snowflake import FactPlan, SnowflakeConfig, doc_frame
from mysql_to_s3_spark.streaming.counters import batch_key_columns


@dataclass
class ExtractConfig:
    field: str  # strictly-increasing extract column (id or timestamp)
    start: Any = 0
    batch: Any = 100  # int, or [duration, size] counter chain
    destination: str = "extract_output"
    last: str | None = None  # checkpoint file path
    source_name: str | None = None  # etl lineage source label


def key_string(batch_key: tuple) -> str:
    return ".".join(str(int(k)) for k in batch_key)


def read_checkpoint(path: str) -> tuple | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        data = json.load(f)
    return tuple(data["start_point"]), data["first_value"]


def write_checkpoint(path: str, start_point: tuple, first_value: Any) -> None:
    """Atomic: a run killed mid-write leaves the previous checkpoint."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"start_point": list(start_point), "first_value": first_value}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class Extract:
    """Batch-incremental extract over a snowflake plan.

    ``tables``: name -> DataFrame (JDBC reads or parquet).
    """

    def __init__(
        self,
        tables: dict[str, DataFrame],
        plan: FactPlan,
        snowflake: SnowflakeConfig,
        extract: ExtractConfig,
    ):
        self.tables = tables
        self.plan = plan
        self.snowflake = snowflake
        self.extract = extract

    def _keyed(self) -> DataFrame:
        """Fact rows at or after ``start``, with their batch-key columns."""
        return batch_key_columns(
            self.tables[self.plan.table].filter(F.col(self.extract.field) >= F.lit(self.extract.start)),
            self.extract.field,
            self.extract.start,
            self.extract.batch,
            tiebreak_cols=self.plan.id_columns,
        )

    def batches(self) -> list[tuple[tuple, Any]]:
        """(batch key, minimum id) of every batch present in the fact
        table, in key order — one distributed job."""
        key_cols = ["__batch0__", "__batch1__"]
        rows = (
            self._keyed()
            .groupBy(*key_cols)
            .agg(F.min(self.plan.id_columns[0]))
            .orderBy(*key_cols)
            .collect()
        )
        return [((b0, b1), first) for b0, b1, first in rows]

    def ids_for_batch(self, batch_key: tuple) -> DataFrame:
        cond = (F.col("__batch0__") == batch_key[0]) & (F.col("__batch1__") == batch_key[1])
        return self._keyed().filter(cond).select(self.plan.id_columns[0])

    def run(
        self,
        notify: Callable[[dict], None] | None = None,
        resume: bool = True,
    ) -> list[str]:
        """Extract every batch after the checkpoint; returns written paths.
        ``notify`` is the SQS-analog hook, called per batch with
        {destination, key, timestamp} (extract.py:244-251)."""
        done_after: tuple | None = None
        if resume and self.extract.last:
            cp = read_checkpoint(self.extract.last)
            if cp:
                done_after = cp[0]

        written = []
        for batch_key, first in self.batches():
            if done_after is not None and batch_key <= done_after:
                continue
            key = key_string(batch_key)
            ids_df = self.ids_for_batch(batch_key)
            docs = doc_frame(self.tables, self.plan, self.snowflake, ids_df=ids_df)
            path = os.path.join(self.extract.destination, key)
            etl = etl_envelope(
                etl_id=key,
                source={"name": self.extract.source_name or self.plan.table},
            )
            write_json_lines(docs, path, self.plan.table, etl=etl)
            written.append(path)
            if self.extract.last:
                write_checkpoint(self.extract.last, batch_key, first)
            if notify:
                from mysql_to_s3_spark.sinks.notify import notify_payload

                msg = notify_payload(bucket=self.extract.destination, key=key)
                # accept a queue object (FileQueue/CallbackQueue/SQS) or a
                # bare callable
                add = getattr(notify, "add", notify)
                add(msg)
        return written
