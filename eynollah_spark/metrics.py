"""Pipeline metrics: accumulators + a per-partition lineage table.

North-rule requirement: "per-partition checkpoints in Iceberg with
lineage and counters (turns in/out, spans emitted, bytes parsed)
recorded per partition". Reference analog: the per-stage wall-clock
logs and `len(boxes)` diagnostics (eynollah.py:2093, 2309-2339).

Two complementary mechanisms:

- **job-level accumulators** (`ExtractMetrics`): cheap, updated inside
  the kernel's Arrow batches, readable on the driver after any action;
  at-least-once, so a retried task counts its batches twice;
- **per-partition metrics rows** (`partition_metrics`): a DataFrame
  computed relationally from the spans output, in the shape of the
  metrics table of FIXTURES.md §3. Nothing in `jobs/` writes that
  table yet.

`bytes_parsed` counts UTF-8 bytes of `text`, not characters.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


@dataclass
class ExtractMetrics:
    turns_in: object
    spans_emitted: object
    bytes_parsed: object

    @classmethod
    def create(cls, spark: SparkSession) -> "ExtractMetrics":
        sc = spark.sparkContext
        return cls(
            turns_in=sc.accumulator(0),
            spans_emitted=sc.accumulator(0),
            bytes_parsed=sc.accumulator(0),
        )

    def __getitem__(self, key):  # kernel uses dict-style access
        return getattr(self, key)

    def snapshot(self) -> dict:
        return {
            "turns_in": self.turns_in.value,
            "spans_emitted": self.spans_emitted.value,
            "bytes_parsed": self.bytes_parsed.value,
        }


def partition_metrics(spans: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §3 metrics schema),
    computed with a single narrow aggregation over spark_partition_id().
    """
    return (
        spans.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count_distinct("conv_id", "turn_idx").alias("turns_out"),
            F.count(F.lit(1)).alias("spans_emitted"),
            F.sum(F.octet_length("text")).alias("bytes_parsed"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )

