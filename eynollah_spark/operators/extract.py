"""The Spark extraction pipeline.

Physical shape (see SURVEY.md §3 "Spark lifecycle of the graft"):

    scan (parquet/iceberg, column-pruned to conv_id,turn_idx,role,text)
      -> mapInPandas(layout kernel)          # NARROW: no shuffle
      -> window over conv_id                 # the ONLY shuffle
           reading_order / region ids
      -> sink

The per-turn layout kernel is embarrassingly parallel, so the heavy
Python work rides on the scan partitions without any exchange; skewed
conversations cost nothing here because the kernel needs no grouping.
The single shuffle that remains (ordering + stateful-id windows over
``conv_id``) is the exact analog of the reference's multiprocessing
fan-out with index bookkeeping (eynollah.py:812-909) — except order is
restored by keys, never by arrival order.

Scale notes (100 TB / 10^12 turns):
- kernel stage: linear scan, no exchange; Arrow batch size bounds
  executor memory; job-level counters via accumulators (at-least-once:
  a retried task adds its batches again).
- window stage: hash-partitioned by conv_id; a 10^6-turn conversation
  is ~10^7 span rows in one partition — handled by Spark's external
  sort, no driver involvement. For pathological cases the salted
  variant (``extract_spans_salted``) salts only the kernel stage: it
  repartitions the turns on (conv_id, turn-hash salt), so one huge
  conversation's kernel work spreads over ``salt_buckets`` tasks, at
  the cost of one extra exchange. The id windows still run over the
  whole conversation in one ``conv_id`` partition, so a skewed
  conversation's windows run in ONE task (the external sort bounds its
  memory, not its time). AQE's skew handling does not help here:
  ``spark.sql.adaptive.skewJoin.*`` splits join partitions only, and
  there are no per-chunk windows. What the bucketed sink does is keep
  that task to the skewed conversation's own bucket (io/sinks.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    DoubleType,
    BooleanType,
)

from eynollah_spark.config import DEFAULT_CONFIG, ExtractConfig

KERNEL_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("span_idx", IntegerType()),
        StructField("region_type", StringType()),
        StructField("region_seq", IntegerType()),
        StructField("char_start", IntegerType()),
        StructField("char_end", IntegerType()),
        StructField("text", StringType()),
    ]
)

SPAN_SCHEMA = StructType(
    KERNEL_OUT_SCHEMA.fields
    + [
        StructField("reading_order", IntegerType()),
        StructField("region_id", StringType()),
        StructField("line_id", StringType()),
    ]
)

PAGE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("n_spans", IntegerType()),
        StructField("n_regions", IntegerType()),
        StructField("max_columns", IntegerType()),
        StructField("slope", DoubleType()),
        StructField("is_deskewed", BooleanType()),
        StructField("agreement_ratio", DoubleType()),
        StructField("used_binarized", BooleanType()),
        StructField("was_enhanced", BooleanType()),
    ]
)


# Executor-side lazy model cache: the broadcast is deserialized once per
# executor process, not once per task (north_rule: "model weights ...
# broadcast once per executor"; replaces the reference's per-stage
# session create/teardown, eynollah.py:513-520).
_MODEL_CACHE: dict = {}


def _bc_key(bc_cfg):
    """Stable cache key for a broadcast config, resolved on the DRIVER
    (the worker-side Broadcast object has no id): the JVM broadcast id
    is unique per broadcast for the app's lifetime. id(bc) would be
    unsafe — CPython reuses addresses after GC, which could serve a
    stale model for a different config on a long-lived executor."""
    if bc_cfg is None:
        return None
    try:
        return ("bc", int(bc_cfg._jbroadcast.id()))
    except Exception:  # non-JVM stub (tests) — fall back to the object
        return ("obj", id(bc_cfg), getattr(bc_cfg, "id", None))


def _cached_model(key, bc_cfg):
    """The executor's LineModel for one broadcast config (key from
    ``_bc_key``), built on first use."""
    from eynollah_spark.kernel.textpage import LineModel

    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = LineModel(
            bc_cfg.value if bc_cfg is not None else DEFAULT_CONFIG
        )
    return _MODEL_CACHE[key]


def _kernel_iter(bc_cfg, metrics=None):
    key = _bc_key(bc_cfg)  # captured in the task closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eynollah_spark.kernel.textpage import analyze_turns_frames

        model = _cached_model(key, bc_cfg)
        for pdf in batches:
            # one span frame per batch (none when no span survives),
            # yielded as is; downstream windows impose order
            frames = analyze_turns_frames(pdf, model)
            if metrics is not None:
                metrics["turns_in"].add(len(pdf))
                text = pa.array(pdf["text"].to_numpy(), type=pa.string(), from_pandas=True)
                metrics["bytes_parsed"].add(pc.sum(pc.binary_length(text)).as_py() or 0)
                metrics["spans_emitted"].add(sum(len(f) for f in frames))
            yield from frames

    return run


def _diag_iter(bc_cfg):
    key = _bc_key(bc_cfg)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eynollah_spark.kernel.textpage import page_diags_batch

        model = _cached_model(key, bc_cfg)
        for pdf in batches:
            yield page_diags_batch(pdf, model)

    return run


def raw_spans(
    turns: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, metrics=None
) -> DataFrame:
    """Narrow kernel stage only: per-turn spans without conversation-
    level ids. Column-prunes its input explicitly so the parquet scan
    reads exactly 4 columns."""
    spark = turns.sparkSession
    bc = spark.sparkContext.broadcast(cfg)
    pruned = turns.select("conv_id", "turn_idx", "role", "text")
    return pruned.mapInPandas(_kernel_iter(bc, metrics), schema=KERNEL_OUT_SCHEMA)


def _pad4(n):
    """``%04d`` of a positive int column without ``java.util.Formatter``
    (per-row CPU in the window task): ``lpad`` truncates past 4 digits,
    ``%04d`` never does, so numbers from 10,000 up pass through whole."""
    s = n.cast("string")
    return F.when(n < 10_000, F.lpad(s, 4, "0")).otherwise(s)


def with_order_and_ids(spans: DataFrame) -> DataFrame:
    """Conversation-level windows (SPEC §10): global reading order,
    region ids (dense_rank == the reference's stateful counter,
    utils/counter.py:39-48), line ids: ``region_%04d`` and
    ``region_%04d_line_%04d``."""
    w_conv = Window.partitionBy("conv_id").orderBy("turn_idx", "span_idx")
    w_region = Window.partitionBy("conv_id", "turn_idx", "region_seq").orderBy(
        "span_idx"
    )
    return (
        spans.withColumn("reading_order", (F.row_number().over(w_conv) - 1).cast("int"))
        .withColumn(
            "_region_num",
            F.dense_rank().over(
                Window.partitionBy("conv_id").orderBy("turn_idx", "region_seq")
            ),
        )
        .withColumn("_line_num", F.row_number().over(w_region))
        .withColumn("region_id", F.concat(F.lit("region_"), _pad4(F.col("_region_num"))))
        .withColumn(
            "line_id",
            F.concat(F.col("region_id"), F.lit("_line_"), _pad4(F.col("_line_num"))),
        )
        .drop("_region_num", "_line_num")
    )


def extract_spans(
    turns: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, metrics=None
) -> DataFrame:
    """Full pipeline: turns -> ordered, id-stamped spans."""
    return with_order_and_ids(raw_spans(turns, cfg, metrics))


def extract_spans_salted(
    turns: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt_buckets: int = 16,
    metrics=None,
) -> DataFrame:
    """Skew-hardened variant (north_rule: 'skewed conversations ...
    salted and repartitioned explicitly').

    The kernel stage is pre-repartitioned on (conv_id, salt) where
    salt = turn-level hash, so one multi-million-turn conversation
    spreads over ``salt_buckets`` tasks instead of one. The id windows
    then run on (conv_id) as usual, so a skewed conversation's windows
    still run in one task: AQE's skew handling splits join partitions
    only, and the external sort bounds memory, not time. The bucketed
    sink keeps that task to the conversation's own bucket. Output is
    identical to extract_spans (the invariance test asserts it).
    """
    salted = turns.withColumn(
        "_salt", (F.xxhash64("conv_id", "turn_idx") % salt_buckets).cast("int")
    )
    salted = salted.repartition(F.col("conv_id"), F.col("_salt")).drop("_salt")
    return with_order_and_ids(raw_spans(salted, cfg, metrics))


def probe_turn_metadata(turns: DataFrame, density_min: float = 30.0) -> DataFrame:
    """S2: the check_dpi / metadata-probe analog
    (reference utils/pil_cv2.py:17-34 + the enhancement gate of
    eynollah.py:381-450): probe each page's metadata BEFORE the kernel
    — line count, char count, ink density (chars per line, the DPI
    analog), defaulted tool/ts columns — and flag low-density pages
    for the enhancement pre-pass, exactly like pages under
    DPI_THRESHOLD=298 (eynollah.py:80) get run_enhancement.

    Pure Catalyst column expressions; narrow (no shuffle)."""
    n_lines = F.size(F.split(F.col("text"), "\n"))
    n_chars = F.length("text")
    density = F.round(n_chars / n_lines, 6)
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        n_lines.cast("int").alias("n_lines"),
        n_chars.cast("int").alias("n_chars"),
        density.alias("density"),
        (density < density_min).alias("needs_enhancement"),
        F.coalesce(F.col("tool"), F.lit("none")).alias("tool_name"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


def analyze_pages(turns: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-page diagnostics table (SPEC §11): line/span/region counts,
    detected column count, deskew slope, ensemble agreement."""
    spark = turns.sparkSession
    bc = spark.sparkContext.broadcast(cfg)
    pruned = turns.select("conv_id", "turn_idx", "role", "text")
    return pruned.mapInPandas(_diag_iter(bc), schema=PAGE_SCHEMA)
