"""The job passes the benchmark times: the same public calls, in the same
order, as ``jobs/extract_job.py`` and ``jobs/curate_job.py`` after their
argument parsing and session start. ``perfbench/tests/test_drift.py``
runs the real jobs and asserts their outputs equal these passes.
"""

from __future__ import annotations

from contextlib import nullcontext

BUCKETS = 64        # extract_job --buckets default
SALT_BUCKETS = 16   # extract_job --salt-buckets default
QUALITY_MIN = 0.5   # curate_job --quality-min default
NEAR_DUP_T = 0.5    # curate_job --near-dup-t default
RUN_ID = "run0"     # --run-id default of both jobs


def job_config():
    """ExtractConfig exactly as extract_job builds it with default flags."""
    from eynollah_spark.config import ExtractConfig

    return ExtractConfig(
        enable_tables=False,
        enable_line_split=False,
        region_blank_bridge=False,
        full_layout=True,
    )


def extract_pass(spark, corpus: str, out: str, *, salted: bool, resume: bool = False) -> dict:
    """extract_job.main: scan -> [resume filter] -> kernel -> windows ->
    bucketed sink. Returns what the job prints."""
    from eynollah_spark.io.sinks import BucketedSpanSink, filter_pending_turns
    from eynollah_spark.metrics import ExtractMetrics
    from eynollah_spark.operators.extract import extract_spans, extract_spans_salted

    cfg = job_config()
    metrics = ExtractMetrics.create(spark)
    turns = spark.read.parquet(corpus)
    sink = BucketedSpanSink(out, n_buckets=BUCKETS, run_tag=RUN_ID)
    if resume:
        turns = filter_pending_turns(turns, sink)
    if salted:
        spans = extract_spans_salted(turns, cfg, salt_buckets=SALT_BUCKETS, metrics=metrics)
    else:
        spans = extract_spans(turns, cfg, metrics=metrics)
    committed = sink.write(spans)
    return {"run_id": RUN_ID, "buckets_committed": committed, "counters": metrics.snapshot()}


def curate_docs(spans):
    """curate_job's main-content reassembly: one groupBy(conv_id)."""
    import pyspark.sql.functions as F

    return (
        spans.filter(F.col("region_type").isin("text", "header"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("reading_order", "text"))),
                    lambda s: s.getField("text"),
                ),
                "\n",
            ).alias("text"),
        )
        .withColumn("doc_id", F.xxhash64("conv_id"))
    )


def curate_gate(docs):
    """curate_job's quality gate."""
    import pyspark.sql.functions as F

    from eynollah_spark.operators.text_analysis import quality_features

    return (
        quality_features(docs)
        .filter(F.col("quality_score") >= QUALITY_MIN)
        .select("doc_id", "conv_id", "n_spans", "text", "quality_score")
    )


def curate_survivors(exact):
    """curate_job's MinHash-LSH near-dup removal (left-anti join)."""
    from eynollah_spark.operators.dedup import minhash_lsh_pairs

    near = minhash_lsh_pairs(exact, threshold=NEAR_DUP_T).select("doc_b")
    return exact.join(near, exact.doc_id == near.doc_b, "left_anti")


def curate_pass(spark, corpus: str, out: str, *, span=None) -> dict:
    """curate_job.main: extraction -> reassembly -> quality gate ->
    exact dedup -> MinHash-LSH -> survivors parquet, with the job's
    funnel counts. Returns what the job prints. ``span(name)``, if
    given, is entered around each of the job's actions."""
    from eynollah_spark.metrics import ExtractMetrics
    from eynollah_spark.operators.dedup import dedup_exact
    from eynollah_spark.operators.extract import extract_spans

    span = span or (lambda name: nullcontext())
    metrics = ExtractMetrics.create(spark)
    turns = spark.read.parquet(corpus)
    spans = extract_spans(turns, metrics=metrics)
    docs = curate_docs(spans).persist()
    with span("C0.reassembly"):
        n_extracted = docs.count()
    gated = curate_gate(docs)
    with span("C1.quality"):
        n_gated = gated.count()
    exact = dedup_exact(gated)
    with span("C2.dedup_exact"):
        n_exact = exact.count()
    with span("C3.minhash_lsh"):
        curate_survivors(exact).write.mode("overwrite").parquet(out)
    n_final = spark.read.parquet(out).count()
    docs.unpersist()
    return {
        "run_id": RUN_ID,
        "funnel": {
            "conversations": n_extracted,
            "quality_gated": n_gated,
            "exact_deduped": n_exact,
            "near_dup_survivors": n_final,
        },
        "counters": metrics.snapshot(),
    }
