#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: extraction throughput (turns/sec) of the extraction
job, ``jobs/extract_job.py``'s ``run`` with default flags (scan ->
Arrow kernel -> conv_id windows -> bucketed sink), over the
deterministic synthetic transcript corpus (BASELINE.json input_hint
shape) scaled by sf, plus the relational/dedup/similarity operator
suite over the driver testdata tables. N -> 4N scaling is
``scaling_bench.py``'s.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# operator queries timed after the extraction, by __spark_entry__ name
BENCH_QUERIES = (
    "pricing_summary",
    "top_orders",
    "region_revenue",
    "customer_top_order",
    "events_sessionize",
    "events_minute_rollup",
    "doc_region_runs",
    "token_stats",
    "quality_scores",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_topk",
)


def job_session(app_name: str, cpus: int):
    """The extraction job's own session (``get_spark`` defaults, as
    ``jobs/extract_job.py``'s ``main`` starts it) at local[cpus], with
    1 GB of heap per core: in local mode the driver heap is the whole
    executor memory, and cores stand in for executors, so memory grows
    with them. On the 1 GB default, a pass over
    ``CorpusSpec(n_convs=20000, seed=1)`` at local[4] runs out of heap
    in the window stage's spills."""
    from eynollah_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        extra_conf={"spark.driver.memory": f"{cpus}g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def split_by_file(spark, corpus: str) -> None:
    """Read ``corpus`` as one input split per parquet file, the way
    perfbench sizes its splits (maxPartitionBytes = the largest file),
    so the file count the corpus was written with is the kernel
    stage's task count. Raises unless splits == files."""
    files = [f for f in os.listdir(corpus) if f.endswith(".parquet")]
    largest = max(os.path.getsize(os.path.join(corpus, f)) for f in files)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest))
    splits = spark.read.parquet(corpus).rdd.getNumPartitions()
    if splits != len(files):
        raise RuntimeError(f"{splits} input splits for {len(files)} files")


def time_job(spark, corpus: str, work: str) -> tuple[float, int]:
    """Wall seconds of one extract_job ``run`` over ``corpus`` into a
    fresh directory under ``work``, and the span rows it committed
    (counted after the clock stops). The output is removed afterwards."""
    from eynollah_spark.io.sinks import BucketedSpanSink
    from jobs.extract_job import parse_args, run

    fresh = tempfile.mkdtemp(prefix="spans-", dir=work)
    args = parse_args(["--input", corpus, "--output", os.path.join(fresh, "out")])
    t0 = time.perf_counter()
    printed = run(spark, args)
    wall = time.perf_counter() - t0
    # a sink whose buckets are all committed writes nothing: a run that
    # committed fewer than every bucket timed less than the whole job
    if sorted(printed["buckets_committed"]) != list(range(args.buckets)):
        raise RuntimeError(f"run committed {printed['buckets_committed']}")
    sink = BucketedSpanSink(args.output, n_buckets=args.buckets, run_tag=args.run_id)
    n_spans = sink.read(spark).count()
    shutil.rmtree(fresh)
    return wall, n_spans


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = 0.1

    spark = job_session("eynollah-spark-bench", cpus)

    import __spark_entry__ as entrymod
    from eynollah_spark.fixtures.transcripts import CorpusSpec, generate_spark

    timings: dict[str, float] = {}

    with tempfile.TemporaryDirectory(prefix="eynollah-bench-") as work:
        # --- extraction job over the synthetic transcript corpus ---
        # the corpus is written once, outside the timed region
        corpus = os.path.join(work, "corpus")
        spec = CorpusSpec(n_convs=max(int(200000 * sf), 50))
        generate_spark(spark, spec, parallelism=cpus * 2).write.parquet(corpus)
        n_turns = spark.read.parquet(corpus).count()
        split_by_file(spark, corpus)

        # two untimed passes first: the first extraction pays JIT +
        # codegen + Arrow-batch allocator warmup, and one pass still
        # left a 33% descent (the JVM C2 compiler needs the second).
        # Best of 3 with the raw samples published: identical runs on
        # a shared host spread up to 1.5x
        for _ in range(2):
            time_job(spark, corpus, work)
        extract_runs: list[float] = []
        n_spans = 0
        for _ in range(3):
            wall, n_spans = time_job(spark, corpus, work)
            extract_runs.append(round(wall, 3))
    extract_s = min(extract_runs)
    timings["extract_spans"] = extract_s
    # the split size was the corpus's; the operator suite scans on defaults
    spark.conf.unset("spark.sql.files.maxPartitionBytes")

    # --- operator suite over the driver testdata ---
    # a noop write computes every output column, where count() lets
    # Catalyst prune the ones no row count needs
    qs = entrymod.queries()

    def run_query(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # one untimed pass over the whole query list first: a query's first
    # run pays JIT and codegen warm-up (at sf0.01 on local[4],
    # quality_scores read 1.05 s, then 0.15 s). Then two alternating
    # timed passes (not two back-to-back runs of each query) so an
    # interference burst cannot inflate both samples of the same query;
    # best-of is recorded, both samples are published
    for name in BENCH_QUERIES:
        run_query(name)
    query_runs: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _ in range(2):
        for name in BENCH_QUERIES:
            query_runs[name].append(run_query(name))
    for name in BENCH_QUERIES:
        timings[name] = min(query_runs[name])

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (extraction + operator queries)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                # sample counts are per-section: the headline extraction
                # is best-of-3, each operator query best-of-2 alternating
                # passes after an untimed one (the runs arrays are the
                # raw samples)
                "n_extract_runs": len(extract_runs),
                "n_query_passes": 2,
                "extract_runs": extract_runs,
                "query_runs": query_runs,
                "extract_turns": n_turns,
                "extract_spans": n_spans,
                "throughput_turns_per_sec": round(n_turns / extract_s, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
