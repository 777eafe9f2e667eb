#!/usr/bin/env python
"""North-rule scaling evidence: the extraction job (``jobs/extract_job.py``'s
``run``, default flags: scan -> Arrow kernel -> conv_id windows ->
bucketed sink) at local[N] and local[4N] on the same corpus, with
N = max(1, cores // 4) from this host. Cores stand in for executors;
efficiency = (turns/s at 4N / turns/s at N) / 4.

Each level runs in a fresh interpreter: the py4j JVM outlives a
SparkSession inside one Python process, so a level's JVM must not be
the one an earlier level warmed, and its heap (1 GB per core,
``bench.job_session``) is fixed when the JVM starts. The corpus is
two parquet files per core at 4N, read one split per file, and lives
in a temporary directory removed on exit.

Usage: python scaling_bench.py
Prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import statistics
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# CorpusSpec(seed=1) conversations: 337,362 turns, ~3.5 min on 4 cores.
# Costs per pass that do not shrink with cores weigh more on a short
# pass, so the reading climbs with corpus size until they are small.
# On a 4-core host (one to three runs per size): 5,000 convs 0.673 /
# 0.673; 20,000 0.708 / 0.749 / 0.753; 40,000 0.777 / 0.695; 80,000
# 0.771. From 20,000 up, the size moves the reading less than two runs
# of one size differ.
CONVS = 20000
WARMUP = 2     # untimed passes per level (JIT, codegen, Python workers)
SAMPLES = 3    # timed passes per level; the level reports their median
TARGET = 0.8


def _write_corpus(cpus: int, path: str) -> None:
    """The corpus as 2 * cpus parquet files: two kernel tasks per core
    at the large level, as perfbench writes its corpora."""
    from bench import job_session
    from eynollah_spark.fixtures.transcripts import CorpusSpec, generate_spark

    spark = job_session("eynollah-scaling-corpus", cpus)
    spec = CorpusSpec(n_convs=CONVS, seed=1)
    generate_spark(spark, spec, parallelism=2 * cpus).write.parquet(path)
    spark.stop()


def _level(cpus: int, corpus: str, work: str) -> tuple[dict, list[float]]:
    """The level's summary at local[cpus] and its turns/s samples."""
    from bench import job_session, split_by_file, time_job

    spark = job_session(f"eynollah-scaling-{cpus}", cpus)
    n_turns = spark.read.parquet(corpus).count()
    split_by_file(spark, corpus)
    for _ in range(WARMUP):
        time_job(spark, corpus, work)
    runs = [time_job(spark, corpus, work) for _ in range(SAMPLES)]
    spark.stop()
    wall = statistics.median(w for w, _ in runs)
    summary = {
        "cpus": cpus, "turns": n_turns, "spans": runs[0][1],
        "wall_s": round(wall, 3), "turns_per_sec": round(n_turns / wall, 1),
    }
    return summary, [round(n_turns / w, 1) for w, _ in runs]


def _fresh(fn, *args):
    """``fn(*args)`` in a new interpreter, which exits before this returns."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as ex:
        return ex.submit(fn, *args).result()


def main() -> None:
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    with tempfile.TemporaryDirectory(prefix="eynollah-scaling-") as work:
        corpus = os.path.join(work, "corpus")
        _fresh(_write_corpus, 4 * n, corpus)
        small, samples_small = _fresh(_level, n, corpus, work)
        large, samples_large = _fresh(_level, 4 * n, corpus, work)
    eff = (large["turns_per_sec"] / small["turns_per_sec"]) / 4.0
    print(
        json.dumps(
            {
                "metric": "extraction job throughput scaling N -> 4N cores",
                "N": small,
                "4N": large,
                "samples_N": samples_small,
                "samples_4N": samples_large,
                "scaling_efficiency": round(eff, 3),
                "target": TARGET,
                "pass": eff >= TARGET,
            }
        )
    )


if __name__ == "__main__":
    main()
