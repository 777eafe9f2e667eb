"""The benchmark's composed passes must give what the jobs give.

Runs ``jobs/extract_job.py`` (plain, ``--salted``, and ``--resume`` after
removing half the commit markers) and ``jobs/curate_job.py`` as
subprocesses on a tiny corpus, and asserts their outputs equal the
passes ``perfbench/passes.py`` composes, so the benchmark cannot drift
away from the jobs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import ROOT, WORK  # noqa: E402

sys.path.insert(0, ROOT)
DIR = os.path.join(WORK, "drift-test")


def _job(script: str, *args: str) -> str:
    env = dict(os.environ, SPARK_GRAFT_MASTER=harness.MASTER)
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", script), *args],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return p.stdout.strip().splitlines()[-1]


@pytest.fixture(scope="module")
def bench():
    from eynollah_spark.fixtures.transcripts import CorpusSpec, generate_spark
    from workloads import corpus_turns

    shutil.rmtree(DIR, ignore_errors=True)
    saved_env = dict(os.environ)  # prepare_env points temp dirs into DIR
    harness.prepare_env(DIR)
    spark = None
    try:
        spark = harness.start_session("perfbench-drift-test")
        corpus = os.path.join(DIR, "corpus")
        generate_spark(spark, CorpusSpec(n_convs=40, seed=3), 4).write.parquet(corpus)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(corpus_turns(corpus)[1]))
        yield spark, corpus
    finally:
        if spark is not None:
            harness.stop_session(spark)
        os.environ.clear()
        os.environ.update(saved_env)
        shutil.rmtree(DIR, ignore_errors=True)


def _spans(out: str):
    from checks import read_spans, span_digest

    d = span_digest(read_spans(out))
    assert d["reading_order_bad_convs"] == 0
    return d["digest"]


@pytest.mark.parametrize("salted", [False, True])
def test_extract_job_matches_bench_pass(bench, salted):
    from passes import extract_pass

    spark, corpus = bench
    flag = ["--salted"] if salted else []
    job_out = os.path.join(DIR, f"job-spans-{salted}")
    printed = json.loads(_job("extract_job.py", "--input", corpus, "--output", job_out, *flag))
    bench_out = os.path.join(DIR, f"bench-spans-{salted}")
    ours = extract_pass(spark, corpus, bench_out, salted=salted)
    assert sorted(printed["buckets_committed"]) == sorted(ours["buckets_committed"])
    assert printed["counters"] == ours["counters"]
    assert _spans(job_out) == _spans(bench_out)


def test_extract_job_resume_matches_bench_resume(bench):
    from checks import uncommit_half
    from passes import extract_pass

    spark, corpus = bench
    full = os.path.join(DIR, "resume-full")
    extract_pass(spark, corpus, full, salted=False)
    want = _spans(full)
    job_out, bench_out = os.path.join(DIR, "resume-job"), os.path.join(DIR, "resume-bench")
    for out in (job_out, bench_out):
        shutil.copytree(full, out)
        uncommit_half(out)
    printed = json.loads(_job("extract_job.py", "--input", corpus, "--output", job_out, "--resume"))
    ours = extract_pass(spark, corpus, bench_out, salted=False, resume=True)
    assert sorted(printed["buckets_committed"]) == sorted(ours["buckets_committed"])
    assert len(ours["buckets_committed"]) == 32
    assert printed["counters"] == ours["counters"]
    assert _spans(job_out) == _spans(bench_out) == want


def test_curate_job_matches_bench_pass(bench):
    from checks import survivors_digest
    from passes import curate_pass

    spark, corpus = bench
    job_out = os.path.join(DIR, "curate-job")
    printed = json.loads(_job("curate_job.py", "--input", corpus, "--output", job_out))
    bench_out = os.path.join(DIR, "curate-bench")
    ours = curate_pass(spark, corpus, bench_out)
    assert printed["funnel"] == ours["funnel"]
    assert printed["counters"] == ours["counters"]
    assert survivors_digest(job_out) == survivors_digest(bench_out)


def test_agent_conversation_is_resumed(bench):
    """The long agent conversation hashes to an odd bucket, so every
    resume pass of agent_longconv rewrites it."""
    import pyspark.sql.functions as F

    from passes import BUCKETS
    from workloads import AGENT_CONV

    spark, _ = bench
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(AGENT_CONV)), F.lit(BUCKETS)).alias("b")
    ).first().b
    assert b % 2 == 1
