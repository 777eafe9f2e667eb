"""Resume-from-checkpoint and metrics tests (SURVEY §5 graft strategy 5)."""

import pandas as pd
import pytest

from eynollah_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA, CorpusSpec, generate_local
from eynollah_spark.io.sinks import BucketedSpanSink, filter_pending_turns
from eynollah_spark.metrics import ExtractMetrics, partition_metrics
from eynollah_spark.operators.extract import extract_spans

SPEC = CorpusSpec(n_convs=25, seed=31)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "turn_idx", "span_idx"]).reset_index(drop=True)


def test_resume_no_dupes_no_loss(spark, tmp_path):
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    spans = extract_spans(turns)
    full = _sorted(spans.toPandas())

    sink = BucketedSpanSink(str(tmp_path / "out"), n_buckets=8, run_tag="r1")
    # "crash" after 3 buckets
    first = sink.write(spans, buckets=[0, 1, 2])
    assert first == [0, 1, 2]
    assert sink.done_buckets() == {0, 1, 2}

    # restart: only pending turns reach the kernel
    pending = filter_pending_turns(turns, sink)
    assert pending.count() < turns.count()
    rest = sink.write(extract_spans(pending))
    assert set(rest) == {3, 4, 5, 6, 7}

    got = _sorted(sink.read(spark).toPandas())
    pd.testing.assert_frame_equal(got, full)

    # idempotence: resuming a complete run writes nothing
    assert sink.write(spans) == []

    # single-job layout: one hive-partitioned write, not one
    # directory-per-bucket job sequence
    import os

    data = str(tmp_path / "out" / "data")
    assert any(n.startswith("_bucket=") for n in os.listdir(data))
    assert not any(n.startswith("bucket=") for n in os.listdir(data))


def test_accumulator_metrics(spark):
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    m = ExtractMetrics.create(spark)
    out = extract_spans(turns, metrics=m)
    n_spans = out.count()
    snap = m.snapshot()
    assert snap["turns_in"] == len(local)
    assert snap["spans_emitted"] == n_spans
    # UTF-8 bytes, not characters: the corpus has non-ASCII turns
    n_bytes = int(local["text"].str.encode("utf-8").str.len().sum())
    assert n_bytes > int(local["text"].str.len().sum())
    assert snap["bytes_parsed"] == n_bytes


def test_partition_metrics_table(spark):
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    spans = extract_spans(turns)
    pm = partition_metrics(spans, run_id="t1").toPandas()
    assert pm["spans_emitted"].sum() == spans.count()
    text = spans.select("text").toPandas()["text"]
    assert pm["bytes_parsed"].sum() == text.str.encode("utf-8").str.len().sum()
    assert set(pm.columns) >= {
        "run_id",
        "partition_id",
        "turns_out",
        "spans_emitted",
        "bytes_parsed",
        "committed_at",
    }


def test_sink_read_committed_empty_returns_empty_frame(spark, tmp_path):
    """Committed-but-empty buckets are a legitimate empty result (an
    empty frame with the span schema), not a FileNotFoundError; a sink
    with NO commits at all still raises."""
    from eynollah_spark.operators.extract import SPAN_SCHEMA, extract_spans

    sink = BucketedSpanSink(str(tmp_path / "out"), n_buckets=4, run_tag="r1")
    with pytest.raises(FileNotFoundError):
        sink.read(spark)

    empty_turns = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string"
    )
    committed = sink.write(extract_spans(empty_turns))
    assert sorted(committed) == [0, 1, 2, 3]
    got = sink.read(spark)
    assert got.count() == 0
    assert got.schema == SPAN_SCHEMA


def test_ls_gate_oversize_fallback(monkeypatch):
    """Blocks past _LS_GATE_MAX_LINES route the deskew gate through
    Python's exact integers — output must stay byte-equal to the
    oracle (here forced low so the fallback path actually runs)."""
    import pandas as pd

    from eynollah_spark.kernel import textpage
    from eynollah_spark.kernel.textpage import analyze_turns_batch
    from eynollah_spark.oracle.reference import analyze_turn_naive

    monkeypatch.setattr(textpage, "_LS_GATE_MAX_LINES", 2)
    body = "aaaaaaaaaa   bbbbbbbbbb"
    text = "\n".join(" " * k + body for k in range(5))  # skewed 2-col
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}
    )
    got = [
        (int(t.span_idx), t.region_type, int(t.region_seq), int(t.char_start),
         int(t.char_end), t.text)
        for t in analyze_turns_batch(pdf).itertuples(index=False)
    ]
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user")
    ]
    assert got == want
    assert [g[5] for g in got] == ["aaaaaaaaaa"] * 5 + ["bbbbbbbbbb"] * 5


def test_span_sink_dispatch_and_catalog_probe(spark, tmp_path):
    """No Iceberg catalog in this container: the probe returns None and
    the factory hands back the parquet+manifest sink."""
    from eynollah_spark.io.sinks import (
        BucketedSpanSink,
        iceberg_catalog,
        span_sink,
    )

    assert iceberg_catalog(spark) is None
    sink = span_sink(spark, str(tmp_path / "spans"))
    assert isinstance(sink, BucketedSpanSink)


def test_iceberg_span_sink_commit_semantics(spark, tmp_path):
    """Runs ONLY where an Iceberg catalog is configured (real cluster):
    snapshot-committed buckets resume exactly like the parquet sink."""
    import pytest

    from eynollah_spark.io.sinks import IcebergSpanSink, iceberg_catalog

    cat = iceberg_catalog(spark)
    if cat is None:
        pytest.skip("no Iceberg catalog configured in this environment")
    sink = IcebergSpanSink(spark, f"{cat}.default.spans_test", n_buckets=4)
    df = spark.createDataFrame(
        [(f"c{i}", 0, 0, "text", 0, 0, 4, "t", i, "r", "l") for i in range(20)],
        "conv_id string, turn_idx int, span_idx int, region_type string, "
        "region_seq int, char_start int, char_end int, text string, "
        "reading_order int, region_id string, line_id string",
    )
    committed = sink.write(df)
    assert sorted(committed) == [0, 1, 2, 3]
    assert sink.write(df) == []  # all buckets committed -> no-op
    assert sink.read(spark).count() == 20


def test_extract_job_run(spark, tmp_path):
    """extract_job.run with default flags commits every bucket and
    writes what extract_spans gives; --salted writes the same rows; a
    --resume run over a finished output commits nothing."""
    from jobs.extract_job import parse_args, run

    inp = str(tmp_path / "turns")
    spark.createDataFrame(generate_local(SPEC), schema=TRANSCRIPT_SCHEMA).write.parquet(inp)
    want = extract_spans(spark.read.parquet(inp))
    for flags in ([], ["--salted"]):
        out = str(tmp_path / f"spans{len(flags)}")
        args = parse_args(["--input", inp, "--output", out, *flags])
        printed = run(spark, args)
        assert sorted(printed["buckets_committed"]) == list(range(64))
        got = BucketedSpanSink(out, n_buckets=64, run_tag=args.run_id).read(spark)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    resumed = run(spark, parse_args(["--input", inp, "--output", out, "--resume"]))
    assert resumed["buckets_committed"] == []


def test_crash_injected_mid_commit_resume_byte_identical(spark, tmp_path):
    """REAL process-level failure injection (north_rule O14): the
    production extract job is hard-killed (os._exit, no cleanup) in
    the middle of the marker-commit loop — data fully written, only
    some buckets marked done — and a stale partial parquet file from
    the 'dead executor' is planted in a pending bucket directory.
    Restarting with --resume must produce a final table byte-identical
    to an uninterrupted run: unmarked buckets re-extract and the
    dynamic partition overwrite replaces the torn directory."""
    import os
    import subprocess
    import sys

    from eynollah_spark.fixtures.transcripts import (
        TRANSCRIPT_SCHEMA,
        CorpusSpec,
        generate_local,
    )
    from eynollah_spark.io.sinks import BucketedSpanSink
    from eynollah_spark.operators.extract import extract_spans

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = generate_local(CorpusSpec(n_convs=30, seed=77))
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    inp = str(tmp_path / "turns.parquet")
    turns.write.parquet(inp)
    out = str(tmp_path / "sink")
    expected = _sorted(extract_spans(turns).toPandas())

    crash_script = tmp_path / "crash_job.py"
    crash_script.write_text(
        f"""
import os, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "jobs"))
from eynollah_spark.io import sinks

_orig = sinks.BucketedSpanSink._mark_done
_n = [0]
def _dying_mark(self, bucket):
    if _n[0] == 3:
        os._exit(137)  # hard kill mid-commit: no atexit, no JVM stop
    _n[0] += 1
    _orig(self, bucket)
sinks.BucketedSpanSink._mark_done = _dying_mark

sys.argv = ["extract_job", "--input", {inp!r}, "--output", {out!r},
            "--buckets", "8", "--run-id", "r1"]
import extract_job
extract_job.main()
"""
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(
        [sys.executable, str(crash_script)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r1.returncode == 137, r1.stderr[-2000:]
    sink = BucketedSpanSink(out, n_buckets=8, run_tag="r1")
    done_after_crash = sink.done_buckets()
    assert len(done_after_crash) == 3  # torn commit: 3 of 8 marked

    # dead-executor debris: stale partial file in a PENDING bucket dir
    pending = sorted(set(range(8)) - done_after_crash)
    torn_dir = os.path.join(out, "data", f"_bucket={pending[0]}")
    os.makedirs(torn_dir, exist_ok=True)
    with open(os.path.join(torn_dir, "part-stale.parquet"), "wb") as f:
        f.write(b"NOT A PARQUET FILE")

    resume_script = tmp_path / "resume_job.py"
    resume_script.write_text(
        f"""
import os, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "jobs"))
sys.argv = ["extract_job", "--input", {inp!r}, "--output", {out!r},
            "--buckets", "8", "--run-id", "r1", "--resume"]
import extract_job
extract_job.main()
"""
    )
    r2 = subprocess.run(
        [sys.executable, str(resume_script)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert sink.done_buckets() == set(range(8))
    got = _sorted(sink.read(spark).toPandas())
    pd.testing.assert_frame_equal(got, expected)


def test_bucket_is_conv_id_hash_partition(spark):
    """The sink's bucket of a row is the partition Spark's
    hashpartitioning(conv_id, n) sends it to, so a bucket is one
    partition of the windows' conv_id exchange."""
    import pyspark.sql.functions as F

    from eynollah_spark.io.sinks import _bucket_col

    turns = spark.createDataFrame(generate_local(SPEC), schema=TRANSCRIPT_SCHEMA)
    for n in (7, 64):
        part = turns.repartition(n, "conv_id").select(
            _bucket_col(n).alias("bucket"), F.spark_partition_id().alias("pid")
        )
        assert part.filter("bucket != pid").count() == 0


def _parquet_files(data_dir):
    import os

    return {
        d: [f for f in os.listdir(os.path.join(data_dir, d)) if f.endswith(".parquet")]
        for d in os.listdir(data_dir)
        if d.startswith("_bucket=")
    }


def test_sink_writes_one_file_per_bucket(spark, tmp_path):
    """Every committed bucket directory holds one parquet file, even when
    the session's shuffle partitions differ from the bucket count and
    AQE does not coalesce (each write task then sees one bucket)."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    assert spark.conf.get("spark.sql.shuffle.partitions") != "16"
    turns = spark.createDataFrame(generate_local(SPEC), schema=TRANSCRIPT_SCHEMA)
    sink = BucketedSpanSink(str(tmp_path / "out"), n_buckets=16, run_tag="r1")
    spark.conf.set(key, "false")
    try:
        assert len(sink.write(extract_spans(turns))) == 16
    finally:
        spark.conf.set(key, old)
    files = _parquet_files(sink.data_dir)
    assert len(files) > 8
    assert {d: len(f) for d, f in files.items() if len(f) != 1} == {}


def test_sink_write_restores_shuffle_partitions(spark, tmp_path):
    """The write's scoped confs (bucket-sized shuffle partitions, no
    minimum coalesced partition size) are scoped to it: the session's
    values come back - re-set if the session had set one, unset if not -
    after a write that commits and after one whose job fails (and then
    nothing is committed)."""
    import pyspark.sql.functions as F

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    assert before[keys[0]] is not None and before[keys[1]] is None
    turns = spark.createDataFrame(generate_local(SPEC), schema=TRANSCRIPT_SCHEMA)
    spans = extract_spans(turns)

    ok = BucketedSpanSink(str(tmp_path / "ok"), n_buckets=5, run_tag="r1")
    assert ok.write(spans) == [0, 1, 2, 3, 4]
    assert {k: spark.conf.get(k, None) for k in keys} == before

    boom = spans.withColumn(
        "text",
        F.when(F.col("span_idx") >= 0, F.raise_error(F.lit("boom"))).otherwise(F.col("text")),
    )
    bad = BucketedSpanSink(str(tmp_path / "bad"), n_buckets=5, run_tag="r1")
    with pytest.raises(Exception, match="boom"):
        bad.write(boom)
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert bad.done_buckets() == set()


def test_skewed_bucket_is_not_merged_with_small_buckets(spark, tmp_path):
    """One conversation far larger than the rest fills its bucket; the
    small buckets are packed into tasks of their own rather than folded
    into the skewed bucket's task, so the write stage runs more than one
    task, and every bucket is still one file."""
    import numpy as np

    std = generate_local(CorpusSpec(n_convs=40, seed=1))
    n = 3_000
    skewed = pd.DataFrame({
        "conv_id": "skewed0001",
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": "assistant",
        "text": [f"step {i} finished without errors." for i in range(n)],
        "tool": None,
        "ts": pd.Timestamp("2025-06-01") + pd.to_timedelta(np.arange(n), unit="s"),
    })
    turns = spark.createDataFrame(pd.concat([std, skewed], ignore_index=True), schema=TRANSCRIPT_SCHEMA)
    sink = BucketedSpanSink(str(tmp_path / "out"), n_buckets=16, run_tag="r1")

    sc = spark.sparkContext
    group = "skewed-bucket-write"
    sc.setJobGroup(group, "bucketed sink write")
    try:
        assert len(sink.write(extract_spans(turns))) == 16
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = [
        info
        for j in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(sid)) is not None
    ]
    last = max(stages, key=lambda info: info.stageId)
    assert last.numTasks > 1

    files = _parquet_files(sink.data_dir)
    assert len(files) > 8
    assert {d: len(f) for d, f in files.items() if len(f) != 1} == {}


def test_resume_refuses_other_bucket_layout(spark, tmp_path):
    """Markers committed under another bucket count, or by a sink that
    recorded no layout (the older xxhash64 map), are refused: resuming
    them would drop or duplicate conversations."""
    import os

    turns = spark.createDataFrame(generate_local(SPEC), schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path / "out")
    spans = extract_spans(turns)
    assert len(BucketedSpanSink(out, n_buckets=8, run_tag="r1").write(spans)) == 8

    assert BucketedSpanSink(out, n_buckets=8, run_tag="r1").done_buckets() == set(range(8))
    other = BucketedSpanSink(out, n_buckets=4, run_tag="r1")
    with pytest.raises(ValueError, match="layout"):
        other.done_buckets()
    with pytest.raises(ValueError, match="layout"):
        filter_pending_turns(turns, other)

    os.remove(os.path.join(out, "manifest", "r1", "_layout"))
    with pytest.raises(ValueError, match="not recorded"):
        BucketedSpanSink(out, n_buckets=8, run_tag="r1").done_buckets()
    # a fresh run tag has no markers, so nothing is refused
    assert BucketedSpanSink(out, n_buckets=4, run_tag="r2").done_buckets() == set()
