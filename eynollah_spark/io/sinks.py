"""Resumable bucketed span sink (checkpoint/restart, north_rule O14).

The production design is an Iceberg table partitioned by
``bucket(N, conv_id)`` where each bucket commit is one atomic Iceberg
append and the manifest is the snapshot log. This container has no
Iceberg runtime jars, so the same semantics are implemented on plain
parquet with an explicit manifest directory:

    out/
      manifest/<run-tag>/_layout            (bucket map of the run)
      manifest/<run-tag>/bucket=<k>._done   (commit markers)
      data/_bucket=<k>/part-*.parquet       (hive-partitioned data)

- a bucket is the checkpoint unit: `conv_id`-hash determines the
  bucket, so every conversation lands wholly inside one bucket and a
  restart can never split or duplicate a conversation;
- a bucket IS a shuffle partition: the bucket of a row is
  ``pmod(hash(conv_id), n_buckets)``, the partition id Spark's
  ``hashpartitioning(conv_id, n_buckets)`` computes, and the write is
  planned with ``spark.sql.shuffle.partitions = n_buckets``. The
  ordering windows' one ``conv_id`` exchange then has one partition per
  bucket; AQE coalescing merges only whole partitions, so every bucket
  lands in one write task and is ONE parquet file (a session that sets
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  overrides the partition count and gets several files per bucket,
  with the same rows). Consequently ``n_buckets`` also sets the
  reducer parallelism of the window and write stage (and of the
  salted path's salt exchange): choose it no smaller than the
  executor core count;
- a small bucket is not folded into a skewed bucket's task: AQE packs
  neighbouring small partitions up to its target size (total bytes ÷
  cores, at most the advisory 64 MiB), but by default it also
  force-merges every packed group smaller than
  ``coalescePartitions.minPartitionSize`` (1 MiB) into a neighbour.
  When one skewed conversation fills its bucket, that neighbour is the
  skewed bucket, and its task - already the longest, since a
  conversation's windows run in one task - then also writes every
  small bucket's rows and files. The write therefore runs with that
  floor at 1 byte (``_MIN_PARTITION_SIZE``), so the skewed bucket's
  task holds only its own bucket. At production sizes every bucket is
  far above 1 MiB and the floor never fires either way;
- `write()` skips the buckets already marked done (the "anti-join
  processed partitions on restart" from SURVEY §2.9/O14) and writes
  only the remainder; `filter_pending_turns` prunes the done
  conversations before the kernel runs. The bucket map and count are
  recorded in ``_layout`` before the job runs, and a sink whose
  markers were written under another map or count refuses to resume
  (``done_buckets`` raises) rather than drop or duplicate
  conversations. Outputs written before the map became the partition
  id (``pmod(xxhash64(conv_id), n)``, no ``_layout``) cannot be
  resumed for that reason;
- all pending buckets are written in ONE Spark job
  (`partitionBy("_bucket")` + dynamic partition overwrite) — not one
  job per bucket, which at 4096 buckets would be 4096 sequential
  jobs; per-bucket commit granularity is preserved by writing the
  marker files only AFTER the job commits, so a crash mid-job leaves
  every pending bucket unmarked and therefore re-processable
  (dynamic overwrite makes the retry idempotent per bucket
  directory).

At 100 TB scale the same code shape holds: swap the marker directory
for Iceberg snapshot commits; bucket count scales with cluster size
(e.g. 4096 buckets for 1000 executors).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# the bucket map, as recorded in each run's ``_layout``
_BUCKET_MAP = "pmod(hash(conv_id), n_buckets)"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# scoped to 1 byte by the write: AQE then force-merges no small coalesced
# group into a neighbour, such as a skewed bucket's task (module docstring)
_MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


def _bucket_col(n_buckets: int):
    # Murmur3 (seed 42) pmod n: the partition id of hashpartitioning(conv_id, n)
    return F.pmod(F.hash("conv_id"), F.lit(n_buckets)).cast("int")


class BucketedSpanSink:
    def __init__(self, root: str, n_buckets: int = 16, run_tag: str = "run"):
        self.root = root
        self.n_buckets = n_buckets
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifest", run_tag)
        self.layout = {"bucket": _BUCKET_MAP, "n_buckets": n_buckets}
        os.makedirs(self.manifest_dir, exist_ok=True)

    # --- manifest ---------------------------------------------------------
    def done_buckets(self) -> set[int]:
        """Committed buckets. Raises ValueError if there are any but they
        were committed under another bucket map or count."""
        out = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("bucket=") and name.endswith("._done"):
                out.add(int(name[len("bucket=") : -len("._done")]))
        if out:
            self._check_layout()
        return out

    def _check_layout(self):
        try:
            with open(os.path.join(self.manifest_dir, "_layout")) as f:
                have = json.load(f)
        except FileNotFoundError:
            have = None
        if have != self.layout:
            raise ValueError(
                f"{self.manifest_dir} holds buckets committed under layout "
                f"{have or 'not recorded (an older sink)'}, not {self.layout}: "
                "resume with the same bucket count, or write a new output"
            )

    def _write_layout(self):
        # temp file + rename: a reader sees the old record or the new one
        path = os.path.join(self.manifest_dir, "_layout")
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.layout, f)
        os.replace(tmp, path)

    def _mark_done(self, bucket: int):
        open(os.path.join(self.manifest_dir, f"bucket={bucket}._done"), "w").close()

    # --- write ------------------------------------------------------------
    def write(self, spans: DataFrame, buckets: list[int] | None = None) -> list[int]:
        """Write all pending buckets in ONE Spark job, then commit the
        markers. Returns the buckets committed. `buckets=None` writes
        all pending ones.

        The single `partitionBy("_bucket")` write with dynamic
        partition overwrite replaces exactly the pending buckets'
        directories; markers land only after the job commits, so a
        crash anywhere in the job leaves every pending bucket
        unmarked and the retry rewrites them idempotently. An empty
        pending bucket (no rows hashed into it) is still committed —
        the successful job vacuously covered its predicate. The job is
        planned with one shuffle partition per bucket and no minimum
        coalesced partition size (module docstring), so each bucket is
        written as one file and a skewed bucket's task writes only
        that bucket."""
        done = self.done_buckets()
        todo = [
            b
            for b in (buckets if buckets is not None else range(self.n_buckets))
            if b not in done
        ]
        if not todo:
            return []
        bucketed = spans.withColumn("_bucket", _bucket_col(self.n_buckets)).filter(
            F.col("_bucket").isin([int(b) for b in todo])
        )
        self._write_layout()
        # the conv_id exchange is planned by this action: one partition
        # per bucket, no small bucket folded into another's task; the
        # session's own values come back, also on failure
        scoped = {_SHUFFLE_PARTITIONS: str(self.n_buckets), _MIN_PARTITION_SIZE: "1"}
        conf = spans.sparkSession.conf
        old = {k: conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            conf.set(k, v)
        try:
            (
                bucketed.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_bucket")
                .parquet(self.data_dir)
            )
        finally:
            for k, v in old.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        for b in todo:
            self._mark_done(b)
        return todo

    # --- read -------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        done = sorted(self.done_buckets())
        if not done:
            # nothing was ever committed — a read here is a caller bug
            raise FileNotFoundError(f"no committed buckets under {self.root}")
        paths = [
            p
            for b in done
            if os.path.isdir(p := os.path.join(self.data_dir, f"_bucket={b}"))
        ]  # committed-but-empty buckets have no directory
        if not paths:
            # buckets WERE committed but every one was empty (no rows
            # hashed into them): a committed-empty result is an empty
            # frame with the span schema, not an error
            from eynollah_spark.operators.extract import SPAN_SCHEMA

            return spark.createDataFrame([], SPAN_SCHEMA)
        return spark.read.parquet(*paths)


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None.

    The probe is configuration-only (no classloading side effects): a
    ``spark.sql.catalog.<name>`` entry whose implementation class
    mentions Iceberg. This container ships no Iceberg jars, so the
    probe returns None here and the parquet+manifest stand-in is used;
    on a real cluster with a catalog configured the same pipeline
    upgrades to Iceberg snapshot commits via ``IcebergSpanSink`` with
    no caller changes (see ``span_sink``)."""
    prefix = "spark.sql.catalog."
    for key, val in spark.sparkContext.getConf().getAll():
        if key.startswith(prefix) and key.count(".") == 3 and "iceberg" in val.lower():
            return key[len(prefix):]
    return None


class IcebergSpanSink:
    """The production twin of ``BucketedSpanSink`` on a real Iceberg
    catalog: same API (write/read/done_buckets), same commit
    unit (a conv_id-hash bucket), but the data commit is an Iceberg
    ``overwritePartitions`` (atomic snapshot, replaces exactly the
    pending buckets' partitions) and the manifest is a companion
    Iceberg table of committed bucket ids appended AFTER the data
    snapshot commits — the same marker-after-data ordering as the
    parquet sink, so a crash between the two leaves buckets unmarked
    and idempotently re-writable.

    Exercised only where an Iceberg catalog exists
    (tests/test_resume_metrics.py skips it in this container)."""

    def __init__(self, spark: SparkSession, table: str, n_buckets: int = 16,
                 run_tag: str = "run"):
        self.spark = spark
        self.table = table
        self.manifest_table = f"{table}_manifest"
        self.n_buckets = n_buckets
        self.run_tag = run_tag
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.manifest_table} "
            "(run_tag STRING, bucket INT) USING iceberg"
        )

    def done_buckets(self) -> set[int]:
        rows = self.spark.sql(
            f"SELECT bucket FROM {self.manifest_table} "
            f"WHERE run_tag = '{self.run_tag}'"
        ).collect()
        return {r.bucket for r in rows}

    def write(self, spans: DataFrame, buckets: list[int] | None = None) -> list[int]:
        done = self.done_buckets()
        todo = [
            b
            for b in (buckets if buckets is not None else range(self.n_buckets))
            if b not in done
        ]
        if not todo:
            return []
        bucketed = spans.withColumn("_bucket", _bucket_col(self.n_buckets)).filter(
            F.col("_bucket").isin([int(b) for b in todo])
        )
        if self.spark.catalog.tableExists(self.table):
            bucketed.writeTo(self.table).overwritePartitions()
        else:
            bucketed.writeTo(self.table).partitionedBy(
                F.col("_bucket")
            ).createOrReplace()
        self.spark.createDataFrame(
            [(self.run_tag, int(b)) for b in todo], "run_tag string, bucket int"
        ).writeTo(self.manifest_table).append()
        return todo

    def read(self, spark: SparkSession) -> DataFrame:
        done = sorted(self.done_buckets())
        return spark.table(self.table).filter(
            F.col("_bucket").isin([int(b) for b in done])
        )


def span_sink(spark: SparkSession, root_or_table: str, n_buckets: int = 16,
              run_tag: str = "run"):
    """Environment-dispatching sink factory: an Iceberg catalog in the
    session config selects ``IcebergSpanSink`` (snapshot commits); no
    catalog selects the parquet+manifest ``BucketedSpanSink`` with
    identical resume semantics. Callers hold only the shared API."""
    if iceberg_catalog(spark) is not None:
        return IcebergSpanSink(spark, root_or_table, n_buckets, run_tag)
    return BucketedSpanSink(root_or_table, n_buckets, run_tag)


def filter_pending_turns(turns: DataFrame, sink: BucketedSpanSink) -> DataFrame:
    """Prune already-committed conversations BEFORE the kernel runs —
    the restart path reads/extracts only pending buckets (partition
    pruning analog; at scale this predicate prunes Iceberg manifests).

    This is the only pruning ahead of the kernel: the bucket filter a
    sink's ``write`` adds to ``extract_spans(turns)`` sits above the
    kernel's ``MapInPandas`` in the optimized plan, so without this
    filter every turn is extracted again and the done buckets' spans
    are dropped only at the write.
    """
    done = sink.done_buckets()
    if not done:
        return turns
    return turns.filter(~_bucket_col(sink.n_buckets).isin([int(b) for b in done]))
