#!/usr/bin/env python3
"""End-to-end benchmark of the extraction and curation jobs.

    python3 perfbench/run.py --workload extract_std --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. One driver process runs the passes of
``jobs/extract_job.py`` one at a time on ``local[4]`` (a closed loop: each
pass starts after the previous one has committed). ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer ledger (see ``ledger.py``). The last stdout line is the
result object; the line before it is the run's detail record, which is
also kept under ``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import CORES, MASTER, ROOT, WORK  # noqa: E402
from passes import BUCKETS  # noqa: E402
from workloads import WORKLOADS, make_corpus  # noqa: E402

WARMUP_PASSES = 3     # passes before timing; one resume pass too
MIN_SAMPLES = 3       # per timed series, whatever --seconds says
APP = "eynollah-extract-bench"
NOTE = (
    "First local[4] baseline of the whole job. BENCH_r0x.json and "
    "BASELINE.md were taken at local[32] on another host and timed "
    "extract_spans(...).count(), which prunes the exchange and windows; "
    "they cannot be compared with these figures."
)


def _import_program() -> None:
    sys.path.insert(0, ROOT)
    try:
        import eynollah_spark.io.sinks  # noqa: F401
        import eynollah_spark.operators.extract  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        sys.exit(2)


def _no_span(name: str):
    return nullcontext()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class PassRunner:
    """Runs, times and checks job passes in one session. Every pass is
    checked; a timed pass counts toward ``attempted``, and toward
    ``failed`` if it raises or fails a check. The traced run sets
    ``span`` to its tracer's, so the timed call runs inside a span."""

    def __init__(self, spark, wl, seed: int, run_dir: str, corpus: str):
        from checks import oracle_expected

        self.spark, self.wl, self.corpus = spark, wl, corpus
        self.oracle = oracle_expected(corpus, seed)
        self.extract_out = os.path.join(run_dir, "spans")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ref: tuple = ()
        self.curate_ref: tuple = ()
        self.last: dict = {}    # what the last pass returned
        self.samples: dict[str, list[float]] = {"pass_s": [], "resume_s": []}
        self.span = _no_span

    def extract(self, out: str, *, salted: bool, resume: bool = False, timed: bool = True,
                name: str | None = None) -> float | None:
        """One checked extract_job pass writing to ``out``; a resume pass
        first uncommits half of the buckets a full pass left there.
        Returns its wall time, or None if it failed."""
        from checks import execution_mark, executed_plans, uncommit_half
        from passes import extract_pass

        name = name or ("resume" if resume else "pass")
        if resume:
            uncommit_half(out)
        else:
            shutil.rmtree(out, ignore_errors=True)
        mark = execution_mark(self.spark)
        if timed:
            self.attempted += 1
        self.last = {}
        try:
            with (self.span if timed else _no_span)(name):
                t0 = time.perf_counter()
                self.last = extract_pass(self.spark, self.corpus, out, salted=salted, resume=resume)
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed pass is counted, the run goes on
            return self._fail(timed, f"{name}: {type(e).__name__}: {str(e)[:300]}")
        err = self._check(out, salted, resume, executed_plans(self.spark, mark))
        return self._fail(timed, f"{name}: {err}") if err else dt

    def _check(self, out: str, salted: bool, resume: bool, plans: list[str]) -> str | None:
        from checks import guard_extract, oracle_mismatches, read_spans, span_digest

        err = guard_extract(plans, salted)
        want_buckets = BUCKETS // 2 if resume else BUCKETS
        if len(self.last["buckets_committed"]) != want_buckets:
            err = err or f"committed {len(self.last['buckets_committed'])} buckets"
        spans = read_spans(out)
        d = span_digest(spans)
        if d["reading_order_bad_convs"]:
            err = err or f"reading_order not dense in {d['reading_order_bad_convs']} convs"
        mismatches = oracle_mismatches(spans, self.oracle)
        if mismatches:
            err = err or f"{len(mismatches)} of {len(self.oracle)} sampled turns: {mismatches[0]}"
        if err:
            return err
        # one reference for every pass: salted, unsalted and resumed
        # outputs must all equal the first pass's
        self.ref = self.ref or d["digest"]
        return None if d["digest"] == self.ref else f"spans {d['digest']} differ from first pass {self.ref}"

    def curate(self, corpus: str, out: str) -> float | None:
        """One timed curate_job pass; its funnel counts and survivors must
        equal the first curate pass's."""
        from checks import survivors_digest
        from passes import curate_pass

        self.attempted += 1
        self.last = {}
        try:
            with self.span("curate_pass"):
                t0 = time.perf_counter()
                self.last = curate_pass(self.spark, corpus, out, span=self.span)
                dt = time.perf_counter() - t0
        except Exception as e:
            return self._fail(True, f"curate_pass: {type(e).__name__}: {str(e)[:300]}")
        got = (self.last["funnel"], survivors_digest(out))
        self.curate_ref = self.curate_ref or got
        if got != self.curate_ref:
            return self._fail(True, f"curate_pass: {got} differs from first pass {self.curate_ref}")
        return dt

    def _fail(self, timed: bool, msg: str) -> None:
        if timed:
            self.failed += 1
        self.errors.append(msg)
        return None

    # the workload's own path --------------------------------------------------
    def warm_up(self):
        for _ in range(WARMUP_PASSES):
            self.extract(self.extract_out, salted=self.wl.salted, timed=False)
        self.extract(self.extract_out, salted=self.wl.salted, resume=True, timed=False)

    def measure(self, seconds: float):
        """Alternate a main pass and a resume pass until both series have
        at least MIN_SAMPLES samples and the timed total reaches seconds."""
        busy = 0.0
        while busy < seconds or min(map(len, self.samples.values())) < MIN_SAMPLES:
            for resume, series in ((False, "pass_s"), (True, "resume_s")):
                dt = self.extract(self.extract_out, salted=self.wl.salted, resume=resume)
                if dt is not None:
                    self.samples[series].append(dt)
                    busy += dt
            if self.failed >= MIN_SAMPLES:  # the program is broken: stop early
                break


def session_conf(spark) -> dict:
    keys = (
        "spark.master",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.python.worker.reuse",
        "spark.eventLog.enabled",
        "spark.driver.memory",
        "spark.ui.showConsoleProgress",
    )
    core = spark.sparkContext.getConf()
    return {
        k: spark.conf.get(k) if k.startswith("spark.sql.") else core.get(k, "Spark default")
        for k in keys
    }


def set_up(wl, seed: int, run_dir: str):
    """Corpus generation, session start, input splits. Returns the session,
    corpus path, corpus sizes and the phase times. The corpus comes first:
    its generator forks worker processes, which must not copy the threads
    of a running session. The one conf added to the job's session besides
    the input split size only hides the console progress bar."""
    t0 = time.perf_counter()
    corpus = os.path.join(run_dir, "corpus")
    sizes = make_corpus(wl, seed, corpus)
    t1 = time.perf_counter()
    spark = harness.start_session(APP, MASTER, {"spark.ui.showConsoleProgress": "false"})
    t2 = time.perf_counter()
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(sizes["max_partition_bytes"]))
    sizes["splits"] = spark.read.parquet(corpus).rdd.getNumPartitions()
    t3 = time.perf_counter()
    return spark, corpus, sizes, {"session.start_s": t2 - t1, "fixtures.corpus_s": t1 - t0 + t3 - t2}


def run_untraced(args, wl, run_dir: str) -> tuple[dict, dict]:
    spark, corpus, sizes, phases = set_up(wl, args.seed, run_dir)
    runner = PassRunner(spark, wl, args.seed, run_dir, corpus)
    t0 = time.perf_counter()
    runner.warm_up()
    phases["warmup_s"] = time.perf_counter() - t0
    if sizes["splits"] != sizes["files"]:
        runner.errors.append(f"{sizes['splits']} input splits for {sizes['files']} files")
    runner.measure(args.seconds)
    conf = session_conf(spark)
    harness.stop_session(spark)

    s = runner.samples
    metrics = {
        "turns_per_s": {"value": sizes["turns"] / _median(s["pass_s"]), "unit": "turns/s"},
        "resume_s": {"value": _median(s["resume_s"]), "unit": "s"},
        "setup_s": {"value": sum(phases.values()), "unit": "s"},
    }
    detail = {
        "phases_s": phases,
        "samples_s": s,
        "passes": {"main": len(s["pass_s"]), "resume": len(s["resume_s"])},
        "fail_frac": runner.failed / max(runner.attempted, 1),
        "corpus": sizes,
        "conf": conf,
        "errors": runner.errors[:20],
    }
    result = {
        "correct": not runner.errors and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _import_program()
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(WORK, f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    harness.prepare_env(run_dir)
    try:
        if args.trace:
            from ledger import run_traced

            result, detail = run_traced(args, wl, run_dir)
        else:
            result, detail = run_untraced(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail.update(
        workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cores=CORES, master=MASTER, closed_loop="1 driver, 1 job pass at a time",
        note=NOTE,
    )
    for k, m in result["metrics"].items():
        if not math.isfinite(m["value"]):  # no sample survived: the run is not correct
            m["value"], result["correct"] = 0.0, False
            detail.setdefault("undefined_metrics_read_as_0", []).append(k)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
