"""The traced run: a per-layer ledger of the extraction and curation
pipeline, measured from outside the program.

Layers are same-session prefix runs of the job's own public calls:

    L0   scan                noop write of the 4 pruned columns
    L1   raw_spans           + Arrow kernel in mapInPandas
    L1p  in-process kernel   analyze_turns_frames on one thread, same batches
    L2   extract_spans       + conv_id exchange and the 3 windows
    L3   extract_pass        + bucketed sink commit (the job's pass)

A layer's self time is the difference between adjacent prefixes. Every
call runs inside a span (name, start, end, parent); Spark jobs are tagged
with the span through ``setJobDescription`` and Spark's event log, on in
this run only, attributes stages and tasks to spans. Spans are kept in
memory and written next to the run's result at exit.

The L3, resume and untraced passes and the timed curate passes are the
run's checked passes (``run.PassRunner``): the result's ``attempted`` and
``failed`` count them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import harness
from harness import CORES, MASTER, WORK

LEDGER_REPS = 2        # samples of every prefix row
UNTRACED_PASSES = 2    # untraced local[4] passes before tracing starts


class Tracer:
    def __init__(self):
        self.spark = None  # set once the traced session runs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"{name}#{sid}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            print(f"span {name}: {rec['s']:.2f} s", file=sys.stderr, flush=True)
            self._stack.pop()
            if self.spark is not None:
                parent = self.spans[self._stack[-1]] if self._stack else None
                self.spark.sparkContext.setJobDescription(
                    f"{parent['name']}#{parent['id']}" if parent else None
                )

    def samples(self, name: str) -> list[float]:
        return [s["s"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        xs = self.samples(name)
        return statistics.median(xs) if xs else float("nan")


# --- event log ---------------------------------------------------------------
_PY = {
    "time to run Python workers": "py_run",
    "time to start Python workers": "py_boot",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per span tag ("name#id"): jobs, tasks and their summed metrics."""
    stage_tag, out = {}, {}
    files = [  # one file, or Spark 4's rolling events_<n>_<app> files
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(("appstatus", "."))  # skip the .crc checksum files
    ]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1])
               if os.path.basename(p).startswith("events_") else 0)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
                    if tag:
                        out.setdefault(tag, _empty())["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev["Stage ID"])
                    if tag:
                        _add_task(out.setdefault(tag, _empty()), ev)
    return out


def _empty() -> dict:
    return {
        "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0,
        "shuffle_records": 0, "spill_bytes": 0, "py_run": 0, "py_boot": 0,
        "py_sent": 0, "py_returned": 0, "reduce_task_ms": {},
    }


def _add_task(agg: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    agg["tasks"] += 1
    agg["run_ms"] += tm.get("Executor Run Time", 0)
    agg["gc_ms"] += tm.get("JVM GC Time", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    agg["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    agg["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    if (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0):
        agg["reduce_task_ms"].setdefault(ev["Stage ID"], []).append(
            tm.get("Executor Run Time", 0)
        )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY.get(acc.get("Name"))
        if key:
            agg[key] += int(acc.get("Update") or 0)


# --- in-process kernel (L1') -----------------------------------------------------
def arrow_batches(corpus: str, batch_rows: int):
    """The corpus as pandas batches of at most ``batch_rows`` rows, one
    file (= one input split) after another, as mapInPandas feeds them."""
    import pyarrow.parquet as pq

    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(corpus, f), columns=["conv_id", "turn_idx", "role", "text"])
            for b in t.to_batches(max_chunksize=batch_rows):
                yield b.to_pandas()


# --- the traced run ----------------------------------------------------------------
def run_traced(args, wl, run_dir: str) -> tuple[dict, dict]:
    from eynollah_spark.kernel.textpage import LineModel, analyze_turns_frames, page_diags_batch
    from eynollah_spark.metrics import ExtractMetrics
    from eynollah_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from eynollah_spark.operators.extract import extract_spans, raw_spans

    from passes import NEAR_DUP_T, curate_docs, curate_gate, job_config
    from run import APP, PassRunner, session_conf, set_up
    from workloads import make_curate_corpus

    tr = Tracer()
    with tr.span("setup"):
        spark, corpus, sizes, phases = set_up(wl, args.seed, run_dir)
        runner = PassRunner(spark, wl, args.seed, run_dir, corpus)
        with tr.span("warmup"):
            runner.warm_up()
    runner.span = tr.span
    n_turns = sizes["turns"]
    cfg = job_config()
    read = lambda: spark.read.parquet(corpus)  # noqa: E731
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    out_u = os.path.join(run_dir, "spans_unsalted")
    out_s = os.path.join(run_dir, "spans_salted")
    path_out = out_s if wl.salted else out_u
    counters = {}

    # the workload's pass untraced, in this JVM: the base of
    # trace.overhead_frac
    for _ in range(UNTRACED_PASSES):
        runner.extract(path_out, salted=wl.salted, name="untraced.pass")
    # Spark reads the event-log conf when a context starts: stop this one
    # and start a traced one in the same (warm) JVM
    spark.stop()
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    spark = harness.start_session(APP + "-traced", MASTER, {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(sizes["max_partition_bytes"]))
    tr.spark = runner.spark = spark
    with tr.span("warmup.traced_context"):  # the new context's Python workers
        noop(raw_spans(read(), cfg))
    rss = harness.RssSampler().start(harness.jvm_pid())

    # every L3 and resume pass is a checked, timed pass of the runner
    for _ in range(LEDGER_REPS):
        with tr.span("L0.scan"):
            noop(read().select("conv_id", "turn_idx", "role", "text"))
        with tr.span("L1.raw_spans"):
            noop(raw_spans(read(), cfg))
        m = ExtractMetrics.create(spark)
        with tr.span("L1.raw_spans+metrics"):
            noop(raw_spans(read(), cfg, metrics=m))
        counters["L1"] = m.snapshot()
        with tr.span("L2.extract_spans"):
            noop(extract_spans(read(), cfg))
        for salted, out in ((False, out_u), (True, out_s)):
            if salted == wl.salted:  # memory of the workload's own pass
                rss.active.set()
            runner.extract(out, salted=salted, name="L3.sink_salted" if salted else "L3.sink")
            rss.active.clear()
    # one resume pass: its row is a count, not a time
    runner.extract(path_out, salted=wl.salted, resume=True, name="resume")
    counters["resume"] = runner.last.get("counters", {})
    sink_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(out_u, "data"))
        for f in fs if f.endswith(".parquet")
    ]

    # L1': the kernel in this process, one thread, Arrow-sized batches
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = list(arrow_batches(corpus, batch_rows))
    model = LineModel(cfg)
    spans_out = 0
    for _ in range(LEDGER_REPS):
        with tr.span("L1p.kernel_in_process"):
            spans_out = sum(len(f) for b in batches for f in analyze_turns_frames(b, model))
    with tr.span("kernel.diags_in_process"):
        for b in batches:
            page_diags_batch(b, model)

    # curate flow rows on a small corpus of their own (MinHash-LSH over
    # the workload corpus would take most of the run's time limit), with
    # exact and near duplicates built in. The candidate pairs come first:
    # they run the job's curate operators on the same corpus, so they
    # also pay the session's code generation before the timed passes.
    sub = os.path.join(run_dir, "curate_corpus")
    curated = os.path.join(run_dir, "curated")
    sub_sizes = make_curate_corpus(args.seed, sub)
    read_sub = lambda: spark.read.parquet(sub)  # noqa: E731
    with tr.span("dedup.candidates"):
        exact = dedup_exact(curate_gate(curate_docs(extract_spans(read_sub()))))
        jac = [r.jaccard for r in minhash_lsh_pairs(exact, threshold=0.0).collect()]
    n_cand, n_verified = len(jac), sum(j >= NEAR_DUP_T for j in jac)
    for _ in range(LEDGER_REPS):
        with tr.span("C.extract_spans"):
            noop(extract_spans(read_sub()))
        runner.curate(sub, curated)

    conf = session_conf(spark)
    rss.close()
    tr.spark = None
    with tr.span("teardown.stop_session"):
        harness.stop_session(spark)
    with tr.span("teardown.read_event_log"):
        ev = read_event_log(log_dir)

    def agg(name: str) -> list[dict]:
        return [ev.get(f"{s['name']}#{s['id']}", _empty()) for s in tr.spans if s["name"] == name]

    def jobs_per_tree(name: str) -> list[int]:
        """Spark jobs of each span called name, with every span under it."""
        out = []
        for root in (s["id"] for s in tr.spans if s["name"] == name):
            ids = {root}
            for s in tr.spans:  # parents come before children
                if s["parent"] in ids:
                    ids.add(s["id"])
            out.append(sum(ev.get(f"{s['name']}#{s['id']}", _empty())["jobs"]
                           for s in tr.spans if s["id"] in ids))
        return out

    def med(xs):
        return statistics.median(xs) if xs else float("nan")

    path = "L3.sink_salted" if wl.salted else "L3.sink"
    l1, l2, l3 = agg("L1.raw_spans"), agg("L2.extract_spans"), agg(path)
    py_run = med([a["py_run"] / 1e3 for a in l1])  # SQL timing metrics are in ms
    skew = [
        max(ms) / max(statistics.median(ms), 1)
        for a in l2 for ms in a["reduce_task_ms"].values()
    ]
    trace_tps = n_turns / tr.median(path)
    tps_untraced = n_turns / tr.median("untraced.pass")
    L = {k: tr.median(k) for k in (
        "L0.scan", "L1.raw_spans", "L1.raw_spans+metrics", "L1p.kernel_in_process",
        "L2.extract_spans", "L3.sink", "L3.sink_salted", "resume", "C.extract_spans",
        "C0.reassembly", "C1.quality", "C2.dedup_exact", "C3.minhash_lsh",
    )}
    m = {
        "session.start_s": (phases["session.start_s"], "s"),
        "fixtures.corpus_s": (phases["fixtures.corpus_s"], "s"),
        "warmup_s": (tr.median("warmup"), "s"),
        "ledger.L1p_s": (L["L1p.kernel_in_process"], "s"),
        "ledger.L2_s": (L["L2.extract_spans"], "s"),
        "ledger.L3_s": (L["L3.sink"], "s"),
        "scan.s": (L["L0.scan"], "s"),
        "kernel.textpage.turns_per_s": (n_turns / L["L1p.kernel_in_process"], "turns/s"),
        "kernel.textpage.spans_out": (spans_out, "count"),
        "kernel.textpage.diags_turns_per_s": (n_turns / tr.median("kernel.diags_in_process"), "turns/s"),
        "operators.extract.raw_spans_s": (L["L1.raw_spans"], "s"),
        "operators.extract.py_run_s": (py_run, "s"),
        "operators.extract.py_boot_s": (med([a["py_boot"] / 1e3 for a in l1]), "s"),
        "operators.extract.py_bytes_sent": (med([a["py_sent"] for a in l1]), "B"),
        "operators.extract.py_bytes_returned": (med([a["py_returned"] for a in l1]), "B"),
        "operators.extract.boundary_s": (py_run - L["L1p.kernel_in_process"], "s"),
        "operators.extract.windows_s": (L["L2.extract_spans"] - L["L1.raw_spans"], "s"),
        "operators.extract.shuffle_bytes": (med([a["shuffle_bytes"] for a in l2]), "B"),
        "operators.extract.shuffle_records": (med([a["shuffle_records"] for a in l2]), "count"),
        "operators.extract.spill_bytes": (med([a["spill_bytes"] for a in l2]), "B"),
        "operators.extract.window_task_max_over_p50": (med(skew), "ratio"),
        "operators.extract.salted_over_unsalted": (L["L3.sink_salted"] / L["L3.sink"], "ratio"),
        "io.sinks.write_s": (L["L3.sink"] - L["L2.extract_spans"], "s"),
        "io.sinks.files": (len(sink_files), "count"),
        "io.sinks.bytes": (sum(os.path.getsize(f) for f in sink_files), "B"),
        "io.sinks.resume_pruned_frac": (
            1 - counters["resume"].get("turns_in", float("nan")) / n_turns, "ratio"
        ),
        "metrics.accumulator_s": (L["L1.raw_spans+metrics"] - L["L1.raw_spans"], "s"),
        "metrics.turns_in_ratio": (counters["L1"]["turns_in"] / n_turns, "ratio"),
        # curate rows are the job's own actions: docs.count() (cached), then
        # gated.count(), exact.count() and the survivors write, each of
        # which recomputes the previous (uncached) steps
        "jobs.curate.reassembly_s": (L["C0.reassembly"] - L["C.extract_spans"], "s"),
        "operators.text_analysis.quality_s": (L["C1.quality"], "s"),
        "operators.dedup.exact_s": (L["C2.dedup_exact"] - L["C1.quality"], "s"),
        "operators.dedup.minhash_lsh_s": (L["C3.minhash_lsh"] - L["C2.dedup_exact"], "s"),
        # no candidate pair at all reads 0: nothing useful came out
        "operators.dedup.verified_over_candidates": (n_verified / max(n_cand, 1), "ratio"),
        "jobs.curate.spark_jobs": (med(jobs_per_tree("curate_pass")), "count"),
        "spark.jobs": (med([a["jobs"] for a in l3]), "count"),
        "spark.tasks": (med([a["tasks"] for a in l3]), "count"),
        "spark.gc_s": (med([a["gc_ms"] / 1e3 for a in l3]), "s"),
        "spark.core_busy_frac": (
            sum(a["run_ms"] for a in l3) / 1e3 / (CORES * sum(tr.samples(path))), "ratio"
        ),
        "memory.peak_rss_mb": (rss.peak / 2**20, "MiB"),
        "memory.jvm_rss_mb": (rss.peak_jvm / 2**20, "MiB"),
        "memory.workers_rss_mb": (rss.peak_workers / 2**20, "MiB"),
        "trace.turns_per_s": (trace_tps, "turns/s"),
        "trace.overhead_frac": (1 - trace_tps / tps_untraced, "ratio"),
    }
    errors = runner.errors
    trace_file = os.path.join(WORK, "results", f"trace-{os.path.basename(run_dir)}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    with open(trace_file, "w") as f:
        json.dump({"spans": tr.spans, "event_log": ev}, f, default=str)
    detail = {
        "ledger_samples_s": {k: tr.samples(k) for k in L} | {path + ".wall": tr.samples(path)},
        "untraced_pass_s": tr.samples("untraced.pass"),
        "curate_rows": {**sub_sizes, "candidates": n_cand, "verified": n_verified,
                        "result": runner.last},
        "corpus": sizes,
        "conf": conf,
        "trace_file": trace_file,
        "errors": errors[:20],
    }
    result = {
        "correct": not errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    return result, detail
