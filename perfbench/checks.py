"""Checks run on every timed pass: the executed-plan guard, the output
digests and the oracle sample; and the preparation of a resume pass.

A pass that fails any check counts as failed.
"""

from __future__ import annotations

import os
import re
import shutil

from passes import BUCKETS, RUN_ID

ORACLE_SAMPLE = 64   # turns checked against the reference on every pass
_NODE = re.compile(r"^[\s+\-:|]*(\*\s*)?([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)", re.M)


# --- executed plans ----------------------------------------------------------
def _store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def execution_mark(spark) -> int:
    """Number of SQL executions so far; pass it to ``executed_plans``."""
    return _store(spark).executionsList().size()


def executed_plans(spark, since: int) -> list[str]:
    """Final physical plans of the SQL executions started after ``since``.
    Drains the listener bus first: AQE posts the final plan as an event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = _store(spark).executionsList()
    return [ex.apply(i).physicalPlanDescription() for i in range(since, ex.size())]


def plan_shape(plan: str) -> dict:
    """Operator counts of the final plan tree (the AQE initial plan and
    the node detail sections are ignored)."""
    tree = plan.split("\n\n", 1)[0]
    for head in ("== Final Plan ==", "== Current Plan =="):
        if head in tree:
            tree = tree.split(head, 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = [(m.group(2).strip(), m.group(3)) for m in _NODE.finditer(tree)]
    exchanges = [nid for name, nid in nodes if name == "Exchange"]
    conv_exchanges = 0
    for nid in exchanges:
        detail = re.search(
            r"^\(%s\) Exchange\n(?:.*\n)*?Arguments: (.*)$" % nid, plan, re.M
        )
        if detail and re.match(r"hashpartitioning\(conv_id#", detail.group(1)):
            conv_exchanges += 1
    return {
        "windows": sum(1 for n, _ in nodes if n == "Window"),
        "exchanges": len(exchanges),
        "conv_exchanges": conv_exchanges,
        "sink_write": any("InsertIntoHadoopFsRelationCommand" in n for n, _ in nodes),
    }


def guard_extract(plans: list[str], salted: bool) -> str | None:
    """One sink write whose plan keeps the 3 windows and the conv_id
    exchange (two on the salted path), and no other exchange. Returns an
    error message, or None."""
    writes = [plan_shape(p) for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    n = 2 if salted else 1
    want = {"windows": 3, "exchanges": n, "conv_exchanges": n, "sink_write": True}
    if len(writes) != 1 or writes[0] != want:
        return f"plan guard: want one write {want}, got {writes}"
    return None


# --- output digests ----------------------------------------------------------
# Read in the driver with pyarrow, so a check adds no Spark job between
# two timed passes.
def _digest(df) -> tuple:
    """(rows, sum and xor of 64-bit row hashes): equal for equal
    multisets of rows, whatever their order."""
    import numpy as np
    import pandas as pd

    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return (len(df), int(h.sum(dtype=np.uint64)), int(np.bitwise_xor.reduce(h)) if len(h) else 0)


def read_spans(out: str):
    """The sink's committed spans (what ``BucketedSpanSink.read`` returns)
    as a pandas frame with every SPAN_SCHEMA column."""
    import pandas as pd
    import pyarrow.parquet as pq

    from eynollah_spark.io.sinks import BucketedSpanSink
    from eynollah_spark.operators.extract import SPAN_SCHEMA

    cols = SPAN_SCHEMA.fieldNames()
    sink = BucketedSpanSink(out, n_buckets=BUCKETS, run_tag=RUN_ID)
    parts = []
    for b in sorted(sink.done_buckets()):
        d = os.path.join(sink.data_dir, f"_bucket={b}")
        if os.path.isdir(d):
            parts.append(pq.read_table(d, columns=cols).to_pandas())
    if not parts:
        return pd.DataFrame(columns=cols)
    return pd.concat(parts, ignore_index=True)


def span_digest(spans) -> dict:
    """Digest over every SPAN_SCHEMA column, plus the number of
    conversations whose reading_order is not dense and 0-based."""
    g = spans.groupby("conv_id")["reading_order"].agg(["min", "max", "count", "nunique"])
    bad = (g["min"] != 0) | (g["max"] != g["count"] - 1) | (g["nunique"] != g["count"])
    return {"digest": _digest(spans), "reading_order_bad_convs": int(bad.sum())}


def survivors_digest(out: str) -> tuple:
    import pyarrow.parquet as pq

    return _digest(pq.read_table(out).to_pandas())


# --- resume ------------------------------------------------------------------
def uncommit_half(out: str) -> None:
    """Make ``out`` look like a run that crashed after committing the even
    buckets: drop the odd buckets' markers and data."""
    for b in range(1, BUCKETS, 2):
        marker = os.path.join(out, "manifest", RUN_ID, f"bucket={b}._done")
        if os.path.exists(marker):
            os.remove(marker)
        shutil.rmtree(os.path.join(out, "data", f"_bucket={b}"), ignore_errors=True)


# --- oracle sample -----------------------------------------------------------
def oracle_expected(corpus: str, seed: int) -> dict:
    """Spans of a seeded sample of turns from the single-node reference
    (``oracle/reference.py:analyze_turn_naive``), as
    {(conv_id, turn_idx): [(char_start, char_end, text), ...]}."""
    import numpy as np
    import pyarrow.parquet as pq

    from eynollah_spark.oracle.reference import analyze_turn_naive
    from passes import job_config

    cfg = job_config()
    turns = pq.read_table(corpus, columns=["conv_id", "turn_idx", "role", "text"]).to_pandas()
    turns = turns.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    pick = turns.iloc[np.random.RandomState(seed).choice(len(turns), min(ORACLE_SAMPLE, len(turns)), False)]
    return {
        (t.conv_id, t.turn_idx): [
            (x.char_start, x.char_end, x.text) for x in analyze_turn_naive(t.text or "", t.role, cfg)
        ]
        for t in pick.itertuples(index=False)
    }


def oracle_mismatches(spans, expected: dict) -> list[str]:
    """Sampled turns whose spans in ``spans`` (the frame ``read_spans``
    returns) differ from the reference in text or offsets."""
    import pandas as pd

    keys = pd.DataFrame(list(expected), columns=["conv_id", "turn_idx"])
    got = {
        k: list(g.sort_values("span_idx")[["char_start", "char_end", "text"]]
                .itertuples(index=False, name=None))
        for k, g in spans.merge(keys, on=["conv_id", "turn_idx"]).groupby(["conv_id", "turn_idx"])
    }
    return [f"oracle mismatch at {c}/{t}" for (c, t), want in expected.items()
            if got.get((c, t), []) != want]
