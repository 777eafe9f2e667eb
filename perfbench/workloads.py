"""Seeded workload inputs. Each workload writes one parquet corpus in
``SPLITS`` files; the program under test only ever sees that parquet.

- ``extract_std``: the standard ``CorpusSpec`` feature mix, extract job
  with default flags.
- ``agent_longconv``: one agent conversation of ``AGENT_TURNS`` short
  turns (tool calls, JSON tool results, one-line assistant turns) plus a
  small share of ordinary conversations; extract job with ``--salted``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from harness import CORES

# two input splits per core, as production volume would give
SPLITS = 2 * CORES
AGENT_TURNS = 100_000
# conv_id of the long agent conversation: it hashes to an odd sink
# bucket, so it is always among the buckets a resume must rewrite
AGENT_CONV = "agent00000001"
# curate rows' corpus: standard conversations, and cut copies of some
CURATE_CONVS = 60
CURATE_COPIES = 20
CURATE_KEEP = (1.0, 0.9, 0.7, 0.5, 0.3)
# TRANSCRIPT_SCHEMA as Arrow types
_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
_TOOLS = ("search", "calculator", "browser", "python", "db_query")
_WORDS = (
    "read the file then run tests again and check output for errors "
    "before patching config values in build scripts"
).split()


@dataclass(frozen=True)
class Workload:
    name: str
    salted: bool         # extract_job --salted
    std_turns: int       # turns of standard CorpusSpec conversations
    agent_turns: int = 0


WORKLOADS = {
    "extract_std": Workload("extract_std", False, std_turns=10_000),
    "agent_longconv": Workload("agent_longconv", True, std_turns=1_800, agent_turns=AGENT_TURNS),
}


def _std_convs(job: tuple[int, int, int]):
    """Rows of standard conversations lo..hi-1, as generate_local makes them."""
    from eynollah_spark.fixtures.transcripts import CorpusSpec, conv_id_for, gen_turn, n_turns_for

    seed, lo, hi = job
    spec = CorpusSpec(seed=seed)
    return [(conv_id_for(c), t, *gen_turn(c, t, spec))
            for c in range(lo, hi) for t in range(n_turns_for(c, spec))]


def _std_turns(seed: int, n: int):
    """The first n turns of the standard CorpusSpec corpus for this seed
    (the last conversation cut short): the seed changes the content, the
    amount of work stays fixed. Generated by CORES processes; call it
    before the Spark session starts, so the fork copies no JVM threads."""
    import multiprocessing

    import pandas as pd

    from eynollah_spark.fixtures.transcripts import CorpusSpec, n_turns_for

    spec, convs, total = CorpusSpec(seed=seed), 0, 0
    while total < n:
        total += n_turns_for(convs, spec)
        convs += 1
    cut = np.linspace(0, convs, CORES + 1).astype(int)
    pool = multiprocessing.get_context("fork").Pool(CORES)
    try:
        parts = pool.map(_std_convs, [(seed, cut[i], cut[i + 1]) for i in range(CORES)])
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    rows = [r for p in parts for r in p]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]).iloc[:n]


def _agent_turns(seed: int, n: int):
    """One long agent conversation: a seeded mix of tool calls, JSON tool
    results and one-line assistant turns."""
    import pandas as pd

    r = np.random.RandomState(seed)
    kind = r.randint(0, 3, n)
    tool = pd.Series(np.array(_TOOLS, dtype=object)[r.randint(0, len(_TOOLS), n)])
    w = [pd.Series(np.array(_WORDS, dtype=object)[r.randint(0, len(_WORDS), n)]) for _ in range(4)]
    val = pd.Series(r.randint(0, 1000, n)).astype(str)
    score = pd.Series(r.rand(n)).map("{:.3f}".format)
    call = "call " + tool + ' {"q": "' + w[0] + " " + w[1] + '"}'
    result = '{"result": ' + val + ', "score": ' + score + "}"
    say = w[0] + " " + w[1] + " " + w[2] + " " + w[3] + "."
    return pd.DataFrame({
        "conv_id": AGENT_CONV,
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": np.where(kind == 1, "tool", "assistant"),
        "text": np.select([kind == 0, kind == 1], [call, result], say),
        "tool": tool.where(kind == 1, ""),
        "ts": pd.Timestamp("2025-06-01") + pd.to_timedelta(np.arange(n), unit="s"),
    })


def make_corpus(wl: Workload, seed: int, path: str) -> dict:
    """Write the workload's corpus to ``path`` as SPLITS parquet files,
    in this process (no Spark job), and return its sizes."""
    import pandas as pd
    import pyarrow.parquet as pq

    turns = _std_turns(seed, wl.std_turns)
    if wl.agent_turns:
        turns = pd.concat([turns, _agent_turns(seed, wl.agent_turns)], ignore_index=True)
    table = pa.Table.from_pandas(turns, schema=_ARROW_SCHEMA, preserve_index=False)
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, SPLITS + 1).astype(int)
    for i in range(SPLITS):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    n_turns, max_bytes = corpus_turns(path)
    return {
        "turns": n_turns,
        "convs": int(turns["conv_id"].nunique()),
        "max_turns_per_conv": int(turns["turn_idx"].max()) + 1,
        "bytes": sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)),
        "files": SPLITS,
        "max_partition_bytes": max_bytes,
    }


def make_curate_corpus(seed: int, path: str) -> dict:
    """The curate rows' corpus: CURATE_CONVS standard conversations plus
    copies of the first CURATE_COPIES of them, each cut to a share of its
    turns (CURATE_KEEP, in turn), so exact dedup and MinHash-LSH both
    have work: a whole copy is an exact duplicate, a cut one a near
    duplicate whose Jaccard similarity is about the share kept."""
    import pandas as pd
    import pyarrow.parquet as pq

    from eynollah_spark.fixtures.transcripts import CorpusSpec, generate_local

    turns = generate_local(CorpusSpec(n_convs=CURATE_CONVS, seed=seed))
    n = turns.groupby("conv_id")["turn_idx"].max() + 1
    copies = []
    for i, cid in enumerate(sorted(n.index)[:CURATE_COPIES]):
        keep = max(1, round(n[cid] * CURATE_KEEP[i % len(CURATE_KEEP)]))
        c = turns[(turns["conv_id"] == cid) & (turns["turn_idx"] < keep)]
        copies.append(c.assign(conv_id="dup" + cid))
    turns = pd.concat([turns, *copies], ignore_index=True)
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pandas(turns, schema=_ARROW_SCHEMA, preserve_index=False),
        os.path.join(path, "part-00000.parquet"),
    )
    return {"convs": CURATE_CONVS, "copies": CURATE_COPIES, "keep": CURATE_KEEP,
            "turns": len(turns)}


def corpus_turns(path: str) -> tuple[int, int]:
    """(turns, split size): the split size is the largest file, so each
    file is one input split (the 4 MB open cost keeps two files apart)."""
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return (
        sum(pq.read_metadata(f).num_rows for f in files),
        max(os.path.getsize(f) for f in files),
    )
