"""Mirror of the driver's correctness gate: run every __spark_entry__
query on Spark AND its DuckDB oracle on the same parquet, compare
row multisets exactly (column-name-sorted, like the driver's
order-insensitive value hash).

Runs at sf0.001 by default (fast); set SPARK_GRAFT_ORACLE_SF to test
at sf0.01 exactly like the driver.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    """Sort columns by name within each row, then sort rows — the
    driver's order-insensitive comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                # canonicalize -0.0 and NaN; values are pre-rounded by
                # the queries so exact compare is the contract
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


# DuckDB type name -> acceptable Spark simpleString types. The driver
# compares schemas, so the mirror must flag dtype drift (e.g. a Spark
# INT vs an un-cast DuckDB BIGINT), not just column names.
_DUCK_TO_SPARK = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "DATE": {"date"},
    "HUGEINT": set(),  # never acceptable — cast to BIGINT in the SQL
}


def _check_dtypes(name, sdf, dcols, dtypes):
    stypes = dict(sdf.dtypes)
    for col, d in zip(dcols, dtypes):
        allowed = _DUCK_TO_SPARK.get(d)
        if allowed is None:
            continue  # exotic type: value comparison still applies
        assert stypes.get(col) in allowed, (
            f"{name}.{col}: spark dtype {stypes.get(col)!r} vs duckdb {d}"
        )


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.sql(entrymod.oracle_sql()[name])
    dcols = res.columns
    dtypes = [str(t) for t in res.types]
    drows = res.fetchall()
    con.close()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    _check_dtypes(name, sdf, dcols, dtypes)
    sn = _normalize(srows, scols)
    dn = _normalize(drows, dcols)
    assert len(sn) == len(dn), f"{name}: row count {len(sn)} vs {len(dn)}"
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[0]}"


def test_ann_recall_releases_cached_frames(spark):
    """ann_recall persists the truth and each index's top-k while it
    scores them; once it returns, the session holds no more persistent
    RDDs than before (unpersist is asynchronous, so poll briefly)."""
    import time

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rows = entrymod.queries()["ann_recall"](spark, SF_DIR).collect()
    assert len(rows) == 3
    for _ in range(50):
        leaked = jsc.getPersistentRDDs().size() - before
        if leaked <= 0:
            break
        time.sleep(0.1)
    assert leaked <= 0


def test_every_query_has_entry_or_rows_only(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # rows-only queries still run and produce a stable schema
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_bench_queries_exist():
    """bench.py times its operator queries by name; a renamed or removed
    query must fail here, not in a bench run."""
    import bench

    assert set(bench.BENCH_QUERIES) <= set(entrymod.queries())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns
    assert len(rows) >= 0


def test_extract_spans_simple_oracle_adversarial(spark, tmp_path):
    """The simple-mode SQL oracle must track the kernel on a corpus
    with PLANTED structure (the driver's documents are plain lowercase
    words, which exercises almost nothing): banners, footers, fences,
    separators, headers, drop-capitals, header-vote regions and the
    binarized-retry gate, all reachable through the 8-token line wrap."""
    import pandas as pd

    w = "word"
    docs = [
        # header vote: 1-line region, model-B header
        "§NOTE: setup",
        # header vote: 2-line region, both model-B headers
        "§ABC: a b c d e f g §DEF: x",
        # vote mass fail: B-header line outweighed by a longer text line
        "§ABC: a b c d e f g " + " ".join(["verylongword"] * 8),
        # drop-capital final line (unmerged: dropcap is last in order)
        " ".join([w] * 8) + " A",
        # separator final line
        " ".join([w] * 8) + " ---",
        # per-line header regex final line
        " ".join([w] * 8) + " ## x",
        # banner-only single-line page: all border, 0 spans
        "=== x ===",
        # footer strips the last line
        " ".join([w] * 8) + " (c) 2025",
        # fences: marker line, tool line, closing marker line, text line
        "```py " + " ".join([w] * 7) + " " + " ".join([w] * 8)
        + " ``` " + " ".join([w] * 7) + " " + " ".join([w] * 8),
        # gate flip: every line disagrees (text vs blank) -> model B -> 0 spans
        " ".join(["§§§"] * 16),
        # marginalia final line
        " ".join([w] * 8) + " [note: x]",
        # multi-turn doc (5 lines -> 2 turns): conversation windows
        " ".join([f"tok{i}" for i in range(36)]),
        # piped rows: two adjacent table lines (tables variant groups
        # them into ONE region; plain variant treats them as text)
        " ".join([f"|c{i}|" for i in range(16)]),
    ]
    # bulk of plain pages with varying lengths
    docs += [" ".join([f"w{j}" for j in range(3 + (i * 7) % 29)]) for i in range(40)]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    pdf.to_parquet(tmp_path / "documents.parquet")

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    srows = scols = None
    for qname in (
        "extract_spans_simple",
        "extract_spans_tables_simple",
        "extract_spans_nofull_simple",
        "page_diags_simple",
        # the non-degenerate column/enhancement family: adversarial and
        # random token widths fuzz the cell split (left cells of every
        # length, right cells empty/short/truncated mid-token), so the
        # SQL valley machinery + §6p + §6m + §1e gates all see
        # planted/random structure, not just the driver's plain words
        "extract_spans_twocol_simple",
        "extract_spans_margin_simple",
        "extract_spans_shear_simple",
        "extract_spans_enhanced_simple",
        "page_diags_enhanced_simple",
    ):
        qdf = entrymod.queries()[qname](spark, str(tmp_path))
        qcols = qdf.columns
        qrows = [tuple(r) for r in qdf.collect()]
        res = con.sql(entrymod.oracle_sql()[qname])
        dcols = res.columns
        drows = res.fetchall()
        assert sorted(qcols) == sorted(dcols), qname
        sn = _normalize(qrows, qcols)
        dn = _normalize(drows, dcols)
        assert len(sn) == len(dn), f"{qname}: row count {len(sn)} vs {len(dn)}"
        mism = [(a, b) for a, b in zip(sn, dn) if a != b]
        assert not mism, f"{qname}: {len(mism)} mismatched; first: {mism[0]}"
        if qname == "extract_spans_simple":
            srows, scols = qrows, qcols
        if qname == "extract_spans_tables_simple":
            # the piped doc forms ONE table region of two spans
            tspans = [
                dict(zip(qcols, r)) for r in qrows
                if dict(zip(qcols, r))["region_type"] == "table"
            ]
            assert len(tspans) == 2
            assert len({t["region_seq"] for t in tspans}) == 1
    con.close()

    # sanity: the planted structure actually fired
    by_type = {}
    for r in srows:
        d = dict(zip(scols, [*r]))
        by_type.setdefault(d["region_type"], 0)
        by_type[d["region_type"]] += 1
    assert by_type.get("header", 0) >= 4  # votes + regex header
    assert by_type.get("drop-capital", 0) >= 1
    assert by_type.get("separator", 0) >= 1
    assert by_type.get("marginalia", 0) >= 1
    assert by_type.get("tool", 0) >= 1  # fence interior
    # banner-only page emitted nothing
    assert not any(r[0] == "doc6" for r in srows)


def test_simple_oracle_family_randomized_corpus(spark, tmp_path):
    """Fuzz-ish parity for the whole simple-mode oracle family: 120
    seeded random docs built from a vocabulary that includes every
    special token reachable through the 8-token wrap (banners, fence
    markers, footers, pipes, model-B headers, marginalia, separators,
    dropcaps as final tokens), pushed through Spark AND DuckDB in one
    batch per query."""
    import numpy as np
    import pandas as pd

    vocab = (
        ["word", "alpha", "beta", "§NOTE:", "§ABC:", "##", "|a|", "|b|c|",
         "```py", "```", "[note:", "x]", "===", "(c)", "Legal:", "§§§",
         "—–", "…x", "w" * 30]
    )
    finals = ["A", "---", "======", "## x", "(c) 2025"]  # short-final shapes
    rng = np.random.RandomState(1234)
    docs = []
    for i in range(120):
        n = int(rng.randint(1, 40))
        toks = [vocab[j] for j in rng.randint(0, len(vocab), n)]
        if rng.rand() < 0.4:  # doc-final short line
            f = finals[int(rng.randint(0, len(finals)))].split(" ")
            # align so the final tokens form their own (short) line
            pad = (-(len(toks) + len(f))) % 8
            toks += ["pad"] * ((8 - len(f) - (len(toks) % 8)) % 8) + f
        docs.append((i, " ".join(toks)))
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    for qname in (
        "extract_spans_simple",
        "extract_spans_tables_simple",
        "extract_spans_nofull_simple",
        "page_diags_simple",
        # the non-degenerate column/enhancement family: adversarial and
        # random token widths fuzz the cell split (left cells of every
        # length, right cells empty/short/truncated mid-token), so the
        # SQL valley machinery + §6p + §6m + §1e gates all see
        # planted/random structure, not just the driver's plain words
        "extract_spans_twocol_simple",
        "extract_spans_margin_simple",
        "extract_spans_shear_simple",
        "extract_spans_enhanced_simple",
        "page_diags_enhanced_simple",
    ):
        sdf = entrymod.queries()[qname](spark, str(tmp_path))
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.sql(entrymod.oracle_sql()[qname])
        dcols = res.columns
        drows = res.fetchall()
        sn = _normalize(srows, scols)
        dn = _normalize(drows, dcols)
        assert len(sn) == len(dn), f"{qname}: {len(sn)} vs {len(dn)}"
        mism = [(a, b) for a, b in zip(sn, dn) if a != b]
        assert not mism, f"{qname}: {len(mism)} mismatched; first: {mism[0]}"
    con.close()


def test_training_ops_oracle_family_randomized_corpus(spark, tmp_path):
    """Randomized-corpus parity for the training-assembly oracle
    family (shards/splits/chunks/BPE/diversity/preferences/SFT/e2e):
    150 seeded random docs with unicode, punctuation-heavy tokens,
    stopwords from every lexicon language and giant words, pushed
    through Spark AND DuckDB per query."""
    import numpy as np
    import pandas as pd

    vocab = [
        "word", "the", "und", "der", "le", "el", "é", "ü", "naïve",
        "…", "a", "bb", "x9", "!!", "a.b,c", "--", "(x)", "§", "##",
        "w" * 25, "1234", "mixedCASE", "¿qué?", "end.",
    ]
    rng = np.random.RandomState(4321)
    docs = []
    for i in range(150):
        n = int(rng.randint(1, 60))
        toks = [vocab[j] for j in rng.randint(0, len(vocab), n)]
        docs.append((i, " ".join(toks), "l%d" % (i % 3), "s%d" % (i % 5), n))
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    for qname in (
        "train_shards",
        "split_counts",
        "chunk_documents",
        "bpe_pair_counts",
        "ngram_diversity",
        "preference_pairs",
        "sft_pairs",
        "e2e_curate_to_shards",
    ):
        sdf = entrymod.queries()[qname](spark, str(tmp_path))
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.sql(entrymod.oracle_sql()[qname])
        dcols = res.columns
        drows = res.fetchall()
        sn = _normalize(srows, scols)
        dn = _normalize(drows, dcols)
        assert len(sn) == len(dn), f"{qname}: {len(sn)} vs {len(dn)}"
        mism = [(a, b) for a, b in zip(sn, dn) if a != b]
        assert not mism, f"{qname}: {len(mism)} mismatched; first: {mism[0]}"
    con.close()


def test_adherence_oracle_on_fragment_dense_corpus(spark, tmp_path):
    """Adversarial check of the full-mode extraction oracle's §9
    adherence tail: a planted corpus where MOST lines contain 1-2 char
    tokens forces many fragments per region, multiple bigs,
    equidistant ties (nearest-then-earliest), leading/trailing
    fragment runs, and fragment-only regions — far denser than the 3
    fragments sf0.01 happens to produce. Spark full-mode extraction
    and the DuckDB SQL must agree row-for-row."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(13)
    frag_words = ["a", "io", "zz", "q", "xy", "b"]
    big_words = ["table", "column", "windowed", "broadcast", "shuffle"]
    docs = []
    for d in range(120):
        n_tok = int(rng.integers(8, 64))
        toks = [
            str(rng.choice(frag_words if rng.random() < 0.55 else big_words))
            for _ in range(n_tok)
        ]
        docs.append((d, " ".join(toks)))
    sf = tmp_path / "sf_frag"
    sf.mkdir()
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        sf / "documents.parquet"
    )
    sdf = entrymod.queries()["extract_spans"](spark, str(sf))
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    res = con.sql(entrymod.oracle_sql()["extract_spans"])
    dcols = res.columns
    drows = res.fetchall()
    con.close()
    assert srows, "corpus produced no spans"
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert _normalize(srows, scols) == _normalize(drows, dcols)


def test_cl_oracle_exercises_higher_sigma(spark, tmp_path):
    """The §9L split's sigma scales with span length (sigma =
    min(1 + L//160, 8)); sf0.01 lorem lines stay under 160 chars so
    only the sigma=1 weights row is exercised there. A corpus of LONG
    tokens (8-token wrapped lines reach 200-400 chars) drives sigma
    2-3 through both engines — the variable-radius convolution and its
    generated weights table must still agree bit-for-bit."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(29)
    stems = ["colum", "windo", "shuff", "broad", "parti"]
    docs = []
    for d in range(60):
        n_tok = int(rng.integers(8, 40))
        toks = [
            str(rng.choice(stems)) * int(rng.integers(4, 10))
            for _ in range(n_tok)
        ]
        docs.append((d, " ".join(toks)))
    sf = tmp_path / "sf_long"
    sf.mkdir()
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        sf / "documents.parquet"
    )
    sdf = entrymod.queries()["extract_spans_cl_simple"](spark, str(sf))
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    # sanity: the corpus really reaches the higher-sigma regime and
    # really splits
    assert any(len(r[7]) >= 160 for r in srows) or any(
        r[5] > 0 for r in srows
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    res = con.sql(entrymod.oracle_sql()["extract_spans_cl_simple"])
    dcols = res.columns
    drows = res.fetchall()
    con.close()
    assert srows and len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert _normalize(srows, scols) == _normalize(drows, dcols)
