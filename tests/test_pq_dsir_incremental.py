"""Semantic tests for the round-3 additions: DSIR importance
resampling, incremental cross-snapshot dedup, and PQ quantization.
Oracle-parity for all three is covered generically by
tests/test_entry_oracle.py; these assert the operator-level contracts
(enrichment, plant detection, recall, plan shapes)."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# dsir_select
# ---------------------------------------------------------------------------
def test_dsir_enriches_target_language(spark):
    """The selected set must over-represent the target distribution:
    the en-share among DSIR picks exceeds the corpus base rate."""
    from eynollah_spark.operators.sampling import dsir_select

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sel = dsir_select(d, d.filter(F.col("lang") == "en"), n_select=100)
    langs = {r.doc_id: r.lang for r in d.select("doc_id", "lang").collect()}
    picked = [r.doc_id for r in sel.collect()]
    assert len(picked) == 100
    base = sum(1 for v in langs.values() if v == "en") / len(langs)
    got = sum(1 for i in picked if langs[i] == "en") / len(picked)
    assert got > base + 0.1, (got, base)


def test_dsir_deterministic_and_ranked(spark):
    from eynollah_spark.operators.sampling import dsir_select

    d = spark.read.parquet(f"{SF}/documents.parquet")
    tgt = d.filter(F.col("lang") == "en")
    a = dsir_select(d, tgt, n_select=50).collect()
    b = dsir_select(d.repartition(7), tgt, n_select=50).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    keys = [(-r.key_e6, r.doc_id) for r in sorted(a, key=lambda r: r.rank)]
    assert keys == sorted(keys)


def test_dsir_selection_is_take_ordered(spark):
    """Top-N compiles to TakeOrderedAndProject — no global sort."""
    from eynollah_spark.operators.sampling import dsir_select

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dsir_select(d, d.filter(F.col("lang") == "en"), n_select=10))
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------------------
# incremental_dedup
# ---------------------------------------------------------------------------
def test_incremental_dedup_flags_plants(spark):
    from eynollah_spark.operators.dedup import incremental_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = d.filter(F.col("doc_id") >= 50)
    plants_exact = d.filter(F.col("doc_id") >= 50).filter(
        F.col("doc_id") < 55
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    fresh = d.filter(F.col("doc_id") < 50)
    new = fresh.unionByName(plants_exact)
    out = {r.doc_id: r for r in incremental_dedup(new, idx).collect()}
    assert len(out) == new.count()
    for i in range(1050, 1055):
        assert out[i].dup_exact and not out[i].kept, out[i]
    # a planted copy of an INDEX doc is also a near-dup of itself
    for i in range(1050, 1055):
        assert out[i].dup_near, out[i]


def test_incremental_dedup_never_compares_index_to_index(spark):
    """New docs that match only each other (not the index) stay kept —
    the asymmetric contract: intra-snapshot duplicates are not this
    operator's job."""
    from eynollah_spark.operators.dedup import incremental_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 10)
    twin = base.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    new = base.unionByName(twin)  # exact dups of each other
    idx = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 220))
    out = incremental_dedup(new, idx).collect()
    assert all(r.kept for r in out), [r for r in out if not r.kept][:3]


# ---------------------------------------------------------------------------
# pq_codes / pq_topk
# ---------------------------------------------------------------------------
def test_pq_codes_shape_and_bounds(spark):
    from eynollah_spark.operators.similarity import pq_codes

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = pq_codes(e, dim=64, m=4, k=8, iters=2).collect()
    assert len(out) == e.count()
    for r in out[:50]:
        for s in range(4):
            assert 0 <= r[f"code{s}"] < 8
        assert -1.0 <= r.recon_cosine <= 1.0
    # reconstruction must beat chance: mean recon cosine positive
    mean = sum(r.recon_cosine for r in out) / len(out)
    assert mean > 0.2, mean


def test_pq_topk_recall_vs_brute_force(spark):
    """ADC over 4x16-dim codebooks of 8 centroids is lossy — and the
    synthetic embeddings are near-random (brute-force top cosines are
    only ~0.3, so neighbors are barely separated), the worst case for
    any quantized index. Still, recall must be well above chance:
    chance ~ 5/499 = 1%; measured 7.5% = 7.5x chance."""
    from eynollah_spark.operators.similarity import brute_force_topk, pq_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.vec_id) for r in brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in pq_topk(e, q, dim=64, m=4, k=8, iters=2, k_results=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.05, recall


def test_pq_codebook_joins_are_broadcast(spark):
    """The per-subspace code->reconstruction joins must broadcast the
    k-row codebook — the CORPUS is never sort-merge-joined on
    centroid_id. (hashpartitioning(centroid_id) exchanges do appear:
    they are the k*dim-bounded centroid-sum aggregations inside the
    Lloyd chain, which shrink to k rows map-side — legitimate.)"""
    import re

    from eynollah_spark.operators.similarity import pq_codes

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(pq_codes(e, dim=64, m=4, k=8, iters=2))
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"SortMergeJoin \[centroid_id", plan), plan


# ---------------------------------------------------------------------------
# bloom_probe
# ---------------------------------------------------------------------------
def test_bloom_probe_no_false_negatives(spark):
    """Bloom invariant: every exact dup must be flagged maybe_dup, at
    ANY filter size."""
    from eynollah_spark.operators.dedup import bloom_probe

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = d.filter(F.col("doc_id") >= 100)
    plants = idx.filter(F.col("doc_id") < 110).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    new = d.filter(F.col("doc_id") < 100).unionByName(plants)
    for m in (1 << 8, 1 << 16):
        out = bloom_probe(new, idx, m_bits=m).collect()
        assert all(r.maybe_dup for r in out if r.dup_exact), m
        assert all(not (r.dup_exact and r.false_positive) for r in out)


def test_bloom_probe_fp_rate_shrinks_with_m(spark):
    """Growing the filter must (weakly) shrink false positives; at
    production sizing (m >> k*n) FPs vanish."""
    from eynollah_spark.operators.dedup import bloom_probe

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = d.filter(F.col("doc_id") >= 100)
    new = d.filter(F.col("doc_id") < 100)
    fps = []
    for m in (1 << 8, 1 << 12, 1 << 20):
        out = bloom_probe(new, idx, m_bits=m).collect()
        fps.append(sum(1 for r in out if r.false_positive))
    assert fps[0] >= fps[1] >= fps[2]
    assert fps[2] == 0, fps


def test_bloom_index_is_bounded_and_broadcast(spark):
    """The probe join must broadcast the (word, bits) table; the
    bitmap row count is bounded by m_bits/32 regardless of corpus."""
    from eynollah_spark.operators.dedup import bloom_index, bloom_probe

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = d.filter(F.col("doc_id") >= 100)
    assert bloom_index(idx, m_bits=1 << 8).count() <= (1 << 8) // 32
    plan = _plan(bloom_probe(d.filter(F.col("doc_id") < 100), idx, m_bits=1 << 10))
    assert "BroadcastHashJoin [word" in plan, plan


def test_incremental_dedup_indexed_matches_recompute(spark, sf_dir, tmp_path):
    """Probing a persisted index snapshot (write_dedup_index) returns
    byte-identical results to recomputing the index frames in-plan —
    the snapshot is a checkpoint of the same plan. Knob mismatch
    raises instead of silently comparing incompatible sketches."""
    import pytest

    from eynollah_spark.operators.dedup import (
        incremental_dedup,
        incremental_dedup_indexed,
        write_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").unionByName(
        # recrawl shape: some index docs reappear as new with new ids
        index.limit(20).selectExpr("doc_id + 1000000 AS doc_id", "text")
    )
    path = str(tmp_path / "dedup_index")
    assert write_dedup_index(index, path) == 1

    live = sorted(map(tuple, incremental_dedup(new, index).collect()))
    snap = sorted(map(tuple, incremental_dedup_indexed(new, path).collect()))
    assert live == snap and snap
    # the planted recrawls must be flagged as exact dups of the index
    flagged = {r[0] for r in snap if r[1]}
    assert all(d >= 1000000 for d in flagged) and len(flagged) == 20

    with pytest.raises(ValueError, match="built with"):
        incremental_dedup_indexed(new, path, bands=8)


def test_dedup_index_commit_marker_and_tamper_guard(spark, sf_dir, tmp_path):
    """A snapshot version with no meta/ (crash before commit) is
    invisible to probes — they keep reading the last committed
    version; a committed snapshot whose frames were partially
    rewritten (row counts disagree with meta) raises instead of
    silently probing a torn index."""
    import shutil

    import pytest

    from eynollah_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").limit(40)
    path = str(tmp_path / "dedup_index")
    assert write_dedup_index(index, path) == 1
    committed = sorted(map(tuple, incremental_dedup_indexed(new, path).collect()))

    # crash mid-write of v=2: data frames exist, meta never written
    assert write_dedup_index(index.limit(10), path) == 2
    shutil.rmtree(f"{path}/v=2/meta")
    after_crash = sorted(
        map(tuple, incremental_dedup_indexed(new, path).collect())
    )
    assert after_crash == committed  # still reads v=1

    # torn committed snapshot: exact/ rewritten under v=1's meta
    index.limit(3).selectExpr("md5(text) AS _h").write.mode(
        "overwrite"
    ).parquet(f"{path}/v=1/exact")
    with pytest.raises(ValueError, match="torn or tampered"):
        incremental_dedup_indexed(new, path).collect()


def test_dedup_index_torn_meta_is_uncommitted(spark, sf_dir, tmp_path):
    """A crash DURING the meta write leaves ``v=<N>/meta/`` holding only
    the job's ``_temporary/`` (Spark creates the directory when the job
    starts, ``_SUCCESS`` when it commits). That version is uncommitted:
    probes fall back to the previous one instead of reading a torn
    meta frame."""
    import shutil

    from eynollah_spark.operators.dedup import (
        incremental_dedup_indexed,
        write_dedup_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").limit(40)
    path = str(tmp_path / "dedup_index")
    assert write_dedup_index(index, path) == 1
    committed = sorted(map(tuple, incremental_dedup_indexed(new, path).collect()))

    assert write_dedup_index(index.limit(10), path) == 2
    shutil.rmtree(f"{path}/v=2/meta")
    os.makedirs(f"{path}/v=2/meta/_temporary/0")
    assert os.path.isdir(f"{path}/v=2/meta")
    torn = sorted(map(tuple, incremental_dedup_indexed(new, path).collect()))
    assert torn == committed  # still reads v=1
