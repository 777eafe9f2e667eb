"""Deduplication operators over a document corpus.

These are the scale-path operators a 100 TB training-data pipeline
needs (task brief): exact hash dedup, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup. All are pure DataFrame
compositions — no Python UDFs anywhere — so every stage stays in
whole-stage codegen and shuffles only on the keys it must.

Scale notes:
- exact dedup: one hash-shuffle on md5(text) — the minimum possible.
- MinHash/LSH: cost is O(docs x shingles) map-side + one shuffle on
  (band_id, band_signature). Candidate verification joins only within
  buckets — never the full cross product.
- SimHash: 64-bit signature built by bit-vote aggregation; near-dup
  candidates are bucketed by signature bands (hamming-adjacent pairs
  collide in at least one band for small distances).
- embedding near-dup: random-hyperplane LSH buckets, cosine verified
  inside buckets only.

Determinism: every hash is md5-derived (first 15 hex chars -> bigint),
so results are identical across engines — the DuckDB oracle in
__spark_entry__.py reproduces them with the same md5 arithmetic.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _h64(col):
    """Deterministic 60-bit hash of a string column, portable to any
    engine with md5: bigint(hex(md5(x))[0:15])."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic xor-rotate permutation constants (k_i, r_i):
    k_i is the 60-bit md5 of 'perm:i', r_i a rotation in [1, 59]
    derived from it. Engine-portable (plain integers baked into the
    plan / oracle SQL)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        k = int(hashlib.md5(f"perm:{i}".encode()).hexdigest()[:15], 16)
        out.append((k, k % 59 + 1))
    return out


def _perm_mix(base, k: int, r: int):
    """Bijective 60-bit mix: rotate-left(base XOR k, r) within 60
    bits. One-permutation-hashing style: ONE cryptographic hash per
    shingle, then cheap integer bijections per permutation — 16x
    fewer md5s than hashing (i, shingle) per permutation, with the
    same portability (the oracle mirrors the identical arithmetic).
    All intermediates stay under 2^60, so no int64 overflow on any
    engine."""
    x = base.bitwiseXOR(F.lit(k))
    low = (1 << (60 - r)) - 1
    return F.shiftleft(x.bitwiseAND(F.lit(low)), r).bitwiseOR(
        F.shiftright(x, 60 - r)
    )


def _shingle_explode(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, shingle) with one row per k-word shingle occurrence.

    Built as explode(arrays_zip(k shifted slices)) + a POST-explode
    concat_ws: no higher-order function anywhere, so the whole stage
    stays in whole-stage codegen. The natural transform(sequence, i ->
    concat_ws(slice)) formulation runs its lambda interpreted
    (HOFs opt out of codegen) and measured 7x slower on the same
    corpus. Semantics are identical, including the n < k edge: the
    j-th slice has min(m, n-j) elements, arrays_zip right-pads with
    null, and concat_ws skips nulls — exactly the short shingle the
    sequence form emits (verified by exceptAll in both directions)."""
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    m = F.greatest(n - k, F.lit(0)) + 1
    z = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(k)])
    return (
        df.select("doc_id", F.explode(z).alias("_z"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col("_z").getField(str(j)) for j in range(k)]
            ).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
    )


def word_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """doc_id -> exploded distinct k-word shingles (JVM-side only:
    split/slice/zip/explode, no Python, no interpreted lambdas)."""
    return _shingle_explode(df, text_col, k).distinct()


def shingle_hashes(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """doc_id -> distinct 60-bit shingle HASHES (hb). The MinHash
    family's working domain: hashing before the distinct means every
    shuffle in signatures and verification moves 8-byte bigints
    instead of shingle strings — at 100 TB that is the difference
    between shuffling ~2 bytes/char of text k times over and a fixed
    8 bytes per shingle. Set semantics shift from exact strings to the
    60-bit hash space (a pair of distinct shingles collides with
    p = 2^-60; the DuckDB oracle mirrors the identical arithmetic, so
    results stay engine-exact). ``word_shingles`` remains the exact
    string-domain baseline used by ngram_jaccard_pairs."""
    return (
        _shingle_explode(df, text_col, k)
        .select("doc_id", _h64(F.col("shingle")).alias("hb"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# 1. exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
def exact_duplicates(
    df: DataFrame, text_col: str = "text", sample_ids: int = 10
) -> DataFrame:
    """Groups of byte-identical documents:
    (text_hash, n_docs, keep_doc_id, doc_ids_sample).

    Row width AND aggregation-buffer width are O(sample_ids), not
    O(group size): a 10M-copy boilerplate document yields one row with
    n_docs=10M, the minimum doc_id to keep, and at most ``sample_ids``
    example ids. The rank filter runs BEFORE the collect, so no
    10M-element array is ever materialized in a buffer; the groupBy
    reuses the window's text_hash exchange."""
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    ranked = df.select(
        F.md5(F.col(text_col)).alias("text_hash"), "doc_id"
    ).select(
        "text_hash",
        "doc_id",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("text_hash")).alias("_n"),
    )
    return (
        ranked.filter(F.col("_n") > 1)
        .filter(F.col("_rn") <= sample_ids)
        .groupBy("text_hash")
        .agg(
            F.max("_n").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids_sample"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per identical text (min_by, T2 analog)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard near-dup (shingle join)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over k-word shingle sets, via a shingle equi-join.

    Shuffle pattern: one exchange on `shingle`, one agg on (a,b).
    A hot shingle ("the quick brown" everywhere) creates skew: a
    shingle shared by d docs yields d^2 join rows. ``max_doc_freq``
    drops shingles appearing in more than that many documents BEFORE
    sizes and the join (the standard stopword-shingle filter), so the
    worst-case join fan-out is bounded by max_doc_freq^2 per shingle.
    Jaccard is then computed over the capped shingle universe — the
    DuckDB oracle mirrors the same cap. Pass None for the exact
    uncapped semantics at small scale.
    """
    sh = word_shingles(df, text_col, k)
    if max_doc_freq is not None:
        # one shuffle: count df with a shingle-partitioned window (the
        # self-join downstream is keyed on shingle too, so the exchange
        # is reusable) instead of a groupBy + anti-join pair
        wdf = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes is one row per doc WITH shingles — unbounded at corpus
    # scale, so no broadcast hint: AQE picks broadcast-vs-shuffle from
    # the measured size at runtime (same decision minhash_lsh_pairs
    # already delegates for its candidate set)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame, text_col: str = "text", k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """doc_id -> array<bigint> of minhashes. One 60-bit md5 per
    shingle, permutation i applied as the xor-rotate bijection of
    ``_perm_mix`` — deterministic and engine-portable. Works in the
    hb domain (``shingle_hashes``): the distinct and the signature
    groupBy both shuffle bigints, never shingle strings."""
    sh = shingle_hashes(df, text_col, k)
    aggs = [
        F.min(_perm_mix(F.col("hb"), kk, rr)).alias(f"h{i}")
        for i, (kk, rr) in enumerate(_perm_consts(num_hashes))
    ]
    # n_sh (set size, needed by Jaccard verification) rides the same
    # groupBy so callers never re-scan the shingles for sizes
    sig = sh.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("n_sh"))
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        "n_sh",
    )


def _banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Explode a signature frame into (doc_id, n_sh, band, bsig) band
    rows: bsig = md5 of the band's ``rows`` consecutive minhashes."""
    return sig.select(
        "doc_id",
        "n_sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(",", F.transform(F.slice("sig", b * rows + 1, rows), lambda h: h.cast("string")))
                    ).alias("bsig"),
                ),
            )
        ).alias("bs"),
    ).select("doc_id", "n_sh", "bs.band", "bs.bsig")


def _cap_bands(banded: DataFrame, max_band_freq: int | None) -> DataFrame:
    """Hot-bucket guard for banded LSH joins: drop docs from any
    (band, bsig) bucket larger than ``max_band_freq`` — from that band
    only (they still pair through their other bands), the standard
    hot-bucket skip of banded LSH. Without it a templated corpus where
    d copies share every band yields O(d^2) candidate rows per bucket
    before verification ever runs. The count window is keyed on
    exactly the (band, bsig) columns the downstream join shuffles on,
    so the exchange is reused, not added (same pattern as simhash's
    ``max_band_freq`` and jaccard's ``max_doc_freq``). None = uncapped
    small-scale semantics."""
    if max_band_freq is None:
        return banded
    wb = Window.partitionBy("band", "bsig")
    return (
        banded.withColumn("_bf", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bf") <= max_band_freq)
        .drop("_bf")
    )


def _verify_jaccard(
    docs: DataFrame,
    cand: DataFrame,
    threshold: float,
    text_col: str = "text",
    k: int = 3,
    docs_b: DataFrame | None = None,
    shingles_b: DataFrame | None = None,
) -> DataFrame:
    """Jaccard verification of LSH candidate pairs over the hb domain.

    ``docs`` is the raw (doc_id, text) corpus; ``cand`` carries
    (doc_a, doc_b, n_a, n_b). The candidate-doc semi-join runs BELOW
    the shingle explode: docs are filtered to candidates first, then
    only those are exploded/hashed/distinct-ed. A post-explode filter
    (the previous shape) would re-shuffle the FULL corpus shingle
    table a second time just to verify a handful of candidates — at
    corpus scale that is a second full-corpus exchange; this shape's
    verification cost scales with LSH bucket collisions only. Join
    keys are 8-byte bigints, not shingle strings. No forced broadcast
    of the candidate set: on a near-dup-heavy corpus a hot band makes
    candidates unbounded, so AQE decides broadcast-vs-shuffle from the
    measured size at runtime.

    ``docs_b``: optional separate corpus for the doc_b side. The
    asymmetric callers (incremental_dedup) pass per-side corpora so a
    doc_id that appears on BOTH sides (a recrawled page keeping its
    stable id) never merges two versions' shingle sets under one id.

    ``shingles_b``: optional PRECOMPUTED (doc_id, hb) distinct shingle
    hashes for the doc_b side (a persisted index snapshot). Equivalent
    to deriving them from ``docs_b`` — the id semi-join commutes with
    the per-doc distinct — but skips re-shingling the index corpus.
    """
    ids_a = cand.select(F.col("doc_a").alias("doc_id")).distinct()
    ids_b = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    sh_a = shingle_hashes(docs.join(ids_a, "doc_id"), text_col, k)
    if shingles_b is not None:
        sh_b = shingles_b.join(ids_b, "doc_id")
    else:
        sh_b = shingle_hashes(
            (docs if docs_b is None else docs_b).join(ids_b, "doc_id"),
            text_col,
            k,
        )
    inter = (
        sh_a.alias("a")
        .join(cand, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            sh_b.alias("b"),
            (F.col("b.doc_id") == F.col("doc_b"))
            & (F.col("a.hb") == F.col("b.hb")),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard.

    shingle->minhash (map-side) -> explode bands -> shuffle on band
    signature -> within-bucket self-join (tiny) -> exact verify join.

    ``max_band_freq`` bounds the quadratic hot-bucket blow-up: exact
    duplicates share EVERY band, so a million-copy boilerplate doc
    would put 1M rows in one (band, bsig) bucket and the self-join
    would emit 10^12 candidates. Buckets above the cap are skipped per
    band (see ``_cap_bands``); worst-case fan-out per bucket becomes
    max_band_freq^2. The DuckDB oracle mirrors the cap. Pass None for
    uncapped small-scale semantics.
    """
    rows = num_hashes // bands
    banded = _cap_bands(
        _banded(minhash_signatures(df, text_col, k, num_hashes), bands, rows),
        max_band_freq,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    return _verify_jaccard(df, cand, threshold, text_col, k)


def incremental_dedup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """Cross-snapshot dedup: flag each NEW doc that duplicates the
    existing INDEX corpus — the incremental-crawl shape (a fresh
    snapshot arrives; only new-vs-index comparisons run, never
    index-vs-index). Reference analog: the same dedup the batch
    operators do, restricted to one asymmetric frontier.

    Only (doc_id, text_col) are consumed — extra columns on either
    frame are ignored, and a doc_id appearing on BOTH sides (a
    recrawled page keeping its stable id) is verified against per-side
    shingle universes, never a merged one. ``max_band_freq`` caps hot
    (band, bsig) buckets per side (see ``_cap_bands``).

    Two gates, both deterministic:
    - ``dup_exact``: md5(text) left-semi join against the index's
      distinct text hashes (one shuffle on the hash; the index side
      aggregates to distinct hashes first, so a hot duplicate text in
      the index costs one row).
    - ``dup_near``: banded MinHash-LSH candidates joined new-band x
      index-band (shuffle keyed on (band, bsig)), then exact-Jaccard
      verification confined to candidates via ``_verify_jaccard``.

    Scale posture: signatures for the index are computed per run here;
    a production incremental pipeline would persist the index's
    (band, bsig) table and hash set between snapshots — both are
    exactly the frames this function derives, so the persisted form is
    a checkpoint of this plan, not a different algorithm.

    Returns one row per NEW doc: (doc_id, dup_exact, dup_near, kept).
    """
    new_docs = new_docs.select("doc_id", text_col)
    index_docs = index_docs.select("doc_id", text_col)
    rows = num_hashes // bands
    return _incremental_probe(
        new_docs,
        index_docs.select(F.md5(F.col(text_col)).alias("_h")).distinct(),
        _cap_bands(
            _banded(
                minhash_signatures(index_docs, text_col, k, num_hashes),
                bands,
                rows,
            ),
            max_band_freq,
        ),
        None,
        index_docs,
        text_col,
        k,
        num_hashes,
        bands,
        threshold,
        max_band_freq,
    )


def _incremental_probe(
    new_docs: DataFrame,
    idx_exact: DataFrame,
    idx_bands: DataFrame,
    idx_shingles: DataFrame | None,
    index_docs: DataFrame | None,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_band_freq: int | None,
) -> DataFrame:
    """Shared probe plan for incremental dedup: the index side arrives
    either as frames DERIVED in-plan from the index corpus
    (``incremental_dedup``) or as frames READ from a persisted snapshot
    (``incremental_dedup_indexed``) — by construction the persisted
    form is a checkpoint of this exact plan, not a different
    algorithm."""
    rows = num_hashes // bands
    exact = (
        new_docs.select("doc_id", F.md5(F.col(text_col)).alias("_h"))
        .join(idx_exact, "_h", "left_semi")
        .select("doc_id")
        .withColumn("dup_exact", F.lit(True))
    )
    bn = _cap_bands(
        _banded(minhash_signatures(new_docs, text_col, k, num_hashes), bands, rows),
        max_band_freq,
    )
    cand = (
        bn.alias("a")
        .join(
            idx_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    near = (
        _verify_jaccard(
            new_docs,
            cand,
            threshold,
            text_col,
            k,
            docs_b=index_docs,
            shingles_b=idx_shingles,
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("dup_near", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
            F.coalesce("dup_near", F.lit(False)).alias("dup_near"),
            (F.col("dup_exact").isNull() & F.col("dup_near").isNull()).alias("kept"),
        )
    )


def _index_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — works
    for local paths in tests and HDFS/S3A in production alike."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _index_versions(spark, path: str) -> list[int]:
    """Sorted version numbers of ``v=<N>`` snapshot directories under
    ``path`` (committed or not — commit status is decided by
    meta/_SUCCESS)."""
    fs, hpath, _ = _index_fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def write_dedup_index(
    index_docs: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_band_freq: int | None = 1000,
) -> int:
    """Persist the incremental-dedup index snapshot: exactly the three
    frames ``incremental_dedup`` derives from the index corpus each
    run, so a probe against the snapshot is a CHECKPOINT of the same
    plan. Between crawl snapshots a production pipeline appends the
    new survivors here instead of re-shingling the whole index.

    Snapshots are VERSIONED and committed atomically-enough for object
    stores: each write lands in a fresh ``path/v=<N>/`` directory
    (N = max existing + 1) and is committed by writing ``meta/`` LAST,
    after every data frame is fully written — so a crash mid-write
    leaves an uncommitted version directory that probes skip, never a
    new ``exact/`` silently paired with an old ``bands/``. ``meta/``
    carries the version, the shingle/signature knobs, and the row
    count of each frame; probes validate both before trusting the
    snapshot. Concurrent PROBES are always safe (they only read
    committed versions); concurrent WRITERS are out of scope — a crawl
    pipeline has one snapshot writer.

    Layout (parquet directories under ``path/v=<N>/``):
      exact/    — distinct md5 text hashes (_h)
      bands/    — hot-bucket-capped banded MinHash signatures
                  (doc_id, band, bsig, n_sh)
      shingles/ — distinct (doc_id, hb) 60-bit shingle hashes, the
                  exact-Jaccard verification universe
      meta/     — written LAST: version + knobs + per-frame row
                  counts; its _SUCCESS file IS the commit marker

    Returns the committed version number.
    """
    index_docs = index_docs.select("doc_id", text_col)
    rows = num_hashes // bands
    spark = index_docs.sparkSession
    existing = _index_versions(spark, path)
    version = (existing[-1] + 1) if existing else 1
    vpath = f"{path}/v={version}"
    index_docs.select(
        F.md5(F.col(text_col)).alias("_h")
    ).distinct().write.mode("overwrite").parquet(f"{vpath}/exact")
    _cap_bands(
        _banded(minhash_signatures(index_docs, text_col, k, num_hashes), bands, rows),
        max_band_freq,
    ).write.mode("overwrite").parquet(f"{vpath}/bands")
    shingle_hashes(index_docs, text_col, k).write.mode("overwrite").parquet(
        f"{vpath}/shingles"
    )
    # footer-only counts of what actually landed on disk — recorded in
    # meta so a probe can fingerprint the frames it is about to trust
    counts = [
        spark.read.parquet(f"{vpath}/{frame}").count()
        for frame in ("exact", "bands", "shingles")
    ]
    spark.createDataFrame(
        [
            (
                version,
                k,
                num_hashes,
                bands,
                -1 if max_band_freq is None else max_band_freq,
                counts[0],
                counts[1],
                counts[2],
            )
        ],
        "version int, k int, num_hashes int, bands int, max_band_freq int, "
        "n_exact bigint, n_bands bigint, n_shingles bigint",
    ).write.mode("overwrite").parquet(f"{vpath}/meta")
    return version


def incremental_dedup_indexed(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """``incremental_dedup`` against a PERSISTED index snapshot
    (``write_dedup_index``): identical output to recomputing from the
    index corpus — proven by test — but the index side is three
    parquet scans instead of a full re-shingle.

    The snapshot is resolved through its commit marker: the HIGHEST
    ``v=<N>`` directory whose ``meta/_SUCCESS`` exists is the current
    index (meta is written last and ``_SUCCESS`` only when its job
    commits, so an uncommitted or torn version is invisible here).
    Before probing, the recorded per-frame row counts are checked
    against the frames on disk — a mismatch means the snapshot was
    tampered with or partially rewritten, and raises rather than
    silently under-flagging duplicates. Knob mismatch raises too (a
    probe with different knobs would silently compare incompatible
    sketches)."""
    spark = new_docs.sparkSession
    fs, _, jvm = _index_fs(spark, index_path)
    vpath = None

    def committed(p: str) -> bool:
        # Spark creates meta/ when the meta job starts, _SUCCESS when it commits
        return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{p}/meta/_SUCCESS"))

    for v in reversed(_index_versions(spark, index_path)):
        if committed(f"{index_path}/v={v}"):
            vpath = f"{index_path}/v={v}"
            break
    if vpath is None:
        # pre-versioning flat layout (legacy snapshots): meta/ at top
        if committed(index_path):
            vpath = index_path
        else:
            raise ValueError(
                f"no committed dedup index snapshot under {index_path}"
            )
    meta = spark.read.parquet(f"{vpath}/meta").collect()[0]
    want = (k, num_hashes, bands, -1 if max_band_freq is None else max_band_freq)
    have = (meta.k, meta.num_hashes, meta.bands, meta.max_band_freq)
    if want != have:
        raise ValueError(
            f"dedup index at {vpath} was built with "
            f"(k, num_hashes, bands, max_band_freq)={have}, probe uses {want}"
        )
    frames = {
        name: spark.read.parquet(f"{vpath}/{name}")
        for name in ("exact", "bands", "shingles")
    }
    if "n_exact" in meta.asDict():
        for name, frame in frames.items():
            n_disk, n_meta = frame.count(), meta[f"n_{name}"]
            if n_disk != n_meta:
                raise ValueError(
                    f"dedup index snapshot {vpath}/{name} has {n_disk} rows "
                    f"but meta recorded {n_meta} — torn or tampered snapshot"
                )
    return _incremental_probe(
        new_docs.select("doc_id", text_col),
        frames["exact"],
        frames["bands"],
        frames["shingles"],
        None,
        text_col,
        k,
        num_hashes,
        bands,
        threshold,
        max_band_freq,
    )


# ---------------------------------------------------------------------------
# 3b. near-duplicate clustering (connected components over LSH pairs)
# ---------------------------------------------------------------------------
def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_iters: int = 20,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """Cluster near-duplicate documents: MinHash-LSH pairs form an
    undirected graph; connected components are computed by iterative
    min-label propagation (each doc adopts the smallest doc_id
    reachable through near-dup edges), the standard way to group
    duplicates for keep-one-per-cluster curation at corpus scale.

    Dataflow per iteration: one shuffle to propagate neighbor labels,
    one join to merge — the large-scale connected-components shape
    (driver only checks a convergence count). Iterations are bounded
    by the component diameter, which for near-dup clusters is tiny;
    ``max_iters`` is a hard backstop. Deterministic (md5-derived LSH),
    so the DuckDB oracle reproduces it with a recursive CTE.

    Returns (doc_id, cluster_id, cluster_size); singletons cluster to
    themselves. The returned frame is localCheckpoint-materialized
    (self-contained lineage; its one checkpoint is caller-owned), and
    every operator-internal PERSISTED frame is unpersisted before
    returning — deterministically, which is why the loop uses
    persist/unpersist rather than intra-loop checkpoints (see the
    lineage note in the loop).

    ``doc_id`` must be a numeric column: labels are propagated as
    bigint, and a silent string->NULL cast would corrupt every
    cluster. Hash string ids to bigint deterministically (e.g.
    ``conv(substring(md5(id),1,15),16,10)``) before calling.
    """
    import warnings

    id_type = dict(df.dtypes).get("doc_id", "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"near_dup_clusters requires a numeric doc_id (got {id_type!r}): "
            "a string id would cast to NULL and corrupt labels; hash it to "
            "bigint first"
        )
    pairs = minhash_lsh_pairs(
        df,
        text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_band_freq=max_band_freq,
    )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    labels = df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("doc_id").cast("bigint").alias("label"),
    ).persist()
    try:
        changed = 1
        for _ in range(max_iters):
            prop = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = labels.join(prop, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            ).persist()
            # NOTE on lineage: the plan grows by one join per round,
            # bounded by max_iters (20) — acceptable analysis depth.
            # An intra-loop localCheckpoint would truncate it, but a
            # checkpointed frame's blocks are NOT released by
            # DataFrame.unpersist() (only by nondeterministic
            # ContextCleaner GC), which leaks a full label-table copy
            # per checkpoint; persist/unpersist keeps cleanup exact.
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # non-transitive output would silently diverge from the
            # recursive-CTE oracle — surface it (components with a
            # >max_iters-hop min-label distance are pathological but
            # possible in templated near-dup chains)
            warnings.warn(
                f"near_dup_clusters did not converge in {max_iters} "
                "iterations; clusters may be split (raise max_iters)",
                RuntimeWarning,
                stacklevel=2,
            )
        w = Window.partitionBy("label")
        out = labels.select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        ).localCheckpoint(eager=True)
        return out
    finally:
        edges.unpersist()
        labels.unpersist()


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(df: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash: per token hash, each bit votes +1/-1 weighted by
    term frequency; signature bit = sign of the vote sum. Pure
    explode/groupBy/agg — the bit loop is an unrolled JVM expression."""
    toks = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    # pre-aggregate term frequencies so the 64-way vote aggregation
    # sees one row per (doc, term) instead of one per occurrence —
    # identical votes (each occurrence votes), fraction of the input.
    th = (
        toks.groupBy("doc_id", _h64(F.col("tok")).alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # One generated-SQL aggregate expression instead of 64 vote columns
    # + a 63-deep OR fold built object-by-object through py4j: the
    # column-object version cost 2.4-7.8 s of DRIVER time per
    # invocation (~800 py4j round-trips) before a single task ran.
    # Identical semantics: the signed vote sum b_i = sum(+cnt/-cnt) =
    # 2*S_i - T with S_i = sum(cnt * bit_i(h)) and T = sum(cnt), so
    # bit set <=> b_i > 0 <=> 2*S_i > T (ties -> unset, as before).
    # Catalyst dedups the 64 textual copies of sum(cnt) into one
    # physical aggregate. Signed bigint: bit 63 makes the value
    # negative — fine, it's a bit pattern.
    sig_sql = " | ".join(
        f"(case when 2 * sum(cnt * (shiftright(h, {i}) & 1)) > sum(cnt) "
        f"then shiftleft(cast(1 as bigint), {i}) else cast(0 as bigint) end)"
        for i in range(bits)
    )
    return th.groupBy("doc_id").agg(F.expr(sig_sql).alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame, text_col: str = "text", max_distance: int = 8,
    min_tokens: int = 3,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, LSH-bucketed by
    16-bit bands (a pair within distance d collides in >= 1 of 4 bands
    when d <= 3 per band). Exactness at small scale is preserved by
    verifying the true distance after the band join.

    ``min_tokens`` excludes near-empty documents from banding: their
    vote sums hover near zero, so they pile into one degenerate
    signature bucket whose self-join is quadratic at corpus scale —
    and a <3-token doc can't be a *meaningful* near-dup anyway.

    ``max_band_freq`` bounds the other quadratic blow-up: a templated
    corpus where millions of docs share one 16-bit band value makes
    that band's self-join O(bucket^2). Docs in a band bucket larger
    than the cap are dropped FROM THAT BAND only (they still pair
    through their other three bands — the standard hot-bucket skip of
    banded LSH), so the worst-case fan-out per bucket is bounded by
    max_band_freq^2. The DuckDB oracle mirrors both knobs. Pass None
    for uncapped small-scale semantics."""
    # non-empty tokens of a \s+ split == \S+ runs; regexp_count stays
    # in codegen where size(filter(toks, ...)) interprets its lambda
    # per token
    eligible = df.filter(
        F.regexp_count(F.col(text_col), F.lit(r"\S+")) >= min_tokens
    )
    sig = simhash_signatures(eligible, text_col)
    # One exploded band table + ONE self-join on (band, bval) instead
    # of four per-band joins unioned: the same candidate set reaches
    # the distinct through a single exchange on the band key (4x rows,
    # 1/4 the stages) — at cluster scale one wide shuffle beats four
    # narrow ones of the same total volume, and driver-side it is one
    # join to analyze instead of four joins + three unions.
    banded = sig.selectExpr(
        "doc_id",
        "simhash as s",
        "explode(transform(sequence(0, 3), "
        "b -> struct(b as band, (shiftright(simhash, 16 * b) & 65535) as bval))) as bb",
    ).select("doc_id", "s", "bb.band", "bb.bval")
    src = banded
    if max_band_freq is not None:
        # bucket-size window keyed on the same columns the self-join
        # shuffles on, so the exchange is reusable
        wb = Window.partitionBy("band", "bval")
        src = (
            banded.withColumn("_bf", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bf") <= max_band_freq)
            .drop("_bf")
        )
    a_ = src.alias("a")
    b_ = src.alias("b")
    cand = (
        a_.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        )
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def shingle_array(text_col, k: int = 3):
    """Row-local distinct k-word shingle array (the array twin of
    word_shingles' explode — no shuffle, usable in streaming)."""
    toks = F.split(text_col if not isinstance(text_col, str) else F.col(text_col), r"\s+")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(F.filter(sh, lambda s: F.length(s) > 0))


def minhash_signature_col(text_col, k: int = 3, num_hashes: int = 16):
    """Per-ROW MinHash signature as an array<bigint> column — byte-
    identical to minhash_signatures' groupBy result (asserted in
    tests), but computed without any shuffle, so it composes with
    Structured Streaming's stateless operators."""
    # ONE md5 per shingle; each permutation is a cheap xor-rotate
    # bijection of that base (same family as minhash_signatures).
    # The 16 transforms below share the identical `bases` subtree,
    # which Spark's subexpression elimination evaluates once per row.
    bases = F.transform(shingle_array(text_col, k), lambda s: _h64(s))

    # single-arg closure factory: F.transform passes (element, index)
    # to two-arg lambdas, so a `lambda s, i=i:` default would silently
    # receive the ELEMENT INDEX as i (the documented trap fixed in
    # lsh_topk in round 2)
    def perm_min(kk: int, rr: int):
        return F.array_min(F.transform(bases, lambda b: _perm_mix(b, kk, rr)))

    return F.array(
        *[perm_min(kk, rr) for kk, rr in _perm_consts(num_hashes)]
    )


# ---------------------------------------------------------------------------
# 7. paragraph-level dedup (CCNet-style cross-document paragraph removal)
# ---------------------------------------------------------------------------
def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 20,
    sep: str = "\n\n",
) -> DataFrame:
    """Cross-document paragraph dedup (the CCNet / RefinedWeb curation
    step): split each document on ``sep`` (blank lines by default), drop every paragraph
    occurrence that also appears in a LOWER doc_id's document
    (keep-first, mirroring dedup_exact's T2 rule at paragraph
    granularity), and reassemble the survivors in original order.
    Paragraphs shorter than ``min_len`` characters are never dropped
    (boilerplate-short strings like list bullets would otherwise fuse
    unrelated documents).

    Returns (doc_id, text, n_paras, n_dropped) with ``text`` rebuilt
    from the kept paragraphs joined by blank lines.

    Scale posture: posexplode is narrow; the paragraph-frequency
    aggregate and the stats join share the md5-hash key (one shuffle
    each, AQE handles hot-paragraph skew); reassembly is one
    groupBy(doc_id). No driver collection, no unbounded broadcast.
    """
    paras = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("pos", "para"),
    ).withColumn(
        # NULL hash for short paragraphs: they fall out of the stats
        # aggregate AND never match the equi join below
        "ph",
        F.when(F.length("para") >= min_len, F.md5("para")),
    )
    stats = (
        paras.filter(F.col("ph").isNotNull())
        .groupBy("ph")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    flagged = paras.join(stats, "ph", "left").select(
        "doc_id",
        "pos",
        "para",
        (
            F.col("first_doc").isNotNull()
            & (F.col("doc_id") != F.col("first_doc"))
        ).alias("dropped"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("dropped"),
                                F.struct(F.col("pos"), F.col("para")),
                            )
                        )
                    ),
                    lambda s: s.getField("para"),
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("dropped").cast("bigint")).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# 8. exact duplicate-substring scrubbing (token n-gram span removal)
# ---------------------------------------------------------------------------
def duplicate_ngram_scrub(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    max_freq: int = 1,
) -> DataFrame:
    """Exact substring-level dedup (the "Deduplicating Training Data
    Makes Language Models Better" / ExactSubstr shape, at token
    granularity): any k-token window whose corpus-wide occurrence
    count exceeds ``max_freq`` is a duplicated passage; every token
    covered by such a window is removed EXCEPT in the window's first
    document (min doc_id — keep-first, matching dedup_exact's rule),
    and each document is reassembled from its surviving tokens.

    Output is tokenized text (single-space joined): substring removal
    is defined over the token stream, not raw whitespace. Returns
    (doc_id, n_tokens, n_removed, text); documents with NO tokens
    (empty/whitespace-only) have no token stream and are absent from
    the output — the oracle mirrors this.

    Scale shape: one shuffle to count k-gram hashes (60-bit md5 keys,
    never raw strings), one occurrence->count join keyed the same
    way, then a per-doc window pass: a token at position p is covered
    iff some removable window starts in [p-k+1, p], computed with a
    rows-between running max — no interval explosion. Reassembly is
    one groupBy(doc_id). AQE handles hot-k-gram skew.
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    n = F.size(toks)
    # k-gram hash at each window start (empty when n < k; guard the
    # descending-sequence trap)
    khs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: _h64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = df.select("doc_id", toks.alias("tk"), khs.alias("khs"))
    occ = base.select(
        "doc_id", F.posexplode("khs").alias("pos", "kh")
    )
    stats = occ.groupBy("kh").agg(
        F.count(F.lit(1)).alias("freq"), F.min("doc_id").alias("first_doc")
    )
    rem = occ.join(stats, "kh").select(
        "doc_id",
        "pos",
        (
            (F.col("freq") > max_freq) & (F.col("doc_id") != F.col("first_doc"))
        ).alias("rm"),
    )
    tok_rows = base.select(
        "doc_id", F.posexplode("tk").alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(k - 1), 0)
    )
    covered = (
        tok_rows.join(rem, ["doc_id", "pos"], "left")
        .withColumn(
            "cov",
            F.coalesce(F.max(F.col("rm").cast("int")).over(w), F.lit(0)) == 1,
        )
    )
    return covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("cov").cast("bigint")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("cov"), F.struct(F.col("pos"), F.col("tok")))
                    )
                ),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("text"),
    )


# ---------------------------------------------------------------------------
# 7. Bloom-filter membership probe (compact cross-snapshot index)
# ---------------------------------------------------------------------------
def bloom_index(
    index_docs: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Compact Bloom bitmap over the index corpus's text hashes:
    (word, bits) rows, 32 bits per BIGINT word (32 keeps every mask
    positive — DuckDB errors on 1<<63, and signed-bit semantics differ
    per engine). Position i of a doc is the xor-rotate bijection
    ``_perm_mix`` of its 60-bit text hash (one md5 per doc, k cheap
    bijections — the same one-hash trick the MinHash family uses),
    mod ``m_bits``.

    Scale posture: the bitmap is m_bits/32 rows regardless of corpus
    size — a 2^30-bit filter is 33M rows / ~512 MB serialized words,
    broadcastable shard-wise; building it is one groupBy(word) with
    map-side bit_or partials. This is the structure an Iceberg
    incremental-dedup pipeline persists between snapshots instead of
    the full hash set.
    """
    hb = index_docs.select(_h64(F.col(text_col)).alias("hb")).distinct()
    pos = hb.select(
        F.explode(
            F.array(
                *[
                    F.pmod(_perm_mix(F.col("hb"), kk, rr), F.lit(m_bits))
                    for kk, rr in _perm_consts(k_hashes)
                ]
            )
        ).alias("pos")
    )
    return pos.groupBy((F.col("pos") / 32).cast("bigint").alias("word")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 32) AS INT))")
        ).alias("bits")
    )


def bloom_probe(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Probe each NEW doc against the index's Bloom filter and against
    the exact hash set, measuring the filter's behavior: one row per
    new doc with (doc_id, maybe_dup, dup_exact, false_positive).

    ``maybe_dup`` is the Bloom answer (ALL k positions set);
    ``dup_exact`` the ground truth (text-hash semi-join);
    ``false_positive`` = maybe_dup AND NOT dup_exact — at production
    sizing (m_bits >> k*n) this column is the observable FP rate the
    pipeline monitors. No false negatives by construction (asserted
    implicitly: dup_exact => maybe_dup for every row).

    Shuffle pattern: the probe joins the bounded (word, bits) table —
    broadcast — so probing is map-side + one groupBy(doc_id); the
    exact gate reuses the incremental_dedup hash semi-join shape.
    """
    bloom = bloom_index(index_docs, text_col, m_bits, k_hashes)
    probes = new_docs.select(
        "doc_id", _h64(F.col(text_col)).alias("hb")
    ).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.pmod(_perm_mix(F.col("hb"), kk, rr), F.lit(m_bits))
                    for kk, rr in _perm_consts(k_hashes)
                ]
            )
        ).alias("pos"),
    )
    hits = (
        probes.withColumn("word", (F.col("pos") / 32).cast("bigint"))
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "doc_id",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr(
                            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 32) AS INT))"
                        )
                    )
                    != 0
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("hit"),
        )
        .groupBy("doc_id")
        .agg((F.min("hit") == 1).alias("maybe_dup"))
    )
    exact = (
        new_docs.select("doc_id", F.md5(F.col(text_col)).alias("_h"))
        .join(
            index_docs.select(F.md5(F.col(text_col)).alias("_h")).distinct(),
            "_h",
            "left_semi",
        )
        .select("doc_id")
        .withColumn("dup_exact", F.lit(True))
    )
    return (
        hits.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "maybe_dup",
            F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
            (F.col("maybe_dup") & F.col("dup_exact").isNull()).alias(
                "false_positive"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 8. per-conversation repeated-turn detection
# ---------------------------------------------------------------------------
def turn_dedup(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Flag repeated turns WITHIN a conversation — the agent-transcript
    cleanup pass: retry loops and duplicated tool outputs re-emit the
    same turn text later in the same conversation, and training on the
    repeats double-counts them. A turn is a repeat when its exact text
    already appeared at a lower ``turn_idx`` in the SAME conversation.

    One window keyed (conv_id, md5(text)): the shuffle is the same
    conv_id exchange the extraction pipeline uses, and the per-group
    work is bounded by turns-per-conversation (the corpus skew axis
    the salted extraction path already handles — compose with a salted
    repartition for degenerate conversations).

    Returns (conv_id, turn_idx, first_turn_idx, is_repeat).
    """
    w = Window.partitionBy(conv_col, F.md5(F.col(text_col)))
    return (
        turns.select(
            conv_col,
            idx_col,
            F.min(idx_col).over(w).alias("first_turn_idx"),
        )
        .withColumn("is_repeat", F.col(idx_col) > F.col("first_turn_idx"))
    )


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    boundary_mod: int = 8,
) -> DataFrame:
    """Emit the content-defined chunks themselves: one row per chunk,
    (doc_id, chunk_idx, chunk_text, n_words). Boundary rule: a chunk
    ends after token i whenever h64(token_i) % boundary_mod == 0 (the
    stateless gear form — see ``cdc_chunk_stats`` for the dedup
    summary built on top). The chunks PARTITION the token sequence:
    joining a doc's chunks in chunk_idx order with single spaces
    reconstructs the whitespace-normalized text exactly
    (property-tested), so chunk-level pipelines (chunk dedup, chunk
    embedding, partial re-crawl diffing) lose nothing. Scan-side array
    codegen + one posexplode; no shuffle, no UDF."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (_h64(F.element_at(toks, i)) % boundary_mod) == 0,
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(n))
    segs = F.filter(
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
        ),
        lambda z: z.getField("s") <= z.getField("e"),
    )
    return docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                segs,
                lambda z: F.struct(
                    F.concat_ws(
                        " ",
                        F.slice(
                            toks,
                            z.getField("s"),
                            z.getField("e") - z.getField("s") + 1,
                        ),
                    ).alias("chunk_text"),
                    (z.getField("e") - z.getField("s") + 1)
                    .cast("int")
                    .alias("n_words"),
                ),
            )
        ).alias("chunk_idx", "c"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_words").alias("n_words"),
    )


def cdc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    boundary_mod: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunk dedup (the rsync/FastCDC idea in its
    stateless gear form, at token granularity): a chunk boundary falls
    AFTER token i whenever h64(token_i) % boundary_mod == 0, so chunk
    frames depend only on LOCAL content — inserting or deleting a
    prefix shifts every fixed-width frame but leaves content-defined
    chunks beyond the next boundary identical. That shift-invariance
    is what catches duplicated passages embedded at different offsets
    (quoted replies, re-pasted tool output, boilerplate mid-page) that
    exact-doc and paragraph dedup both miss; expected chunk length is
    ~boundary_mod tokens.

    Plan shape: boundary positions, chunk frames and chunk hashes are
    all scan-side array expressions (whole-stage codegen, no UDF);
    then ONE shuffle on md5(chunk) to find chunks shared by >=
    ``min_docs`` distinct docs, and one groupBy(doc_id) to fold the
    per-doc summary. No windows, no driver action; chunk fan-out per
    doc is n_tokens/boundary_mod in expectation and never exceeds
    n_tokens.

    Returns one row per doc: (doc_id, n_chunks, n_dup_chunks,
    dup_token_frac) where dup_token_frac is the fraction of the doc's
    tokens inside chunks that also appear in >= min_docs docs.
    """
    chunks = cdc_chunks(docs, text_col, boundary_mod).select(
        "doc_id",
        F.md5(F.col("chunk_text")).alias("h"),
        F.col("n_words").cast("bigint").alias("nw"),
    )
    shared = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h", F.lit(1).alias("_dup"))
    )
    return chunks.join(shared, "h", "left").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("int").alias("n_dup_chunks"),
        F.round(
            F.sum(F.when(F.col("_dup").isNotNull(), F.col("nw")).otherwise(F.lit(0)))
            / F.sum("nw"),
            6,
        ).alias("dup_token_frac"),
    )
