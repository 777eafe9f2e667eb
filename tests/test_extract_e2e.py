"""End-to-end Spark pipeline tests: golden-fixture equality against the
single-node oracle (incl. window-derived ids), partition invariance,
and distributed-generator parity (SURVEY.md §5 graft strategy 1/4)."""

import pandas as pd
import pyspark.sql.functions as F

from eynollah_spark.fixtures.transcripts import (
    TRANSCRIPT_SCHEMA,
    CorpusSpec,
    generate_local,
    generate_spark,
)
from eynollah_spark.operators.extract import (
    analyze_pages,
    extract_spans,
    extract_spans_salted,
)
from eynollah_spark.oracle.reference import analyze_turn_naive

SPEC = CorpusSpec(n_convs=30, seed=21)


def _golden(local_df: pd.DataFrame) -> pd.DataFrame:
    """Oracle spans + single-node reimplementation of the id windows
    (utils/counter.py semantics)."""
    rows = []
    for conv_id, grp in local_df.sort_values(["conv_id", "turn_idx"]).groupby(
        "conv_id", sort=True
    ):
        order = 0
        region_num = 0
        last_region_key = None
        line_num = 0
        for row in grp.itertuples(index=False):
            for s in analyze_turn_naive(row.text, row.role):
                key = (row.turn_idx, s.region_seq)
                if key != last_region_key:
                    region_num += 1
                    line_num = 0
                    last_region_key = key
                line_num += 1
                rows.append(
                    (
                        conv_id,
                        row.turn_idx,
                        s.span_idx,
                        s.region_type,
                        s.region_seq,
                        s.char_start,
                        s.char_end,
                        s.text,
                        order,
                        "region_%04d" % region_num,
                        "region_%04d_line_%04d" % (region_num, line_num),
                    )
                )
                order += 1
    return pd.DataFrame(
        rows,
        columns=[
            "conv_id",
            "turn_idx",
            "span_idx",
            "region_type",
            "region_seq",
            "char_start",
            "char_end",
            "text",
            "reading_order",
            "region_id",
            "line_id",
        ],
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["conv_id", "turn_idx", "span_idx"])
        .reset_index(drop=True)
        .astype(
            {
                c: "int64"
                for c in [
                    "turn_idx",
                    "span_idx",
                    "region_seq",
                    "char_start",
                    "char_end",
                    "reading_order",
                ]
            }
        )
    )


def test_pipeline_matches_oracle(spark):
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    got = _normalize(extract_spans(turns).toPandas())
    exp = _normalize(_golden(local))
    pd.testing.assert_frame_equal(got, exp)


def test_partition_invariance(spark):
    """Same bytes out at any parallelism/salting (SURVEY §5 test 4)."""
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    base = _normalize(extract_spans(turns).toPandas())
    for variant in [
        extract_spans(turns.repartition(1)),
        extract_spans(turns.repartition(13)),
        extract_spans_salted(turns, salt_buckets=5),
    ]:
        pd.testing.assert_frame_equal(_normalize(variant.toPandas()), base)


def test_distributed_generator_parity(spark):
    local = generate_local(SPEC)
    dist = (
        generate_spark(spark, SPEC)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = local.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(dist, exp, check_dtype=False)


def test_per_turn_text_equality(spark):
    """The literal north-rule invariant: per-turn extracted text equality
    under stable turn ordering."""
    local = generate_local(SPEC)
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    got = (
        extract_spans(turns)
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.concat_ws(
                "\n", F.array_sort(F.collect_list(F.struct("span_idx", "text"))).getField("text")
            ).alias("extracted")
        )
        .toPandas()
        .set_index(["conv_id", "turn_idx"])["extracted"]
        .to_dict()
    )
    for row in local.itertuples(index=False):
        exp = "\n".join(s.text for s in analyze_turn_naive(row.text, row.role))
        assert got.get((row.conv_id, row.turn_idx), "") == exp


def test_page_diags(spark):
    local = generate_local(CorpusSpec(n_convs=10, seed=5))
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    diags = analyze_pages(turns).toPandas()
    assert len(diags) == len(local)
    assert (diags["agreement_ratio"] <= 100.0).all()
    assert (diags["n_spans"] >= 0).all()


def test_id_counter_semantics(spark):
    """Reference tests/test_counter.py parity: ids are dense, 1-based,
    region_%04d / region_%04d_line_%04d formatted."""
    local = generate_local(CorpusSpec(n_convs=4, seed=2))
    turns = spark.createDataFrame(local, schema=TRANSCRIPT_SCHEMA)
    out = extract_spans(turns).toPandas()
    for conv_id, grp in out.groupby("conv_id"):
        grp = grp.sort_values("reading_order")
        assert list(grp["reading_order"]) == list(range(len(grp)))
        nums = grp["region_id"].str.extract(r"^region_(\d{4})$")[0].astype(int)
        assert nums.iloc[0] == 1
        assert set(nums.diff().dropna().unique()) <= {0, 1}
        assert grp["line_id"].str.match(r"^region_\d{4}_line_\d{4}$").all()


def test_ids_past_four_digits(spark):
    """Ids keep ``%04d`` semantics past 9,999: padded to 4 digits below
    10,000, never truncated above. One conversation has 10,001 regions
    and another one region of 10,001 lines (a synthetic spans frame,
    no kernel)."""
    from eynollah_spark.operators.extract import with_order_and_ids

    n = 10_001
    ids = F.col("id").cast("int")
    many_regions = spark.range(n).select(
        F.lit("a").alias("conv_id"), F.lit(0).alias("turn_idx"),
        ids.alias("span_idx"), ids.alias("region_seq"),
    )
    many_lines = spark.range(n).select(
        F.lit("b").alias("conv_id"), F.lit(0).alias("turn_idx"),
        ids.alias("span_idx"), F.lit(0).alias("region_seq"),
    )
    got = {
        (r.conv_id, r.span_idx): (r.region_id, r.line_id)
        for r in with_order_and_ids(many_regions.unionByName(many_lines))
        .select("conv_id", "span_idx", "region_id", "line_id")
        .collect()
    }
    want = {}
    for i in range(n):
        want["a", i] = ("region_%04d" % (i + 1), "region_%04d_line_%04d" % (i + 1, 1))
        want["b", i] = ("region_%04d" % 1, "region_%04d_line_%04d" % (1, i + 1))
    assert got == want
    assert got["a", 9_998][0] == "region_9999"
    assert got["a", 9_999][0] == "region_10000"
    assert got["a", 10_000][0] == "region_10001"
    assert got["b", 10_000][1] == "region_0001_line_10001"


def test_adversarial_turns_match_oracle(spark):
    """Hostile page shapes through the REAL Spark pipeline (not just
    the local kernel): unclosed fence, banner+footer-only page, a
    multi-hundred-KB single-line turn (ink-grid fallback path),
    unicode separators (binarized-retry path), empty and
    whitespace-only turns, fence-only page."""
    from eynollah_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from eynollah_spark.oracle.reference import analyze_turn_naive

    import datetime

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("adv", 0, "user", "intro line\n```python\nx = 1\nno closing fence", None, ts),
        ("adv", 1, "assistant", "=== BANNER ===\n(c) footer only", None, ts),
        ("adv", 2, "user", "y" * 300_000, None, ts),
        ("adv", 3, "assistant", "text a\n────\ntext b", None, ts),
        ("adv", 4, "user", "", None, ts),
        ("adv", 5, "tool", "  \n\t\n", None, ts),
        ("adv", 6, "assistant", "```\n```", None, ts),
        ("adv", 7, "user", "## H\nA\nbody text here continues", None, ts),
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    from eynollah_spark.operators.extract import extract_spans

    got = {}
    for r in extract_spans(df).collect():
        got.setdefault(r.turn_idx, []).append(
            (r.span_idx, r.region_type, r.region_seq, r.char_start, r.char_end, r.text)
        )
    for turn_idx, role, text in [(r[1], r[2], r[3]) for r in rows]:
        want = [
            (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
            for s in analyze_turn_naive(text, role)
        ]
        have = sorted(got.get(turn_idx, []))
        assert have == want, f"turn {turn_idx} ({role!r}): {have[:3]} != {want[:3]}"


def test_model_cache_keyed_by_broadcast_id():
    """Two different broadcast configs on the same executor must get two
    distinct cached models, keyed by the broadcast's stable .id (NOT
    id(bc): CPython address reuse after GC could alias two configs)."""
    from eynollah_spark.config import DEFAULT_CONFIG, ExtractConfig
    from eynollah_spark.operators import extract as ex

    class FakeBC:
        def __init__(self, bid, value):
            self.id = bid
            self.value = value

    ex._MODEL_CACHE.clear()
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["intro text line\n| a | b |\n---\n| c | d |"],
        }
    )
    bc_a = FakeBC(101, DEFAULT_CONFIG)
    bc_b = FakeBC(102, ExtractConfig(enable_tables=True))
    out_plain = pd.concat(list(ex._kernel_iter(bc_a)(iter([pdf]))))
    out_tables = pd.concat(list(ex._kernel_iter(bc_b)(iter([pdf]))))
    assert ex._bc_key(bc_a) != ex._bc_key(bc_b)
    assert len(ex._MODEL_CACHE) == 2
    cfgs = [m.cfg for m in ex._MODEL_CACHE.values()]
    assert any(c.enable_tables for c in cfgs) and any(not c.enable_tables for c in cfgs)
    assert "table" not in set(out_plain["region_type"])
    assert "table" in set(out_tables["region_type"])


def test_mega_conversation_skew(spark):
    """One pathological 20k-turn conversation among normal ones (the
    north-rule skew case): the salted path must spread it across
    partitions and produce byte-identical output to the unsalted
    pipeline, with dense per-conversation reading order."""
    import pyspark.sql.functions as F
    from eynollah_spark.operators.extract import extract_spans, extract_spans_salted

    mega = spark.range(20_000).select(
        F.lit("mega").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.concat(
            F.lit("## T"), F.col("id").cast("string"),
            F.lit("\nbody line one with words\nbody line two with words"),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2025-01-01")).alias("ts"),
    )
    small = spark.range(50).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("just one line here").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2025-01-01")).alias("ts"),
    )
    turns = mega.unionByName(small).repartition(8)

    cols = ["conv_id", "turn_idx", "span_idx", "region_type", "reading_order",
            "region_id", "line_id", "text"]
    base = extract_spans(turns).select(cols).orderBy(cols[:3]).collect()
    salted = extract_spans_salted(turns, salt_buckets=16).select(cols).orderBy(cols[:3]).collect()
    assert base == salted
    # dense 0-based reading order within the mega conversation
    mega_orders = [r.reading_order for r in base if r.conv_id == "mega"]
    assert sorted(mega_orders) == list(range(len(mega_orders)))
    assert len(mega_orders) == 20_000 * 3  # header + 2 body lines per turn
