"""Byte-exact agreement between the vectorized kernel and the naive
single-node oracle (the north-rule equality check, SPEC.md).

Model of the reference's test granularity (tests/test_counter.py etc.)
plus property-based fuzzing the reference lacks.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from eynollah_spark.config import DEFAULT_CONFIG, SEP_CHARS, SEP_MIN_LEN
from eynollah_spark.fixtures.transcripts import CorpusSpec, generate_local
from eynollah_spark.kernel.textpage import (
    C_HEADER,
    C_TEXT,
    LineModel,
    analyze_turns_batch,
    analyze_turns_frames,
    page_diags_batch,
)
from eynollah_spark.oracle.reference import analyze_turn_naive, page_diag_naive


def _kernel_spans(texts_roles):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts_roles))],
            "turn_idx": list(range(len(texts_roles))),
            "role": [r for _, r in texts_roles],
            "text": [t for t, _ in texts_roles],
        }
    )
    out = analyze_turns_batch(pdf)
    groups = {}
    for t in out.itertuples(index=False):
        groups.setdefault(int(t.turn_idx), []).append(
            (
                int(t.span_idx),
                t.region_type,
                int(t.region_seq),
                int(t.char_start),
                int(t.char_end),
                t.text,
            )
        )
    return [groups.get(i, []) for i in range(len(texts_roles))]


def _oracle_spans(text, role):
    return [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, role)
    ]


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_corpus_agreement(seed):
    df = generate_local(CorpusSpec(n_convs=40, seed=seed))
    got = _kernel_spans(list(zip(df["text"], df["role"])))
    for i, row in enumerate(df.itertuples(index=False)):
        assert got[i] == _oracle_spans(row.text, row.role), (
            row.conv_id,
            row.turn_idx,
            repr(row.text[:200]),
        )


@pytest.mark.parametrize("seed", [7, 42])
def test_corpus_diag_agreement(seed):
    df = generate_local(CorpusSpec(n_convs=25, seed=seed))
    out = page_diags_batch(df[["conv_id", "turn_idx", "role", "text"]])
    dg = {(r.conv_id, int(r.turn_idx)): r for r in out.itertuples(index=False)}
    for row in df.itertuples(index=False):
        e = page_diag_naive(row.text, row.role)
        g = dg[(row.conv_id, row.turn_idx)]
        assert e["n_lines"] == g.n_lines
        assert e["n_spans"] == g.n_spans
        assert e["n_regions"] == g.n_regions
        assert e["max_columns"] == g.max_columns
        assert abs(e["slope"] - g.slope) < 1e-12
        assert e["is_deskewed"] == bool(g.is_deskewed)
        assert abs(e["agreement_ratio"] - g.agreement_ratio) < 1e-9
        assert e["used_binarized"] == bool(g.used_binarized)
        assert e["was_enhanced"] == bool(g.was_enhanced)


_token = st.sampled_from(
    # \x00/\x0b/\x1c probe padding-vs-ink and Python-vs-Arrow
    # whitespace parity (a NUL in a gutter must count as ink);
    # "§NOTE:"-shaped tokens compose with the §5h header vote (model B
    # sees a header where model A sees text); the wide two-column token
    # stacks into real gutters so §6/§6p/§5h interplay is fuzzed
    list("abcXYZ 019#*-=_[]:()`—–…©\x00\x0b\x1c")
    + ["```", "[note:", "===", "(c)", "## ", "§NOTE:", "§## ",
       "aaaa    bbbb"]
)
_line = st.lists(_token, min_size=0, max_size=12).map("".join)

_text = st.lists(_line, min_size=0, max_size=14).map("\n".join)


@settings(max_examples=300, deadline=None)
@given(text=_text, role=st.sampled_from(["user", "assistant", "system", "tool"]))
def test_fuzz_agreement(text, role):
    got = _kernel_spans([(text, role)])[0]
    assert got == _oracle_spans(text, role), repr(text)


# all optional modes on at once, with line-split thresholds lowered so
# fuzz-sized spans actually split
_FUZZ_CFG = None


def _fuzz_cfg():
    global _FUZZ_CFG
    if _FUZZ_CFG is None:
        from eynollah_spark.config import ExtractConfig

        _FUZZ_CFG = ExtractConfig(
            enable_tables=True,
            enable_line_split=True,
            line_split_min_len=8,
            region_blank_bridge=True,
            # §1e enhancement with a tiny wrap width so short fuzz
            # pages exercise rtrim + blank-collapse + greedy re-wrap
            enable_enhancement=True,
            enhancement_wrap_width=12,
        )
    return _FUZZ_CFG


@settings(max_examples=150, deadline=None)
@given(text=_text, role=st.sampled_from(["user", "assistant", "tool"]))
def test_fuzz_agreement_all_modes(text, role):
    from eynollah_spark.kernel.textpage import LineModel

    cfg = _fuzz_cfg()
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": [role], "text": [text]}
    )
    out = analyze_turns_batch(pdf, LineModel(cfg))
    got = [
        (int(t.span_idx), t.region_type, int(t.region_seq), int(t.char_start),
         int(t.char_end), t.text)
        for t in out.itertuples(index=False)
    ]
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, role, cfg)
    ]
    assert got == want, repr(text)


class _ParagraphHead(LineModel):
    """Toy contextual head: a text line that opens a paragraph (the
    array's first line, or one after a blank line) is a header, so a
    line's label depends on the line before it."""

    context_window = 1

    def classify_arrow(self, stripped_pa, s_len):
        out = super().classify_arrow(stripped_pa, s_len)
        opens = np.concatenate(([True], s_len[:-1] == 0)) & (out == C_TEXT)
        out[opens] = C_HEADER
        return out


def test_patch_stitching_equals_whole():
    """do_prediction graft (eynollah.py:522-639): a contextual head run
    patch-wise with margin stitching must equal its whole-array labels
    on a page longer than two patches."""
    cfg = DEFAULT_CONFIG
    df = generate_local(CorpusSpec(n_convs=6, seed=3))
    lines = [ln.strip() for ln in "\n".join(df["text"]).split("\n")]
    assert len(lines) > 2 * cfg.patch_lines
    arr = pa.array(lines, type=pa.string())
    s_len = np.array([len(ln) for ln in lines], dtype=np.int64)
    model = _ParagraphHead(cfg)
    whole = model.classify_arrow(arr, s_len)
    assert (model.classify_patched(arr, s_len) == whole).all()
    # a patch's first row has no context inside the patch; on this page
    # some such row is labelled differently than in the whole array, so
    # a stitch that also wrote the margin rows would fail the check above
    step = cfg.patch_lines - 2 * cfg.patch_margin
    assert any(
        model.classify_arrow(arr.slice(lo, 1), s_len[lo : lo + 1])[0] != whole[lo]
        for lo in range(step - cfg.patch_margin, len(lines), step)
    )


class _ContextualRules(LineModel):
    """The rule head declared contextual: it runs through the patch
    loop, and model B re-classifies every line."""

    context_window = 1


@pytest.mark.parametrize("cfg_name", ["default", "all_modes"])
def test_contextual_rule_head_matches_default(cfg_name):
    """The rule head's labels are per-line, so running it as a
    contextual model (patched, model B over all lines) must give the
    default model's spans and page diagnostics exactly."""
    cfg = DEFAULT_CONFIG if cfg_name == "default" else _fuzz_cfg()
    df = generate_local(CorpusSpec(n_convs=60, seed=3))
    pdf = df[["conv_id", "turn_idx", "role", "text"]].reset_index(drop=True)
    plain, ctx = LineModel(cfg), _ContextualRules(cfg)
    pd.testing.assert_frame_equal(
        analyze_turns_batch(pdf, ctx), analyze_turns_batch(pdf, plain), check_exact=True
    )
    diags = page_diags_batch(pdf, plain)
    pd.testing.assert_frame_equal(page_diags_batch(pdf, ctx), diags, check_exact=True)
    # some pages hold non-ASCII lines and take the binarized retry
    assert diags["used_binarized"].any()


def test_separator_min_len_kernel_matches_oracle():
    """A rule of SEP_MIN_LEN separator chars is a separator region and
    one char shorter is not, in the kernel and the oracle alike."""
    texts = [
        f"intro line here\n{ch * k}\nafter text"
        for ch in sorted(SEP_CHARS)
        for k in (SEP_MIN_LEN - 1, SEP_MIN_LEN)
    ]
    got = _kernel_spans([(t, "user") for t in texts])
    for t, g in zip(texts, got):
        assert g == _oracle_spans(t, "user")
    has_sep = [any(sp[1] == "separator" for sp in g) for g in got]
    assert has_sep == [False, True] * len(SEP_CHARS)


def test_smoothed_gutter_survives_stray_chars():
    """A3/W6 fidelity: a WIDE column gap containing one stray character
    must still split (the smoothed relative-depth valley survives what
    the old exact-zero-run rule could not)."""
    left, right = "aaaaaaaaaa", "bbbbbbbbbb"
    clean = left + " " * 12 + right
    stray = left + " " * 5 + "." + " " * 6 + right
    text = "\n".join([clean, stray, clean, clean])
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    # two column regions, column-major; the stray '.' is gutter noise
    assert {g[2] for g in got} == {0, 1}
    texts = [g[5] for g in got]
    assert texts == [left] * 4 + [right] * 4
    assert "." not in "".join(texts)


def test_narrow_pure_gutter_still_splits():
    """Legacy behavior preserved: a 3-wide all-blank gutter splits."""
    text = "\n".join(["aaaaaaaaaa   bbbbbbbbbb"] * 3)
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")
    assert {g[2] for g in got} == {0, 1}


def test_stray_in_narrow_gutter_blocks_split():
    """A stray char inside a NARROW gutter keeps the block single-column
    (the valley is no longer deep enough relative to the peak)."""
    rows = ["aaaaaaaaaa   bbbbbbbbbb"] * 3
    rows[1] = "aaaaaaaaaa . bbbbbbbbbb"
    text = "\n".join(rows)
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")
    assert {g[2] for g in got} == {0}


def test_fragment_adherence_overlap_argmax():
    """J4 fidelity: an interleaved fragment merges into the big span
    with maximal COLUMN overlap, not blindly into the previous span."""
    lines = [
        "a" * 30,                       # big1, cols [0, 30)
        " " * 29 + "ok",                # fragment, cols [29, 31)
        " " * 8 + "b" * 30,             # big2, cols [8, 38)
    ]
    text = "\n".join(lines)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    texts = [g[5] for g in got]
    # overlap with big1 = 1, with big2 = 2 -> prefix onto big2
    assert texts == ["a" * 30, "ok " + "b" * 30]
    # char_start of the merged span is the fragment's start
    assert got[1][3] == 31 + 29


def test_fragment_adherence_plain_paragraph_keeps_nearest():
    """Equal overlaps tie-break to the index-nearest big span, so a
    trailing fragment still merges into the LAST line of a plain
    paragraph (the old sequential behavior)."""
    text = "\n".join(["first long line here", "second long line here", "ok"])
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")
    assert [g[5] for g in got] == [
        "first long line here",
        "second long line here ok",
    ]


def test_deskew_recovers_staggered_columns():
    """T6/F2 fidelity: a two-column block skewed by 1 char/line has no
    raw-profile gutter (the gap staggers), but the shear grid de-indents
    it and the sheared profile splits."""
    body = "aaaaaaaaaa   bbbbbbbbbb"
    lines = [" " * k + body for k in range(5)]
    text = "\n".join(lines)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    texts = [g[5] for g in got]
    assert texts == ["aaaaaaaaaa"] * 5 + ["bbbbbbbbbb"] * 5
    # offsets still index the ORIGINAL skewed text: line k's left span
    # starts at line_start + k
    starts_ = [g[3] for g in got[:5]]
    line_starts = [sum(len(l) + 1 for l in lines[:k]) for k in range(5)]
    assert starts_ == [ls + k for k, ls in enumerate(line_starts)]


def test_deskew_no_gutter_is_noop():
    """A skewed single-column paragraph deskews, finds no gutters, and
    emits exactly as if never sheared."""
    lines = [" " * k + f"plain paragraph line number {k} with words" for k in range(4)]
    text = "\n".join(lines)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    assert [g[5] for g in got] == [ln.strip() for ln in lines]
    assert {g[2] for g in got} == {0}


def test_projection_marginalia_column():
    """utils/marginals.py analog: a narrow outer column of short lines
    becomes a marginalia region (no [note:] literal required)."""
    body = "x" * 40
    notes = ["note A", "see 12", "cf. B3", "ref Z9"]
    lines = [body + " " * 6 + n for n in notes]
    text = "\n".join(lines)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    by_type = {}
    for g in got:
        by_type.setdefault(g[1], []).append(g[5])
    assert by_type["text"] == [body] * 4
    assert by_type["marginalia"] == notes
    # reading order: text column first (group 1), then marginalia (2)
    assert [g[1] for g in got] == ["text"] * 4 + ["marginalia"] * 4


def test_symmetric_columns_stay_text():
    """Equal-width columns (table-like) are NOT marginalia."""
    lines = ["aaaaaaaaaaaa    bbbbbbbbbbbb"] * 3
    text = "\n".join(lines)
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")
    assert {g[1] for g in got} == {"text"}
    assert {g[2] for g in got} == {0, 1}


def test_page_columns_order_across_bands():
    """W4 fidelity: a vertical gutter spanning two bands orders regions
    column-major across the whole page, not per block."""
    b1 = ["aaaaaaaaaa   bbbbbbbbbb"] * 4
    b2 = ["cccccccccc   dddddddddd"] * 4
    text = "\n".join(b1 + ["", ""] + b2)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    texts = [g[5] for g in got]
    # column 0 of BOTH bands first, then column 1 of both bands
    assert texts == (
        ["aaaaaaaaaa"] * 4 + ["cccccccccc"] * 4
        + ["bbbbbbbbbb"] * 4 + ["dddddddddd"] * 4
    )


def test_contained_separator_does_not_split_bands():
    """J7 fidelity: a separator whose ink sits inside ONE page column
    is local to that column — it no longer advances the band counter;
    a full-width separator still does."""
    b1 = ["aaaaaaaaaa   bbbbbbbbbb"] * 3
    b2 = ["cccccccccc   dddddddddd"] * 3
    contained = "\n".join(b1 + ["---"] + b2)
    got_c = _kernel_spans([(contained, "user")])[0]
    assert got_c == _oracle_spans(contained, "user")
    # one band: col0 = a-block then c-block then the local separator
    texts_c = [g[5] for g in got_c]
    assert texts_c == (
        ["aaaaaaaaaa"] * 3 + ["cccccccccc"] * 3 + ["---"]
        + ["bbbbbbbbbb"] * 3 + ["dddddddddd"] * 3
    )

    crossing = "\n".join(b1 + ["-" * 23] + b2)
    got_x = _kernel_spans([(crossing, "user")])[0]
    assert got_x == _oracle_spans(crossing, "user")
    texts_x = [g[5] for g in got_x]
    # two bands inside column 0: a-block (band 0), separator, c-block
    # (band 1) — still column-major across the page
    assert texts_x == (
        ["aaaaaaaaaa"] * 3 + ["-" * 23] + ["cccccccccc"] * 3
        + ["bbbbbbbbbb"] * 3 + ["dddddddddd"] * 3
    )

    # a separator inside the RIGHT column belongs to column 1: it
    # follows that column's text, not column 0's
    right = "\n".join(b1 + [" " * 13 + "-" * 10] + b2)
    got_r = _kernel_spans([(right, "user")])[0]
    assert got_r == _oracle_spans(right, "user")
    assert [g[5] for g in got_r] == (
        ["aaaaaaaaaa"] * 3 + ["cccccccccc"] * 3
        + ["bbbbbbbbbb"] * 3 + ["dddddddddd"] * 3 + ["-" * 10]
    )


def _cl_kernel_spans(text, role="user"):
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(enable_line_split=True)
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": [role], "text": [text]}
    )
    out = analyze_turns_batch(pdf, LineModel(cfg))
    return [
        (int(t.span_idx), t.region_type, int(t.region_seq), int(t.char_start),
         int(t.char_end), t.text)
        for t in out.itertuples(index=False)
    ], cfg


def test_curved_line_split_mode():
    """-cl analog: a long span with wide internal gaps subdivides;
    offsets index the original text; default mode is unchanged."""
    from eynollah_spark.oracle.reference import analyze_turn_naive

    left = "w" * 45
    right = "v" * 45
    text = left + "  " + right  # 92 chars, one 2-space gap
    got, cfg = _cl_kernel_spans(text)
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user", cfg)
    ]
    assert got == want
    assert [g[5] for g in got] == [left, right]
    assert got[1][3] == 47  # right piece starts after the gap
    # default mode: unchanged single span
    plain = _kernel_spans([(text, "user")])[0]
    assert [g[5] for g in plain] == [text]


def test_curved_line_split_gap_scales_with_length():
    """Data-dependent sigma: a 2-space gap splits a ~90-char span but
    NOT a >=160-char span (sigma doubles, so the smoothed valley is no
    longer deep enough); a 4-space gap still splits it."""
    from eynollah_spark.oracle.reference import analyze_turn_naive

    long_text = "x" * 100 + "  " + "y" * 100  # 202 chars: sigma=2
    got, cfg = _cl_kernel_spans(long_text)
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(long_text, "user", cfg)
    ]
    assert got == want
    assert [g[5] for g in got] == [long_text]
    wide = "x" * 100 + "    " + "y" * 100  # 4-space valley qualifies
    got2, _ = _cl_kernel_spans(wide)
    want2 = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(wide, "user", cfg)
    ]
    assert got2 == want2
    assert [g[5] for g in got2] == ["x" * 100, "y" * 100]


def test_curved_line_split_prominence_keeps_sliver():
    """Two-sided prominence: a trailing 1-char sliver after a gap has
    no right-side ink peak — the span stays whole; a real right piece
    splits."""
    from eynollah_spark.oracle.reference import analyze_turn_naive

    sliver = "x" * 80 + "  " + "y"
    got, cfg = _cl_kernel_spans(sliver)
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(sliver, "user", cfg)
    ]
    assert got == want
    assert [g[5] for g in got] == [sliver]

    real = "x" * 80 + "  " + "y" * 10
    got2, _ = _cl_kernel_spans(real)
    want2 = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(real, "user", cfg)
    ]
    assert got2 == want2
    assert [g[5] for g in got2] == ["x" * 80, "y" * 10]


def test_nul_in_gutter_counts_as_ink():
    """A NUL character inside a would-be gutter is ink (it is not
    whitespace): the block must NOT split into columns, in both
    implementations. Regression: the kernel's UTF-32 grid used code 0
    both for padding and for literal NULs."""
    text = "\n".join(["one \x00 two"] * 3)
    got = _kernel_spans([(text, "user")])[0]
    want = _oracle_spans(text, "user")
    assert got == want
    # single text region, one span per line, no column split
    assert {g[2] for g in got} == {0}
    assert [g[5] for g in got] == ["one \x00 two"] * 3


def test_header_majority_vote_multiline():
    """J8 fidelity (utils/__init__.py:799-858 analog): a 2-line heading
    block — each line failing the per-line header regex on the ORIGINAL
    text but model-B-header after binarization — is relabeled as ONE
    header region by the per-region majority vote."""
    text = (
        "§SETUP: the env\n§USAGE: the cli\n\n"
        "now a normal paragraph line follows here\nand another plain body line"
    )
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")
    assert [(g[1], g[2]) for g in got] == [
        ("header", 0), ("header", 0), ("text", 1), ("text", 1)
    ]
    # offsets still index the original text (vote relabels, never edits)
    assert got[0][3:5] == (0, 15) and got[1][3:5] == (16, 31)


def test_header_vote_mass_and_shape_gates():
    """The vote needs header mass >= text mass AND a short region:
    a mixed region with a dominant body line stays text; a 3-line
    region never votes even if all lines are model-B headers."""
    mixed = (
        "§SETUP: env\nthis is a much longer plain body line that outweighs it"
        "\n\nbody paragraph here"
    )
    got = _kernel_spans([(mixed, "user")])[0]
    assert got == _oracle_spans(mixed, "user")
    assert all(g[1] == "text" for g in got)

    # 3-line region: never votes even when every line is model-B header
    # (extra body lines keep the §4 agreement gate above threshold)
    tall = (
        "§AAA: x\n§BBB: y\n§CCC: z\n\n"
        "body paragraph line here\nsecond body paragraph line\n"
        "third body paragraph line\nfourth body paragraph line"
    )
    got2 = _kernel_spans([(tall, "user")])[0]
    assert got2 == _oracle_spans(tall, "user")
    assert all(g[1] == "text" for g in got2)


def test_header_vote_noop_when_gate_chose_model_b():
    """When the §4 gate already selected model B, model-B header lines
    are singleton header regions and text regions carry no B-header
    mass — the vote is a structural no-op (still byte-equal)."""
    # heavily non-ASCII page: agreement ratio collapses, gate flips to B
    text = "§§§ ¶¶\n§NOTE: one\n§¶ twø wörds hére\n§¶ more ink ¶¶"
    got = _kernel_spans([(text, "user")])[0]
    assert got == _oracle_spans(text, "user")


def test_blank_bridge_mode():
    """F3 closing analog (utils/__init__.py:1363-1393), gated: a single
    interior blank line bridges two same-class text runs into one
    region; two blanks never bridge; default mode is unchanged."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(region_blank_bridge=True)

    def spans(text, c=None):
        pdf = pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}
        )
        out = analyze_turns_batch(pdf, LineModel(c) if c else None)
        return [
            (int(t.span_idx), t.region_type, int(t.region_seq),
             int(t.char_start), int(t.char_end), t.text)
            for t in out.itertuples(index=False)
        ]

    def oracle(text, c=None):
        spans_ = analyze_turn_naive(text, "user", c) if c else analyze_turn_naive(text, "user")
        return [
            (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
            for s in spans_
        ]

    one = "first text line here\n\nsecond text line here"
    got = spans(one, cfg)
    assert got == oracle(one, cfg)
    assert [g[2] for g in got] == [0, 0]  # bridged: one region
    off = spans(one)
    assert off == oracle(one)
    assert [g[2] for g in off] == [0, 1]  # default: two regions

    two = "first text line here\n\n\nsecond text line here"
    got2 = spans(two, cfg)
    assert got2 == oracle(two, cfg)
    assert [g[2] for g in got2] == [0, 1]  # >= 2 blanks: real split

    # a blank between DIFFERENT classes never bridges
    mixed = "plain text body line\n\n[note: a margin note]"
    got3 = spans(mixed, cfg)
    assert got3 == oracle(mixed, cfg)
    assert [g[1] for g in got3] == ["text", "marginalia"]


def test_empty_and_degenerate():
    for text in ["", "   \n \n  ", "\n\n\n", "```", "```\nx"]:
        assert _kernel_spans([(text, "user")])[0] == _oracle_spans(text, "user")


def test_table_mode_parity_and_fusion():
    """M10 analog (-tab flag): pipe-delimited rows become 'table'
    regions; a separator rule directly between two table rows is
    absorbed (J5 fusion) and stops advancing the band counter.
    Kernel and oracle must agree span-for-span; with the flag off the
    same input is plain text."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(enable_tables=True)
    model = LineModel(cfg)
    text = "\n".join(
        [
            "intro paragraph line",
            "| a | b |",
            "---",
            "| c | d |",
            "tail text",
            "---",
            "after separator",
        ]
    )

    def kernel_spans(m):
        pdf = pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}
        )
        out = analyze_turns_batch(pdf, m)
        return [
            (int(t.span_idx), t.region_type, int(t.region_seq), int(t.char_start),
             int(t.char_end), t.text)
            for t in out.itertuples(index=False)
        ]

    got = kernel_spans(model)
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user", cfg)
    ]
    assert got == want
    types = [g[1] for g in got]
    assert "table" in types
    # fused region: the absorbed '---' is inside one table region with
    # both pipe rows
    table_spans = [g for g in got if g[1] == "table"]
    assert len({g[2] for g in table_spans}) == 1
    assert [g[5] for g in table_spans] == ["| a | b |", "---", "| c | d |"]
    # the second separator (not between table rows) stays a separator
    assert "separator" in types

    # flag off: identical input has no table regions, and kernel still
    # matches the oracle
    off = kernel_spans(LineModel())
    assert "table" not in [g[1] for g in off]
    off_want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user")
    ]
    assert off == off_want


def test_vote_blocks_corpus_agreement():
    """J8 e2e: a corpus seeded with §-heading PAIRS (only the
    per-region vote can relabel them) stays byte-equal between kernel
    and oracle, and the vote demonstrably fires; the DEFAULT corpus is
    byte-identical with the knob off (benchmark comparability)."""
    spec_on = CorpusSpec(n_convs=30, seed=7, vote_blocks=True)
    df = generate_local(spec_on)
    got = _kernel_spans(list(zip(df["text"], df["role"])))
    n_multi_header_regions = 0
    for i, row in enumerate(df.itertuples(index=False)):
        want = _oracle_spans(row.text, row.role)
        assert got[i] == want, (row.conv_id, row.turn_idx)
        per_region = {}
        for sp in got[i]:
            if sp[1] == "header":
                per_region.setdefault(sp[2], 0)
                per_region[sp[2]] += 1
        n_multi_header_regions += sum(1 for v in per_region.values() if v >= 2)
    assert n_multi_header_regions >= 5  # the vote fired in the corpus

    # default corpus unchanged by the new knob
    base = generate_local(CorpusSpec(n_convs=10, seed=7))
    again = generate_local(CorpusSpec(n_convs=10, seed=7, vote_blocks=False))
    assert base.equals(again)
    assert not base["text"].str.contains("§", regex=False).any()


def test_no_full_layout_mode():
    """--no-full-layout analog (cli.py:72, eynollah.py:1837): header
    and drop-capital detection are skipped — such lines are plain
    text, the vote never fires, and the drop-capital merge has nothing
    to merge. Kernel and oracle in lockstep; default mode unchanged."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(full_layout=False)
    text = (
        "## Heading\nA\nplain body text line here\n\n"
        "§SETUP: env\n§USAGE: cli\n\nmore body paragraph text"
    )

    def spans(c=None):
        pdf = pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}
        )
        out = analyze_turns_batch(pdf, LineModel(c) if c else None)
        return [
            (int(t.span_idx), t.region_type, int(t.region_seq),
             int(t.char_start), int(t.char_end), t.text)
            for t in out.itertuples(index=False)
        ]

    got = spans(cfg)
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user", cfg)
    ]
    assert got == want
    types = {g[1] for g in got}
    assert "header" not in types and "drop-capital" not in types
    # '## Heading' and 'A' are ordinary text lines now: 'A' is a
    # <= 2-char fragment, so §9 adherence sticks it to its overlap
    # neighbor — all in ONE text region with the body line
    assert [g[5] for g in got[:2]] == ["## Heading A", "plain body text line here"]
    assert len({g[2] for g in got[:2]}) == 1

    # full layout (default): header region, merged dropcap, vote fires
    full = spans()
    assert full == _oracle_spans(text, "user")
    ftypes = [g[1] for g in full]
    assert "header" in ftypes
    assert any(g[5].startswith("Aplain") for g in full)  # dropcap merged


@settings(max_examples=100, deadline=None)
@given(text=_text, role=st.sampled_from(["user", "assistant", "tool"]))
def test_fuzz_agreement_no_full_layout(text, role):
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(full_layout=False)
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": [role], "text": [text]}
    )
    out = analyze_turns_batch(pdf, LineModel(cfg))
    got = [
        (int(t.span_idx), t.region_type, int(t.region_seq), int(t.char_start),
         int(t.char_end), t.text)
        for t in out.itertuples(index=False)
    ]
    want = [
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, role, cfg)
    ]
    assert got == want, repr(text)


@settings(max_examples=80, deadline=None)
@given(text=_text, role=st.sampled_from(["user", "assistant", "tool"]))
def test_fuzz_diag_agreement_all_modes(text, role):
    """SPEC §11 diagnostics stay in lockstep under the optional modes
    (tables + line-split + blank-bridge), not just span emission."""
    cfg = _fuzz_cfg()
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": [role], "text": [text]}
    )
    g = page_diags_batch(pdf, LineModel(cfg)).iloc[0]
    e = page_diag_naive(text, role, cfg)
    assert e["n_lines"] == g["n_lines"]
    assert e["n_spans"] == g["n_spans"]
    assert e["n_regions"] == g["n_regions"]
    assert e["max_columns"] == g["max_columns"]
    assert abs(e["slope"] - g["slope"]) < 1e-12
    assert e["used_binarized"] == bool(g["used_binarized"])
    assert e["was_enhanced"] == bool(g["was_enhanced"])


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_select_gutters_batch_matches_scalar(seed):
    """The grid-vectorized valley machinery must be bit-identical per
    row to the oracle's scalar _select_gutters_naive on randomized
    zero-padded profile grids (incl. all-zero rows, stray columns,
    degenerate widths 0/1, and flat-low plateaus)."""
    import numpy as np

    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import _select_gutters_batch
    from eynollah_spark.oracle.reference import _select_gutters_naive

    rng = np.random.default_rng(seed)
    for cfg in (
        ExtractConfig(),
        ExtractConfig(gutter_max_stray_lines=0, max_columns=2),
        ExtractConfig(gutter_rel_depth=0.5, gutter_peak_frac=0.2, gutter_sigma=2.0),
    ):
        for _ in range(40):
            m = int(rng.integers(1, 24))
            W = int(rng.integers(2, 96))
            widths = rng.integers(0, W + 1, size=m)
            grid = np.zeros((m, W), dtype=np.int64)
            for r in range(m):
                w = int(widths[r])
                if w == 0:
                    continue
                # spiky profile with interleaved low/zero valleys
                row = rng.integers(0, 12, size=w)
                nz = rng.random(w) < 0.35
                row[nz] = 0
                grid[r, :w] = row
            got = _select_gutters_batch(grid, widths, cfg)
            for r in range(m):
                prof = [int(v) for v in grid[r, : int(widths[r])]]
                want = _select_gutters_naive(prof, cfg)
                assert got[r] == want, (r, int(widths[r]), grid[r].tolist())


@pytest.mark.parametrize("seed", [5, 23, 71])
def test_choose_shear_batch_matches_scalar(seed):
    """The cross-block batched shear grid must reproduce the oracle's
    scalar _choose_shear_naive result (slope, shift vector, sheared
    profile) for every block, rendered as text lines — including
    no-shear Nones, staggered columns, and blocks whose candidates
    collapse to identical shift vectors."""
    import numpy as np

    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import _choose_shear_batch, _ls_slope_int
    from eynollah_spark.oracle.reference import _choose_shear_naive

    rng = np.random.default_rng(seed)
    cfg = ExtractConfig()
    specs = []
    scalar = []
    for _ in range(30):
        n = int(rng.integers(3, 40))
        w = int(rng.integers(4, 120))
        # staggered indent so many blocks pass the slope gate
        leads = (np.arange(n) * float(rng.choice([0.0, 0.4, 1.0, 2.5]))
                 + rng.integers(0, 3, size=n)).astype(np.int64)
        block = []
        for k in range(n):
            body = np.where(rng.random(int(rng.integers(1, w + 1))) < 0.4, "x", " ")
            body[0] = "x"  # the lead is exactly the indent
            block.append(" " * int(leads[k]) + "".join(body))
        A, B = _ls_slope_int([int(v) for v in leads])
        if B <= 0 or abs(A) < cfg.slope_threshold * B:
            continue  # batch contract: caller only passes gated blocks
        lens = np.asarray([len(ln) for ln in block], dtype=np.int64)
        rows = [k for k, ln in enumerate(block) for ch in ln if ch != " "]
        cols = [p for ln in block for p, ch in enumerate(ln) if ch != " "]
        specs.append((A, B, lens, np.asarray(rows, np.int64), np.asarray(cols, np.int64)))
        scalar.append(_choose_shear_naive(block, cfg))
    assert specs, "fuzz produced no gated blocks"
    assert any(s is not None for s in scalar), "no block sheared"
    got = _choose_shear_batch(specs, cfg)
    assert len(got) == len(scalar)
    for g, s in zip(got, scalar):
        if s is None:
            assert g is None
            continue
        assert g is not None
        assert g[0] == s[0] and g[1] == s[1]
        assert [int(v) for v in g[2]] == s[2]


def test_page_union_chunk_batching_matches_single_page():
    """The batched §6p page-union profiles key chunks by page slot and
    width; pages of DIFFERENT widths sharing one chunk must emit
    byte-identically to processing each page in its own batch."""
    import pandas as pd

    col2_narrow = "\n".join(
        ["alpha%02d   beta%02d" % (i, i) for i in range(8)]
    )
    col2_wide = "\n".join(
        ["gamma%02d word%02d        delta%02d extra%02d" % (i, i, i, i) for i in range(9)]
    )
    simple = "\n".join(["just a plain line %d" % i for i in range(5)])
    # two text blocks per page so n_text_blocks >= 2 gates the union
    pages = [
        col2_narrow + "\n\n\n" + col2_narrow,
        col2_wide + "\n\n\n" + col2_wide,
        simple,
    ]
    rows = [("c%d" % i, 0, "user", t) for i, t in enumerate(pages)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    batched = analyze_turns_batch(pdf).sort_values(
        ["conv_id", "turn_idx", "span_idx"]
    ).reset_index(drop=True)
    singles = pd.concat(
        [analyze_turns_batch(pdf.iloc[[i]]) for i in range(len(pdf))],
        ignore_index=True,
    ).sort_values(["conv_id", "turn_idx", "span_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(batched, singles)
    # the fixture really exercises the column path
    assert (batched.groupby("conv_id")["region_seq"].nunique() > 1).any()


# ---------------------------------------------------------------------------
# §1e enhancement pre-pass (M1 analog, reference eynollah.py:381-450,
# 1988-2010): fixture family, kernel vs oracle in both modes
# ---------------------------------------------------------------------------

_ENH_PAGES = [
    # low-density: trailing-space padding + blank runs collapse
    "alpha beta   \n\n\n\ngamma   \n\n\ndelta",
    # low-density: over-long line re-wraps greedily at spaces
    "word " * 40 + "\n\n\n\n\n\n\n\n\n\n\n\n\n\n",
    # low-density: token wider than the page hard-cuts at width
    "x" * 200 + "\n" + "\n" * 12,
    # dense page: gate does NOT fire, text passes through verbatim
    "\n".join("this line is plenty dense for the dpi analog %03d" % i for i in range(6)),
    # low-density with structure that classification then sees: a
    # separator and a header emerge once the padding collapses
    "# Title  \n\n\n\n---  \n\n\n\nbody text here  \n\n\n\n",
    # multi-space interior padding survives (only EDGES are trimmed)
    "a   b \n\n\n\n\nc   d ",
]


@pytest.mark.parametrize("enabled", [False, True])
@pytest.mark.parametrize("idx", range(len(_ENH_PAGES)))
def test_enhancement_fixture_family(idx, enabled):
    """Kernel and naive oracle stay span- and diag-lockstep with the
    enhancement flag in BOTH positions; with it on, flagged pages
    report was_enhanced and offsets refer to the enhanced text."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import LineModel

    cfg = ExtractConfig(enable_enhancement=enabled)
    text = _ENH_PAGES[idx]
    pdf = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}
    )
    out = analyze_turns_batch(pdf, LineModel(cfg))
    got = sorted(
        (int(t.span_idx), t.region_type, int(t.region_seq),
         int(t.char_start), int(t.char_end), t.text)
        for t in out.itertuples(index=False)
    )
    exp = sorted(
        (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
        for s in analyze_turn_naive(text, "user", cfg)
    )
    assert got == exp
    g = page_diags_batch(pdf, LineModel(cfg)).iloc[0]
    e = page_diag_naive(text, "user", cfg)
    for k in ("n_lines", "n_spans", "n_regions", "max_columns", "was_enhanced"):
        assert e[k] == g[k], k
    # the gate itself: dense page never enhances; sparse pages do
    # exactly when the flag is on
    density = len(text) / (text.count("\n") + 1)
    assert bool(g["was_enhanced"]) == (enabled and density < cfg.enhancement_density_min)


def test_enhancement_offsets_refer_to_enhanced_text():
    """allow_enhancement semantics: char offsets index the ENHANCED
    page, and slicing it back out reproduces each span's text."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.kernel.textpage import enhance_page_text

    cfg = ExtractConfig(enable_enhancement=True)
    text = "lead word  \n\n\n\nsecond chunk " + "pad " * 30 + " \n\n\n\ntail"
    enhanced, was = enhance_page_text(text, cfg)
    assert was
    spans = analyze_turn_naive(text, "user", cfg)
    assert spans
    for s in spans:
        assert enhanced[s.char_start:s.char_end].strip() == s.text


def test_enhancement_tool_pages_bypass():
    """§1 precedes §1e: tool pages are never rewritten even when
    sparse (their offsets must stay stable for downstream joins)."""
    from eynollah_spark.config import ExtractConfig

    cfg = ExtractConfig(enable_enhancement=True)
    text = "result ok  \n\n\n\n\n\n{}"
    spans_on = analyze_turn_naive(text, "tool", cfg)
    spans_off = analyze_turn_naive(text, "tool", ExtractConfig())
    key = lambda s: (s.span_idx, s.region_type, s.char_start, s.char_end, s.text)
    assert [key(s) for s in spans_on] == [key(s) for s in spans_off]
    assert page_diag_naive(text, "tool", cfg)["was_enhanced"] is False


def _assert_diag_matches_oracle(g, text, role, cfg):
    e = page_diag_naive(text, role, cfg)
    for k in ("n_lines", "n_spans", "n_regions", "max_columns", "is_deskewed",
              "used_binarized", "was_enhanced"):
        assert e[k] == g[k], (k, e[k], g[k])
    assert abs(e["slope"] - g["slope"]) < 1e-12
    assert abs(e["agreement_ratio"] - g["agreement_ratio"]) < 1e-9


def _batch_matches_oracle(texts, cfg, roles=None):
    """Spans of every turn equal analyze_turn_naive's and diagnostics
    equal page_diag_naive's, over ONE kernel batch."""
    roles = roles or ["user"] * len(texts)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "role": roles,
            "text": texts,
        }
    )
    m = LineModel(cfg)
    out = analyze_turns_batch(pdf, m).sort_values(["conv_id", "span_idx"])
    got = {}
    for t in out.itertuples(index=False):
        got.setdefault(t.conv_id, []).append(
            (int(t.span_idx), t.region_type, int(t.region_seq),
             int(t.char_start), int(t.char_end), t.text)
        )
    diags = page_diags_batch(pdf, m)
    for i, (text, role) in enumerate(zip(texts, roles)):
        want = [
            (s.span_idx, s.region_type, s.region_seq, s.char_start, s.char_end, s.text)
            for s in analyze_turn_naive(text, role, cfg)
        ]
        assert got.get(f"c{i}", []) == want, repr(text[:300])
        _assert_diag_matches_oracle(diags.iloc[i], text, role, cfg)
    return got


@pytest.mark.parametrize("seed", [7, 41, 113, 227])
def test_emit_regions_matches_per_page_walk(seed):
    """The array engine must match the oracle's per-page walk
    (analyze_turn_naive / page_diag_naive) on randomized multi-column
    corpora: gutter splits, sheared blocks, marginalia relabels,
    dropcaps, fragments and the empty-column edge, with column-free,
    column and tool pages (~1 in 8) in ONE region table, which leaves
    the kernel as one frame."""
    import numpy as np

    from eynollah_spark.config import ExtractConfig

    rng = np.random.default_rng(seed)
    words = ["alpha", "beta", "gamma", "delta", "ep", "zeta", "x", "Q"]
    texts = []
    for _ in range(300):
        n_lines = int(rng.integers(1, 14))
        # ~1 in 6 pages is a consistently-indented two-column block so
        # the §6d shear path fires — its shifted segment windows can
        # exceed the widest line (the key-slot-bleed regression class)
        sheared = rng.random() < 0.17
        lines = []
        for k in range(n_lines):
            if rng.random() < 0.5 or sheared:
                left = " ".join(rng.choice(words, rng.integers(1, 4)))
                right = " ".join(rng.choice(words, rng.integers(0, 3)))
                pad = int(rng.integers(24, 34))
                line = left.ljust(pad) + right
            else:
                line = " ".join(rng.choice(words, rng.integers(0, 7)))
            if sheared:
                line = " " * k + line
            elif rng.random() < 0.15:
                line = " " * int(rng.integers(0, 6)) + line
            if not sheared and rng.random() < 0.1:
                line = "## " + line
            if not sheared and rng.random() < 0.06:
                line = "---"
            lines.append(line)
        texts.append("\n".join(lines))
    roles = ["tool" if r < 0.125 else "user" for r in rng.random(len(texts))]
    for cfg in (ExtractConfig(), ExtractConfig(small_fragment_max_len=0)):
        _batch_matches_oracle(texts, cfg, roles)
        pdf = pd.DataFrame(
            {"conv_id": "c", "turn_idx": range(len(texts)), "role": roles, "text": texts}
        )
        assert len(analyze_turns_frames(pdf, LineModel(cfg))) == 1


# ---------------------------------------------------------------------------
# wide planted pages: the fuzz alphabet stays under ~150 chars per line,
# so these pin blocks wider than one narrow grid chunk and §6p pages
# wider than 512 chars against the oracle
# ---------------------------------------------------------------------------

_WORDS = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do".split()


def _words(k: int, width: int) -> str:
    """Single-spaced words starting at word k, cut to exactly width."""
    out = []
    i = k
    while len(" ".join(out)) < width:
        out.append(_WORDS[i % len(_WORDS)])
        i += 1
    return " ".join(out)[:width].rstrip().ljust(width, "z")


def _two_col(n, left, gap, right, skew=0, k0=0):
    return [
        " " * (skew * k) + _words(k0 + k, left) + " " * gap + _words(k0 + k + 3, right)
        for k in range(n)
    ]


_WIDE_PAGES = {
    # straight two-column block, 229 chars wide
    "straight_wide_block": "\n".join(_two_col(5, 120, 6, 103)),
    # two-column block skewed 1 char/line: the 3-wide gap staggers in
    # the raw profile and only the sheared profile splits
    "skewed_wide_block": "\n".join(_two_col(6, 130, 3, 90, skew=1)),
    # two text blocks with 563-char lines, a contained separator and a
    # header: §6p page-column mode over a page wider than 512 chars
    "page_columns_wide": "\n".join(
        ["# Wide columns"]
        + _two_col(4, 300, 7, 256)
        + ["---"]
        + _two_col(5, 300, 7, 256, k0=2)
        + ["", "", "tail paragraph line"]
    ),
}


@pytest.mark.parametrize("name", sorted(_WIDE_PAGES))
def test_wide_planted_pages_match_oracle(name):
    """Kernel spans and diagnostics equal the oracle's on the wide
    planted pages, under the default config and with every optional
    mode on; the default-config output really splits into columns."""
    text = _WIDE_PAGES[name]
    got = _batch_matches_oracle([text], DEFAULT_CONFIG)["c0"]
    _batch_matches_oracle([text], _fuzz_cfg())
    left_cols = [g for g in got if g[1] == "text" and g[5].startswith(tuple(_WORDS))]
    assert len({g[2] for g in left_cols}) >= 2  # column regions
    assert max(len(ln) for ln in text.split("\n")) > (512 if "page" in name else 192)
    if name == "page_columns_wide":
        # column-major across both blocks: every left-column span of
        # the two blocks precedes every right-column span
        ts = [g[5] for g in got]
        assert ts.index(_words(0, 300)) < ts.index(_words(2, 300)) < ts.index(_words(3, 256))
        g = page_diags_batch(
            pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]})
        ).iloc[0]
        assert g["max_columns"] == 2


def test_line_split_all_fragment_region_stays_whole():
    """§9L then §9: a text region whose split pieces would all be
    fragments keeps its spans whole and unmerged, like the oracle."""
    from eynollah_spark.config import ExtractConfig

    cfg = ExtractConfig(enable_line_split=True, line_split_min_len=8)
    text = "ab      cd\nx\n\n\nplain paragraph line here"
    got = _batch_matches_oracle([text], cfg)["c0"]
    assert [g[5] for g in got] == ["ab      cd", "x", "plain paragraph line here"]


@pytest.mark.parametrize("cfg_name", ["default", "all_modes"])
def test_diag_n_spans_equals_span_rows_corpus(cfg_name):
    """Per turn, page_diags_batch's n_spans is the span row count of
    analyze_turns_batch (both come from the one emission engine)."""
    cfg = DEFAULT_CONFIG if cfg_name == "default" else _fuzz_cfg()
    df = generate_local(CorpusSpec(n_convs=30, seed=11))
    pdf = df[["conv_id", "turn_idx", "role", "text"]]
    _assert_n_spans_matches_rows(pdf, cfg)


def _assert_n_spans_matches_rows(pdf, cfg):
    m = LineModel(cfg)
    rows = analyze_turns_batch(pdf, m).groupby(["conv_id", "turn_idx"]).size()
    d = page_diags_batch(pdf, m)
    want = [int(rows.get((c, t), 0)) for c, t in zip(d["conv_id"], d["turn_idx"])]
    assert d["n_spans"].tolist() == want


@settings(max_examples=40, deadline=None)
@given(texts=st.lists(_text, min_size=1, max_size=6))
def test_diag_n_spans_equals_span_rows_fuzz(texts):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "role": ["tool" if i % 4 == 3 else "user" for i in range(len(texts))],
            "text": texts,
        }
    )
    _assert_n_spans_matches_rows(pdf, _fuzz_cfg())
