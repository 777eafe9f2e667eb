"""Vectorized text-page layout kernel (implements kernel/SPEC.md).

This is what Spark executes inside ``mapInPandas``: per Arrow batch,
all character-level work (line classification, binarization, ink
profiles) is done with Arrow/numpy vectorized ops across the
*flattened line array of the whole batch* (``_line_stage``). Page
assembly (SPEC §§1-5, ``_page_stage``) runs as segmented numpy with
per-page resets, and SPEC §§6-10 run in one array engine
(``_emit_stage``): batched gutter/deskew grids, then one region table
for every page of the batch (``_emit_regions``: the column split and
reading order) and ``_emit_core`` for merges and emission. Page
diagnostics (§11, ``_diag_stage``) are read off that engine's arrays;
``oracle/reference.py`` is the independent per-page implementation
both are tested against.

Reference parity (all citations into /root/reference/qurator/eynollah):
- two-model classification + binarized-retry gate: eynollah.py:1148-1379
- patch-wise inference with overlap-margin stitching (do_prediction):
  eynollah.py:522-639 -> ``LineModel.classify_patched``
- page border extraction: eynollah.py:673-710
- column split (find_num_col): utils/__init__.py:363-532
- reading order (order_of_regions): utils/__init__.py:993-1156
- drop-capital adherence: utils/drop_capitals.py:9-347
- small-textline adherence: utils/__init__.py:860-991
- deskew slope (fitLine): utils/__init__.py:331-332
"""

from __future__ import annotations

import re
from collections import namedtuple

import numpy as np
import pandas as pd

from eynollah_spark.config import (
    DEFAULT_CONFIG,
    RT_TABLE,
    ExtractConfig,
    FOOTER_PREFIXES,
    RT_DROPCAP,
    RT_HEADER,
    RT_MARGINALIA,
    RT_SEPARATOR,
    RT_TEXT,
    RT_TOOL,
    SEP_CHARS,
    SEP_MIN_LEN,
)

# blocks longer than this bypass the vectorized int64 LS-slope gate
# and use Python's exact integer arithmetic instead. B_e = cn*sk2 -
# sk^2 ~ cn^4/12 wraps int64 at cn ~ (12*2^63)^(1/4) ~ 102,570; 2^16
# leaves a ~2^10 margin that also covers A_e's extra indent factor
_LS_GATE_MAX_LINES = 1 << 16

# integer line classes (pixel-code analog, eynollah.py:1269-1282)
C_BLANK, C_SEP, C_MARG, C_HEADER, C_DROPCAP, C_TEXT = 0, 1, 2, 3, 4, 5
# assigned outside the classifier:
C_FENCE, C_TOOL = 6, 7
# table row (M10 analog; only produced when cfg.enable_tables)
C_TABLE = 8

_SEP_RE = "^[" + re.escape("".join(sorted(SEP_CHARS))) + "]{%d,}$" % SEP_MIN_LEN
_HEADER_RE = r"^(?:#{1,6} |[A-Z][A-Z0-9_]{2,11}:)"
_NONASCII_RE = r"[^\x00-\x7f]"


def _bool(arrow_bool) -> np.ndarray:
    return arrow_bool.to_numpy(zero_copy_only=False).astype(bool)


class LineModel:
    """The broadcastable 'model weights' for line classification.

    Stand-in for the reference's CNN ensemble (M4/M5,
    eynollah.py:140-141): a deterministic rule model whose parameters
    (regexes + thresholds) are broadcast once via ``sc.broadcast`` and
    applied to whole Arrow batches — the north-rule requirement that
    weights are shipped once per executor, not per task closure.
    """

    # how many neighboring lines influence one line's label. The rule
    # head is per-line (0): patching cannot change its labels, so the
    # harness runs it once over the whole array, and model B re-runs it
    # only on the lines binarization alters. A contextual head (e.g. a
    # CNN over a line window) sets its receptive-field half-width here;
    # it is then run patch-wise, where margin >= context keeps the
    # stitch exact, and model B re-runs it on every line.
    context_window: int = 0

    def __init__(self, cfg: ExtractConfig = DEFAULT_CONFIG):
        self.cfg = cfg

    # --- model A / model B shared rule head -------------------------------
    def classify_arrow(self, stripped_pa, s_len: np.ndarray) -> np.ndarray:
        """SPEC §4 rules over an Arrow array of stripped lines (and
        their lengths), evaluated with pyarrow.compute (RE2) over
        contiguous buffers. The patterns are RE2-compatible and
        anchored; the kernel fuzz suite checks the labels against the
        oracle's ``classify_line_naive``."""
        import pyarrow.compute as pc

        cfg = self.cfg
        n = len(s_len)
        out = np.full(n, C_TEXT, dtype=np.int8)
        blank = s_len == 0
        sep = _bool(pc.match_substring_regex(stripped_pa, _SEP_RE))
        marg = _bool(pc.starts_with(stripped_pa, "[note:")) & _bool(
            pc.ends_with(stripped_pa, "]")
        )
        header = _bool(pc.match_substring_regex(stripped_pa, _HEADER_RE)) & (
            s_len <= cfg.header_max_len
        )
        first = pc.utf8_slice_codeunits(stripped_pa, 0, 1)
        dropcap = (
            (s_len == 1)
            & _bool(pc.greater_equal(first, "A"))
            & _bool(pc.less_equal(first, "Z"))
        )
        # first-match-wins precedence, applied in reverse priority;
        # header/dropcap only exist in full-layout mode (the M6/M7
        # second-model pass, eynollah.py:1837)
        if cfg.enable_tables:
            table = (
                pc.count_substring(stripped_pa, "|")
                .to_numpy()
                .astype(np.int64)
                >= cfg.table_min_pipes
            )
            out[table] = C_TABLE
        if cfg.full_layout:
            out[dropcap] = C_DROPCAP
            out[header] = C_HEADER
        out[marg] = C_MARG
        out[sep] = C_SEP
        out[blank] = C_BLANK
        return out

    def classify_patched(self, stripped_pa, s_len: np.ndarray) -> np.ndarray:
        """Patch-wise application with overlap-margin stitching — the
        do_prediction graft (eynollah.py:522-639): the line array is
        tiled into patches of ``patch_lines`` with ``patch_margin``
        overlap on each side; only each patch's interior is written to
        the output (first/last patches keep their outer edge, the 9-case
        interior rule at eynollah.py:590-634 collapsed to 1-D). A
        per-line head gives the whole-array labels patched or not, so
        it runs once over the whole array."""
        cfg = self.cfg
        n = len(s_len)
        step = cfg.patch_lines - 2 * cfg.patch_margin
        if self.context_window == 0 or n <= cfg.patch_lines or step <= 0:
            return self.classify_arrow(stripped_pa, s_len)
        out = np.empty(n, dtype=np.int8)
        for start in range(0, n, step):
            lo = max(0, start - cfg.patch_margin)
            hi = min(n, start + step + cfg.patch_margin)
            pred = self.classify_arrow(stripped_pa.slice(lo, hi - lo), s_len[lo:hi])
            w_hi = min(n, start + step)
            out[start:w_hi] = pred[start - lo : w_hi - lo]
        return out

    def classify_two(self, lines_pa, stripped_pa, s_len: np.ndarray):
        """The two-model ensemble input (eynollah.py:1148-1266): model A
        labels the stripped lines, model B their binarized form (every
        non-ASCII char removed, then stripped). Binarization alters only
        the lines holding non-ASCII, so a per-line head re-classifies
        just those and keeps model A's labels elsewhere; a contextual
        head re-classifies every line. Returns (cls_a, cls_b)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        cls_a = self.classify_patched(stripped_pa, s_len)
        cls_b = cls_a.copy()
        redo = _bool(pc.match_substring_regex(lines_pa, _NONASCII_RE))
        if not redo.any():
            return cls_a, cls_b
        if self.context_window:
            redo[:] = True
        bin_pa = pc.utf8_trim(
            pc.replace_substring_regex(lines_pa.filter(pa.array(redo)), _NONASCII_RE, ""),
            _PY_WHITESPACE,
        )
        cls_b[redo] = self.classify_patched(
            bin_pa, pc.utf8_length(bin_pa).to_numpy().astype(np.int64)
        )
        return cls_a, cls_b


# Every code point Python's str.strip()/str.isspace() treats as
# whitespace — passed to Arrow's utf8_trim so the Arrow fast path has
# BIT-EXACT parity with the oracle's Python .strip() (Arrow's
# utf8_trim_whitespace uses the Unicode White_Space property, which
# differs on \x1c-\x1f etc.).
_PY_WHITESPACE = "".join(chr(c) for c in range(0x3001) if chr(c).isspace())
# boolean LUT over the same range for code-point-side .strip() parity
# (0x3000 IDEOGRAPHIC SPACE is Unicode's highest whitespace codepoint,
# so clamping larger codepoints to index 0 — NUL, not whitespace — is
# exact); used by the batched column-span trim in _emit_regions
_WS_LUT = np.zeros(0x3001, dtype=bool)
_WS_LUT[[ord(c) for c in _PY_WHITESPACE]] = True


def _flatten_lines_arrow(texts: pd.Series):
    """Split a batch of turn texts into one flat Arrow line array.

    Returns (lines_pa: pa.StringArray (flattened), line_start: int64[],
    n_per: int64[], lens: int64[]). line_start is the char offset of
    each line within its own turn text, lens its length. All string traffic
    stays in Arrow contiguous buffers; no per-line Python objects are
    created here.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts.to_numpy(), type=pa.string(), from_pandas=True)
    arr = pc.coalesce(arr, pa.scalar("", type=pa.string()))
    split = pc.split_pattern(arr, "\n")
    n_per = pc.list_value_length(split).to_numpy().astype(np.int64)
    lines_pa = pc.list_flatten(split)
    lens = pc.utf8_length(lines_pa).to_numpy().astype(np.int64)
    csum = np.cumsum(lens + 1)
    turn_first = np.zeros(len(texts), dtype=np.int64)
    if len(texts):
        turn_first[1:] = np.cumsum(n_per)[:-1]
    global_start = np.concatenate(([0], csum[:-1]))
    nonzero = n_per > 0
    base = np.repeat(global_start[turn_first[nonzero]], n_per[nonzero])
    line_start = global_start - base
    return lines_pa, line_start, n_per, lens


def _wrap_line(ln: str, width: int) -> list:
    """Greedy space-wrap of one over-long line (> width): each cut is
    the LAST space at index <= width (hard cut at width when a token
    is wider than the page); pieces are right-trimmed, the remainder
    left-trimmed, empty pieces dropped."""
    parts = []
    s = ln
    while len(s) > width:
        cut = s.rfind(" ", 1, width + 1)
        if cut == -1:
            head, s = s[:width], s[width:]
        else:
            head, s = s[:cut], s[cut + 1 :]
        head = head.rstrip(" ")
        s = s.lstrip(" ")
        if head:
            parts.append(head)
    if s:
        parts.append(s)
    return parts


def enhance_page_text(text: str, cfg: ExtractConfig):
    """SPEC §1e enhancement pre-pass (M1 analog, reference
    eynollah.py:381-450,1988-2010): a page whose ink density
    (len(text) / n_lines, the DPI analog) is below
    ``enhancement_density_min`` is rewritten before classification —
    lines right-trimmed, runs of blank lines collapsed to one,
    over-long lines greedily re-wrapped at spaces. Returns
    (new_text, was_enhanced); span offsets downstream refer to the
    enhanced text."""
    n_lines = text.count("\n") + 1
    if len(text) / n_lines >= cfg.enhancement_density_min:
        return text, False
    out = []
    prev_blank = False
    for ln in text.split("\n"):
        ln = ln.rstrip(" ")
        blank = ln == ""
        if blank and prev_blank:
            continue
        prev_blank = blank
        if len(ln) > cfg.enhancement_wrap_width:
            out.extend(_wrap_line(ln, cfg.enhancement_wrap_width))
        else:
            out.append(ln)
    return "\n".join(out), True


# The arrays one batch carries between the kernel stages: page arrays
# run over its turns, line arrays over its flattened lines, region
# arrays over its §5b region runs. _line_stage builds it; _page_stage
# and _emit_stage fill their own fields (None until then) with _replace.
_Batch = namedtuple(
    "_Batch",
    # _line_stage: the input and config; per page; per line
    "pdf cfg n_per tool_page was_enh"
    " lines_np stripped_np line_start raw_len s_len lstr_len"
    " is_banner is_footer is_fence cls_a cls_b"
    # _page_stage: per page; per line; per region
    " offsets ratio used_b page active cls band starts counts r_page reg_label"
    # _emit_stage: (page id per span, span frame) or None, the §6/§6d
    # block gutters by first line, the §6p page columns by page
    " spans gutter_cache page_cols",
    defaults=(None,) * 14,
)


def analyze_turns_batch(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> pd.DataFrame:
    """Batch kernel: pdf has columns (conv_id, turn_idx, role, text);
    returns (conv_id, turn_idx, span_idx, region_type, region_seq,
    char_start, char_end, text)."""
    frames = analyze_turns_frames(pdf, model)
    if not frames:
        return pd.DataFrame(
            {
                "conv_id": pd.Series([], dtype="object"),
                "turn_idx": pd.Series([], dtype="int64"),
                "span_idx": pd.Series([], dtype="int64"),
                "region_type": pd.Series([], dtype="object"),
                "region_seq": pd.Series([], dtype="int64"),
                "char_start": pd.Series([], dtype="int64"),
                "char_end": pd.Series([], dtype="int64"),
                "text": pd.Series([], dtype="object"),
            }
        )
    return frames[0]


def page_diags_batch(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> pd.DataFrame:
    """Per-page diagnostics (SPEC §11)."""
    return _diag_stage(_emit_stage(_page_stage(_line_stage(pdf, model))))


def analyze_turns_frames(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> list[pd.DataFrame]:
    """Iterator-friendly form of ``analyze_turns_batch``: the batch's
    span frame as a list of at most one entry (none when no span
    survives), which mapInPandas yields directly."""
    spans = _emit_stage(_page_stage(_line_stage(pdf, model))).spans
    return [] if spans is None else [spans[1]]


def _line_stage(pdf: pd.DataFrame, model: LineModel | None) -> _Batch:
    """§1e enhancement, the line flatten, the Arrow per-line features
    and the two-model classification of every line of the batch."""
    import pyarrow.compute as pc

    if model is None:
        model = LineModel()
    cfg = model.cfg
    texts = pdf["text"].astype("object").fillna("")
    roles = pdf["role"].to_numpy()

    # §1e enhancement pre-pass (gated; M1 analog): flagged low-density
    # non-tool pages are rewritten before the line flatten, so every
    # downstream feature/offset sees the enhanced text. The gate is
    # vectorized (the same density test as enhance_page_text, so every
    # flagged page is enhanced); the rewrite runs only on that subset.
    was_enh = np.zeros(len(pdf), dtype=bool)
    if cfg.enable_enhancement and len(pdf):
        nl = texts.str.count("\n").to_numpy() + 1
        nc = texts.str.len().to_numpy()
        was_enh = ((nc / nl) < cfg.enhancement_density_min) & (roles != "tool")
        if was_enh.any():
            tv = texts.to_numpy(copy=True)
            for i in np.flatnonzero(was_enh):
                tv[i] = enhance_page_text(tv[i], cfg)[0]
            texts = pd.Series(tv, dtype="object")

    lines_pa, line_start, n_per, raw_len = _flatten_lines_arrow(texts)

    # --- Arrow-vectorized per-line features over the whole batch ---
    # (contiguous buffers + RE2; _PY_WHITESPACE keeps .strip() parity)
    stripped_pa = pc.utf8_trim(lines_pa, _PY_WHITESPACE)
    s_len = pc.utf8_length(stripped_pa).to_numpy().astype(np.int64)
    lstr_len = (
        raw_len
        - pc.utf8_length(pc.utf8_ltrim(lines_pa, _PY_WHITESPACE))
        .to_numpy()
        .astype(np.int64)
    )

    is_banner = (
        (s_len >= 6)
        & _bool(pc.starts_with(stripped_pa, "==="))
        & _bool(pc.ends_with(stripped_pa, "==="))
    )
    is_footer = np.zeros(len(s_len), dtype=bool)
    for p in FOOTER_PREFIXES:
        is_footer |= _bool(pc.starts_with(stripped_pa, p))
    is_fence = _bool(pc.starts_with(stripped_pa, "```"))
    cls_a, cls_b = model.classify_two(lines_pa, stripped_pa, s_len)

    # materialize Python strings once, at the boundary where span text
    # objects are needed anyway
    return _Batch(
        pdf, cfg, n_per, roles == "tool", was_enh,
        lines_pa.to_numpy(zero_copy_only=False),
        stripped_pa.to_numpy(zero_copy_only=False),
        line_start, raw_len, s_len, lstr_len,
        is_banner, is_footer, is_fence, cls_a, cls_b,
    )


def _page_stage(b: _Batch) -> _Batch:
    """Batch-wide page assembly (segmented numpy; SPEC §§1-5): border
    strip, fences, the agreement gate, table fusion, blank bridging,
    bands, region runs and the header vote.

    Pages average ~13 lines, so per-page Python/numpy dispatch
    dominates when run page-at-a-time; instead every per-LINE pass
    (border trim, fence toggles, agreement gate, band splits, region
    runs) runs once over the flattened batch with per-page resets,
    and Python touches only per-REGION lists (~spans/3 items)."""
    cfg = b.cfg
    n_per, tool_page, s_len, cls_b = b.n_per, b.tool_page, b.s_len, b.cls_b
    P = len(n_per)
    n = len(s_len)
    offsets = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(n_per, out=offsets[1:])
    firsts = offsets[:-1]

    page = np.repeat(np.arange(P, dtype=np.int64), n_per)
    rel = np.arange(n, dtype=np.int64) - np.repeat(firsts, n_per)

    # §2 border strip: first banner in the leading scan window sets lo,
    # first footer in the trailing window sets hi (<= 3 gathers each)
    lo = np.zeros(P, dtype=np.int64)
    found = np.zeros(P, dtype=bool)
    for k in range(cfg.border_scan_lines):
        valid = (k < n_per) & ~found & ~tool_page
        idx = np.minimum(firsts + k, max(n - 1, 0))
        hit = valid & (b.is_banner[idx] if n else False)
        lo[hit] = k + 1
        found |= hit
    hi = n_per.astype(np.int64).copy()
    foundf = np.zeros(P, dtype=bool)
    fstart = np.maximum(lo, n_per - cfg.border_scan_lines)
    for k in range(cfg.border_scan_lines):
        pos = fstart + k
        valid = (pos < n_per) & ~foundf & ~tool_page
        idx = np.minimum(firsts + pos, max(n - 1, 0))
        hit = valid & (b.is_footer[idx] if n else False)
        hi[hit] = pos[hit]
        foundf |= hit

    active = ~tool_page[page] & (rel >= lo[page]) & (rel < hi[page])

    # §3 fence toggle: per-page exclusive prefix parity of fence marks
    fm = b.is_fence & active
    excl_f = np.cumsum(fm) - fm
    base_f = np.zeros(P, dtype=np.int64)
    nz = n_per > 0
    base_f[nz] = excl_f[firsts[nz]]
    in_fence_before = ((excl_f - base_f[page]) % 2).astype(bool)

    # §4 agreement gate per page
    classifiable = active & ~fm & ~in_fence_before
    n_cl = np.bincount(page[classifiable], minlength=P)
    agree = np.bincount(page[classifiable & (b.cls_a == cls_b)], minlength=P)
    ratio = np.where(n_cl > 0, 100.0 * agree / np.maximum(n_cl, 1), 100.0)
    used_b = ratio <= cfg.binarize_retry_threshold
    cls = np.where(used_b[page], cls_b, b.cls_a).astype(np.int8)
    cls[active & in_fence_before & ~fm] = C_TOOL
    cls[fm] = C_FENCE

    # §5t table-separator fusion (J5 analog, eynollah.py:1783-1817):
    # a separator line directly between two table lines joins the
    # table, so interleaved runs union and the absorbed rule line no
    # longer advances the band counter
    if cfg.enable_tables:
        is_sep_l = active & (cls == C_SEP)
        prev_tab = np.zeros(n, dtype=bool)
        next_tab = np.zeros(n, dtype=bool)
        if n > 1:
            prev_tab[1:] = (cls[:-1] == C_TABLE) & active[:-1] & (page[1:] == page[:-1])
            next_tab[:-1] = (cls[1:] == C_TABLE) & active[1:] & (page[1:] == page[:-1])
        cls[is_sep_l & prev_tab & next_tab] = C_TABLE

    # §5c blank bridging (gated; F3 closing analog,
    # utils/__init__.py:1363-1393): a SINGLE blank line between two
    # same-class run-forming lines (text/marginalia/table, same page,
    # both active) relabels to that class; candidates are computed
    # simultaneously over the original classes, so a relabel never
    # enables another
    if cfg.region_blank_bridge and n > 2:
        bl = active & (cls == C_BLANK)
        prevc = cls[:-2]
        bridgeable = (prevc == cls[2:]) & (
            (prevc == C_TEXT) | (prevc == C_MARG) | (prevc == C_TABLE)
        )
        cand = np.zeros(n, dtype=bool)
        cand[1:-1] = (
            bl[1:-1]
            & active[:-2]
            & active[2:]
            & (page[:-2] == page[2:])
            & bridgeable
        )
        if cand.any():
            ci = np.flatnonzero(cand)
            cls[ci] = cls[ci - 1]

    # §5a bands: the gap-th consecutive blank and every separator line
    # advance the band counter for LATER lines (exclusive prefix)
    blank = active & (cls == C_BLANK)
    idx_arr = np.arange(n, dtype=np.int64)
    barrier = np.where(~blank, idx_arr, -1)
    if n:
        fz = firsts[nz]
        barrier[fz] = np.where(blank[fz], fz - 1, barrier[fz])
    run_len = idx_arr - np.maximum.accumulate(barrier)
    band_event = (blank & (run_len == cfg.band_blank_gap)) | (
        active & (cls == C_SEP)
    )
    excl_b = np.cumsum(band_event) - band_event
    base_b = np.zeros(P, dtype=np.int64)
    base_b[nz] = excl_b[firsts[nz]]
    band = excl_b - base_b[page]

    # §5b region runs: maximal adjacent same-label runs of region lines;
    # header/dropcap/separator lines are singleton regions
    regline = active & (cls != C_BLANK) & (cls != C_FENCE)
    singleton = regline & (
        (cls == C_HEADER) | (cls == C_DROPCAP) | (cls == C_SEP)
    )
    prev_ok = np.zeros(n, dtype=bool)
    if n > 1:
        prev_ok[1:] = (
            (page[1:] == page[:-1])
            & regline[:-1]
            & ~singleton[:-1]
            & ~singleton[1:]
            & (cls[1:] == cls[:-1])
        )
    new_region = regline & ~prev_ok
    starts = np.flatnonzero(new_region)
    if len(starts):
        rid = np.cumsum(new_region) - 1
        counts = np.bincount(rid[regline], minlength=len(starts))
    else:
        counts = np.zeros(0, dtype=np.int64)

    # §5h per-region header majority vote (J8 analog,
    # utils/__init__.py:799-858): a short TEXT region whose MODEL-B
    # (binarized — the dedicated header model analog) header-line
    # character mass reaches its text mass relabels to ONE header
    # region. Segment reductions over the region runs; the sentinel
    # pad keeps end == n a legal reduceat index.
    reg_label = cls[starts]
    if cfg.full_layout and len(starts):  # no-full-layout: vote disabled
        idx2v = np.empty(2 * len(starts), dtype=np.int64)
        idx2v[0::2] = starts
        idx2v[1::2] = starts + counts
        sentv = np.zeros(1, dtype=np.int64)
        hline = np.where(cls_b == C_HEADER, s_len, 0)
        hmass = np.add.reduceat(np.concatenate([hline, sentv]), idx2v)[0::2]
        allmass = np.add.reduceat(np.concatenate([s_len, sentv]), idx2v)[0::2]
        maxlen = np.maximum.reduceat(np.concatenate([s_len, sentv]), idx2v)[0::2]
        vote = (
            (reg_label == C_TEXT)
            & (counts <= cfg.header_vote_max_lines)
            & (maxlen <= cfg.header_max_len)
            & (hmass > 0)
            & (2 * hmass >= allmass)
        )
        reg_label[vote] = C_HEADER

    return b._replace(
        offsets=offsets, ratio=ratio, used_b=used_b, page=page, active=active,
        cls=cls, band=band, starts=starts, counts=counts, r_page=page[starts],
        reg_label=reg_label,
    )


def _emit_stage(b: _Batch) -> _Batch:
    """SPEC §§6-10, one array engine: every text block gets its §6/§6d
    gutters in batched grids (_block_gutters), pages with guttered
    blocks their §6p page columns (_page_gutters), and one region
    table for every page (_emit_regions) finishes in _emit_core."""
    page, band = b.page, b.band
    gutter_cache = _block_gutters(b)
    complex_page = np.zeros(len(b.n_per), dtype=bool)
    complex_page[page[np.fromiter(gutter_cache, np.int64, len(gutter_cache))]] = True
    page_cols = _page_gutters(b, complex_page)
    # §6p band recompute: on a page-column page a separator whose
    # ink sits inside ONE column (mother/child containment,
    # utils/__init__.py:213-297) no longer advances the band
    # counter for the later lines of its page
    if page_cols:
        band = band.copy()
        sep = np.flatnonzero(b.active & (b.cls == C_SEP))
        sep = sep[np.isin(page[sep], np.fromiter(page_cols, np.int64, len(page_cols)))]
        for i in sep.tolist():
            ends = page_cols[int(page[i])][2]
            a = b.lstr_len[i]
            if np.searchsorted(ends, a) == np.searchsorted(ends, a + b.s_len[i] - 1):
                band[i + 1 : b.offsets[page[i] + 1]] -= 1
    return b._replace(
        spans=_emit_regions(b, band, gutter_cache, page_cols),
        gutter_cache=gutter_cache,
        page_cols=page_cols,
    )


def _diag_stage(b: _Batch) -> pd.DataFrame:
    """SPEC §11 from the engine's own arrays: span/region counts of
    the emitted spans, columns from the gutter caches, slope over the
    un-guttered text-block lines."""
    P = len(b.n_per)
    starts, r_page, gutter_cache, page_cols = (
        b.starts, b.r_page, b.gutter_cache, b.page_cols
    )
    n_spans = np.zeros(P, dtype=np.int64)
    n_regions = np.zeros(P, dtype=np.int64)
    if b.spans is not None:
        sp_page, f = b.spans
        n_spans = np.bincount(sp_page, minlength=P)
        np.maximum.at(n_regions, sp_page, f["region_seq"].to_numpy() + 1)
    max_cols = np.ones(P, dtype=np.int64)
    for st, (_sh, _pr, g) in gutter_cache.items():
        max_cols[b.page[st]] = max(max_cols[b.page[st]], len(g) + 1)
    for p, (_w, g, _e) in page_cols.items():
        max_cols[p] = len(g) + 1
    plain_txt = (
        (b.reg_label == C_TEXT)
        & ~b.tool_page[r_page]
        & ~np.isin(starts, np.fromiter(gutter_cache, np.int64, len(gutter_cache)))
        & ~np.isin(r_page, np.fromiter(page_cols, np.int64, len(page_cols)))
    )
    slope = _page_slopes(
        P, starts[plain_txt], b.counts[plain_txt], r_page[plain_txt], b.lstr_len
    )
    return pd.DataFrame(
        {
            "conv_id": b.pdf["conv_id"].to_numpy(),
            "turn_idx": b.pdf["turn_idx"].to_numpy(),
            "n_lines": b.n_per,
            "n_spans": n_spans,
            "n_regions": n_regions,
            "max_columns": max_cols,
            "slope": slope,
            "is_deskewed": np.abs(slope) >= b.cfg.slope_threshold,
            "agreement_ratio": b.ratio,
            "used_binarized": b.used_b & ~b.tool_page,
            "was_enhanced": b.was_enh,
        }
    )


# cells (rows x widest line) per chunk of blocks or pages: bounds the
# profile grids and the batched valley/shear machinery over them,
# instead of capping line width
_GRID_CELLS = 1 << 22


def _cell_chunks(widths, rows):
    """Consecutive [lo, hi) ranges over items whose grid — total rows
    x widest item so far — stays within _GRID_CELLS; an item over the
    budget on its own forms a range of one."""
    out = []
    lo = 0
    n = len(widths)
    while lo < n:
        # every item has >= 1 row, so a range never exceeds budget items
        end = min(n, lo + _GRID_CELLS + 1)
        cost = np.cumsum(rows[lo:end]) * np.maximum.accumulate(widths[lo:end])
        hi = lo + max(1, int(np.searchsorted(cost, _GRID_CELLS, side="right")))
        out.append((lo, hi))
        lo = hi
    return out


def _char_cells(lines, lens, keep):
    """(row, col) of every character of ``lines`` whose UTF-32 code
    passes ``keep``, rows ascending. Read from ONE UTF-32 buffer of the
    lines, so the cost follows their characters, not rows x widest
    line."""
    codes = np.frombuffer("".join(lines).encode("utf-32-le"), dtype=np.uint32)
    pos = np.flatnonzero(keep(codes))
    ends = np.cumsum(lens)
    rows = np.searchsorted(ends, pos, side="right")
    return rows, pos - (ends - lens)[rows]


def _is_ink(codes):
    """char != ' ' — a NUL is ink, as in the oracle"""
    return codes != 32


def _is_text(codes):
    """not whitespace by Python's str.strip() (_WS_LUT)"""
    return ~_WS_LUT[np.where(codes <= 0x3000, codes, 0)]


def _block_gutters(b: _Batch):
    """SPEC §6/§6d for every text block of >= min_block_lines lines on
    a non-tool page: the LS-slope gate, the shear-grid deskew of skewed
    blocks, and the valley gutters of the sheared (deskew found a
    slope) or raw ink profile. Blocks run width-sorted in chunks cut at
    power-of-two widths and by _cell_chunks, each chunk's ink cells
    feeding ONE profile bincount, ONE _choose_shear_batch and the grid
    valley machinery.
    Returns {first_line: (shifts, sheared_profile, gutters)} for the
    blocks WITH gutters (shifts/profile None when unsheared)."""
    cfg, lines_np, raw_len, lstr_len = b.cfg, b.lines_np, b.raw_len, b.lstr_len
    out: dict[int, tuple] = {}
    eligible = np.flatnonzero(
        (b.reg_label == C_TEXT)
        & (b.counts >= cfg.min_block_lines)
        & ~b.tool_page[b.r_page]
    )
    if not len(eligible):
        return out
    n = len(raw_len)
    st_e = b.starts[eligible].astype(np.int64)
    cn_e = b.counts[eligible].astype(np.int64)
    # segment reductions over [start, start+count) pairs; the sentinel
    # pad keeps end == n a legal reduceat index
    idx2 = np.empty(2 * len(st_e), dtype=np.int64)
    idx2[0::2] = st_e
    idx2[1::2] = st_e + cn_e
    sent = np.zeros(1, dtype=np.int64)
    wb = np.maximum.reduceat(np.concatenate([raw_len, sent]), idx2)[0::2]
    # vectorized LS-slope gate (SPEC §6d): A/B per block
    sy = np.add.reduceat(np.concatenate([lstr_len, sent]), idx2)[0::2]
    gidx = np.arange(n, dtype=np.int64) * lstr_len
    sgy = np.add.reduceat(np.concatenate([gidx, sent]), idx2)[0::2]
    sky = sgy - st_e * sy
    sk = cn_e * (cn_e - 1) // 2
    sk2 = (cn_e - 1) * cn_e * (2 * cn_e - 1) // 6
    A_e = cn_e * sky - sk * sy
    B_e = cn_e * sk2 - sk * sk
    skewed = (B_e > 0) & (np.abs(A_e) >= cfg.slope_threshold * B_e)
    # recompute oversized blocks' gate with Python's arbitrary-precision
    # ints — the oracle's arithmetic. Two wrap routes: B_e ~ cn^4/12
    # (cn bound) and A_e <= ~1.5*cn^2*sum(leads) (pathological
    # indents); the float test is conservative with 3x headroom
    unsafe = (cn_e.astype(np.float64) ** 2 * sy.astype(np.float64)) > 3.0e18
    exact_ab: dict[int, tuple] = {}
    for j in np.flatnonzero((cn_e > _LS_GATE_MAX_LINES) | unsafe).tolist():
        st_j, cn_j = int(st_e[j]), int(cn_e[j])
        A, B = _ls_slope_int([int(v) for v in lstr_len[st_j : st_j + cn_j]])
        skewed[j] = B > 0 and abs(A) >= cfg.slope_threshold * B
        exact_ab[j] = (A, B)  # int64 A_e/B_e may have wrapped

    order = np.flatnonzero(wb > 0)
    order = order[np.argsort(wb[order], kind="stable")]
    # power-of-two width classes keep each chunk's row padding under 2x
    wcls = np.frexp(wb[order].astype(np.float64))[1]
    parts = np.split(order, np.flatnonzero(np.diff(wcls)) + 1)
    for sel in (p[lo:hi] for p in parts for lo, hi in _cell_chunks(wb[p], cn_e[p])):
        m = len(sel)
        st_s = st_e[sel]
        cn_s = cn_e[sel]
        wb_s = wb[sel]
        W = int(wb_s.max())
        reg_first = np.cumsum(cn_s) - cn_s
        li = np.repeat(st_s - reg_first, cn_s) + np.arange(
            int(cn_s.sum()), dtype=np.int64
        )
        lens_li = raw_len[li]
        rows_nz, cols_nz = _char_cells(lines_np[li], lens_li, _is_ink)
        # per-block column sums via ONE bincount over the ink
        # coordinates; the same coordinates feed the shear grid
        blk_nz = np.repeat(np.arange(m, dtype=np.int64), cn_s)[rows_nz]
        prof = np.bincount(blk_nz * W + cols_nz, minlength=m * W).reshape(m, W)
        plain = ~skewed[sel]
        sk_jj = np.flatnonzero(~plain)
        if len(sk_jj):
            nz_lo = np.searchsorted(blk_nz, sk_jj)
            nz_hi = np.searchsorted(blk_nz, sk_jj + 1)
            specs = []
            for jj, a, e in zip(sk_jj.tolist(), nz_lo.tolist(), nz_hi.tolist()):
                j = int(sel[jj])
                rf = int(reg_first[jj])
                ab = exact_ab.get(j)
                if ab is None:
                    ab = (int(A_e[j]), int(B_e[j]))
                specs.append(
                    (ab[0], ab[1], lens_li[rf : rf + int(cn_s[jj])],
                     rows_nz[a:e] - rf, cols_nz[a:e])
                )
            sheared = []
            for jj, res in zip(sk_jj.tolist(), _choose_shear_batch(specs, cfg)):
                if res is None:
                    plain[jj] = True  # no shear: the raw profile (SPEC §6d)
                else:
                    sheared.append((jj, res[1], res[2]))
            if sheared:
                pgrid = np.zeros((len(sheared), max(len(s[2]) for s in sheared)), np.int64)
                for r, (_jj, _sh, pr) in enumerate(sheared):
                    pgrid[r, : len(pr)] = pr
                gls = _select_gutters_batch(pgrid, [len(s[2]) for s in sheared], cfg)
                for (jj, sh, pr), g in zip(sheared, gls):
                    if g:
                        out[int(st_s[jj])] = (sh, pr, g)
        pl = np.flatnonzero(plain)
        for jj, g in zip(pl.tolist(), _select_gutters_batch(prof[pl], wb_s[pl], cfg)):
            if g:
                out[int(st_s[jj])] = (None, None, g)
    return out


def _page_gutters(b: _Batch, complex_page):
    """SPEC §6p: a column page with >= 2 text blocks detects page
    columns over the UNION ink profile of all its text-block lines.
    Pages run width-sorted in _cell_chunks, one page-slot bincount and
    one _select_gutters_batch per chunk. Returns
    {page: (page_width, gutters, gutter_ends)} for the pages whose
    union profile has gutters — the page-column mode pages."""
    cfg, raw_len, r_page = b.cfg, b.raw_len, b.r_page
    out: dict[int, tuple] = {}
    txt = np.flatnonzero((b.reg_label == C_TEXT) & complex_page[r_page])
    ntb = np.bincount(r_page[txt], minlength=len(complex_page))
    txt = txt[ntb[r_page[txt]] >= 2]
    if not len(txt):
        return out
    st_r = b.starts[txt].astype(np.int64)
    cn_r = b.counts[txt].astype(np.int64)
    pg_r = r_page[txt]  # ascending: regions follow line order
    idx2 = np.empty(2 * len(st_r), dtype=np.int64)
    idx2[0::2] = st_r
    idx2[1::2] = st_r + cn_r
    wreg = np.maximum.reduceat(
        np.concatenate([raw_len, np.zeros(1, np.int64)]), idx2
    )[0::2]
    upage, ufirst = np.unique(pg_r, return_index=True)
    pw = np.maximum.reduceat(wreg, ufirst)
    order = np.argsort(pw, kind="stable")
    for lo, hi in _cell_chunks(pw[order], np.add.reduceat(cn_r, ufirst)[order]):
        slot_pages = np.sort(upage[order[lo:hi]])
        keep = np.isin(pg_r, slot_pages)
        st_s, cn_s = st_r[keep], cn_r[keep]
        reg_first = np.cumsum(cn_s) - cn_s
        li = np.repeat(st_s - reg_first, cn_s) + np.arange(
            int(cn_s.sum()), dtype=np.int64
        )
        rows_nz, cols_nz = _char_cells(b.lines_np[li], raw_len[li], _is_ink)
        pslot = np.repeat(np.searchsorted(slot_pages, pg_r[keep]), cn_s)
        pw_s = pw[np.searchsorted(upage, slot_pages)]
        W = int(pw_s.max())
        prof = np.bincount(
            pslot[rows_nz] * W + cols_nz, minlength=len(slot_pages) * W
        ).reshape(len(slot_pages), W)
        for p, w, g in zip(
            slot_pages.tolist(), pw_s.tolist(), _select_gutters_batch(prof, pw_s, cfg)
        ):
            if g:
                out[p] = (w, g, np.asarray([g1 for _g0, g1 in g], dtype=np.int64))
    return out


def _page_slopes(P, st, cn, pg, lead):
    """SPEC §11 deskew slope per page: least-squares fit of leading
    indent against in-block line index over the given text blocks
    (cv2.fitLine analog, utils/__init__.py:331-332). Means come from
    exact integer sums and every elementwise term is vectorized; the
    two float sums stay one numpy reduction per page, so each value is
    bit-identical to np.sum over that page's own arrays (pairwise
    summation order)."""
    slope = np.zeros(P, dtype=np.float64)
    tot = int(cn.sum())
    if tot < 2:
        return slope
    first = np.cumsum(cn) - cn
    li = np.repeat(st - first, cn) + np.arange(tot, dtype=np.int64)
    xs = (np.arange(tot, dtype=np.int64) - np.repeat(first, cn)).astype(np.float64)
    ys = lead[li].astype(np.float64)
    lpage = np.repeat(pg, cn)  # ascending: blocks follow line order
    n_pg = np.bincount(lpage, minlength=P)
    den = np.maximum(n_pg, 1)
    dx = xs - (np.bincount(lpage, xs, P) / den)[lpage]
    dd = dx * dx
    dxy = dx * (ys - (np.bincount(lpage, ys, P) / den)[lpage])
    hi = np.cumsum(n_pg)
    lo = hi - n_pg
    for p in np.flatnonzero(n_pg >= 2).tolist():
        var = float(dd[lo[p] : hi[p]].sum())
        if var > 0:
            slope[p] = float(dxy[lo[p] : hi[p]].sum()) / var
    return slope


# reading-order type group per line class (SPEC §7)
_TG_LUT = np.full(16, 9, dtype=np.int8)
_TG_LUT[C_HEADER] = 0
_TG_LUT[C_TEXT] = 1
_TG_LUT[C_TOOL] = 1
_TG_LUT[C_TABLE] = 1
_TG_LUT[C_DROPCAP] = 1
_TG_LUT[C_MARG] = 2
_TG_LUT[C_SEP] = 3


def _emit_core(lb, pg, bd, rl, cs, ce, texts, spn_len, cola, colb, pdf, cfg):
    """Shared array engine for SPEC §§8,9L,9,10 over ORDERED regions
    and their span arrays: the §8 drop-capital merge, the gated §9L
    line split and the §9 overlap-argmax fragment adherence run as
    array patches, span-less regions vanish, regions and spans number
    per page, span fields gather into the output frame — numpy
    throughout except the (rare) per-merge/per-split patch loops.

    Per-region (in final reading order): lb (class codes), pg (page
    ids, ascending), bd (bands). Per-span (grouped by region, ascending
    rl, reading order within region): cs/ce/texts/spn_len plus the §9
    column range cola/colb (profile coordinates). All span arrays must
    be writable copies — §8/§9 patch them in place. Returns (page id
    per span, span frame), or None when no span survives."""
    R = len(lb)
    if len(rl) == 0:
        return None
    kept_per_region = np.bincount(rl, minlength=R)

    # §8 drop-capital merge: a dropcap whose next non-empty region (in
    # final order) is a TEXT region of the same page+band folds its
    # char onto that region's first span; the dropcap region vanishes
    merged_src: dict[int, int] = {}
    dc_idx = np.flatnonzero(lb == C_DROPCAP)
    for i in dc_idx:
        if kept_per_region[i] == 0:
            continue  # span-less dropcap: no region to merge
        j = i + 1
        while j < R and kept_per_region[j] == 0:
            j += 1
        if (
            j < R
            and pg[j] == pg[i]
            and lb[j] == C_TEXT
            and bd[j] == bd[i]
        ):
            merged_src[int(j)] = int(i)
    if merged_src:
        dc_first = {}
        dropped = np.zeros(R, dtype=bool)
        for j, i in merged_src.items():
            dropped[i] = True
            p = int(np.searchsorted(rl, i))
            dc_first[j] = (cs[p], texts[p], spn_len[p])
        m = ~dropped[rl]
        rl = rl[m]
        cs = cs[m]
        ce = ce[m]
        texts = texts[m]
        spn_len = spn_len[m]
        cola = cola[m]
        colb = colb[m]
        kept_per_region = np.bincount(rl, minlength=R)
        if len(rl) == 0:
            return None
        for j, (dcs, dtext, dlen) in dc_first.items():
            pos = int(np.searchsorted(rl, j))
            texts[pos] = dtext + texts[pos]
            cs[pos] = dcs
            spn_len[pos] += dlen

    # §9L curved-line splitting (gated; -cl analog): long TEXT spans
    # subdivide at the smoothed valleys of their own ink profile. A
    # region whose pieces would all be fragments keeps its spans whole
    # and skips §9 (there is no big span to adhere to).
    sfl = cfg.small_fragment_max_len
    whole = np.zeros(R, dtype=bool)
    if cfg.enable_line_split:
        cuts = {}
        for x in np.flatnonzero(
            (spn_len >= cfg.line_split_min_len) & (lb[rl] == C_TEXT)
        ).tolist():
            p = _line_split_pieces(texts[x], cfg)
            if p is not None:
                cuts[x] = p
        if cuts:
            big = spn_len > sfl
            for x, p in cuts.items():
                big[x] = any(b - a > sfl for a, b in p)
            whole[np.unique(rl[list(cuts)])] = True
            whole[rl[big]] = False
            cuts = {x: p for x, p in cuts.items() if not whole[rl[x]]}
        if cuts:
            reps = np.ones(len(rl), dtype=np.int64)
            for x, p in cuts.items():
                reps[x] = len(p)
            src = np.repeat(np.arange(len(rl), dtype=np.int64), reps)
            first = np.cumsum(reps) - reps
            pa = np.zeros(len(src), dtype=np.int64)
            pb = spn_len[src].copy()
            cut = np.zeros(len(src), dtype=bool)
            new_texts = texts[src]
            for x, p in cuts.items():
                f = int(first[x])
                for k, (a, b) in enumerate(p):
                    pa[f + k] = a
                    pb[f + k] = b
                    new_texts[f + k] = texts[x][a:b]
                cut[f : f + len(p)] = True
            ce = np.where(cut, cs[src] + pb, ce[src])
            cs = cs[src] + pa
            colb = np.where(cut, cola[src] + pb, colb[src])
            cola = cola[src] + pa
            spn_len = pb - pa
            rl = rl[src]
            texts = new_texts

    # §9 overlap-argmax fragment adherence (SPEC §9), as a patch over
    # the span arrays: fragments in TEXT regions merge into the big
    # span with maximal column overlap (ties: index-nearest, then
    # earliest); fragment spans are then excluded before numbering.
    # The merged dropcap span keeps the TARGET's column range (cola/
    # colb are never patched), as the oracle does.
    drop_span = np.zeros(len(rl), dtype=bool)
    frag_mask = (spn_len <= sfl) & (lb[rl] == C_TEXT) & ~whole[rl]
    if frag_mask.any():
        uregs = np.unique(rl[frag_mask])
        ua0 = np.searchsorted(rl, uregs)
        ua1 = np.searchsorted(rl, uregs, side="right")
        for a0, a1 in zip(ua0.tolist(), ua1.tolist()):
            k = a1 - a0
            sl = spn_len[a0:a1]
            fa = cola[a0:a1]
            fe = colb[a0:a1]
            is_frag = sl <= sfl
            bigs = [x for x in range(k) if not is_frag[x]]
            if not bigs:
                continue  # fragment-only region keeps its spans
            pre = {x: [] for x in bigs}
            suf = {x: [] for x in bigs}
            for j in range(k):
                if not is_frag[j]:
                    continue
                best, bo, bdist = bigs[0], -1, None
                for x in bigs:
                    ov = max(0, int(min(fe[j], fe[x])) - int(max(fa[j], fa[x])))
                    dist = abs(j - x)
                    if ov > bo or (ov == bo and dist < bdist):
                        best, bo, bdist = x, ov, dist
                (pre if j < best else suf)[best].append(j)
                drop_span[a0 + j] = True
            for x in bigs:
                if not pre[x] and not suf[x]:
                    continue
                pos = a0 + x
                if pre[x]:
                    texts[pos] = (
                        " ".join(texts[a0 + p] for p in pre[x]) + " " + texts[pos]
                    )
                    cs[pos] = cs[a0 + pre[x][0]]
                if suf[x]:
                    texts[pos] = (
                        texts[pos] + " " + " ".join(texts[a0 + p] for p in suf[x])
                    )
                    ce[pos] = ce[a0 + suf[x][-1]]
        if drop_span.any():
            m = ~drop_span
            rl = rl[m]
            cs = cs[m]
            ce = ce[m]
            texts = texts[m]
            kept_per_region = np.bincount(rl, minlength=R)
            if len(rl) == 0:
                return None

    # regions with zero surviving spans vanish before numbering
    ne = np.flatnonzero(kept_per_region > 0)
    pg_ne = pg[ne]
    seq_ne = np.arange(len(ne), dtype=np.int64) - np.searchsorted(pg_ne, pg_ne)
    region_seq = np.zeros(R, dtype=np.int64)
    region_seq[ne] = seq_ne

    span_page = pg[rl]
    span_idx = np.arange(len(rl), dtype=np.int64) - np.searchsorted(span_page, span_page)

    rt_lut = np.empty(16, dtype=object)
    for code, rt in _CODE_RT.items():
        rt_lut[code] = rt
    conv_vals = pdf["conv_id"].to_numpy()
    turn_vals = pdf["turn_idx"].to_numpy()
    return span_page, pd.DataFrame(
        {
            "conv_id": conv_vals[span_page],
            "turn_idx": turn_vals[span_page],
            "span_idx": span_idx,
            "region_type": rt_lut[lb[rl]],
            "region_seq": region_seq[rl],
            "char_start": cs,
            "char_end": ce,
            "text": texts,
        }
    )


def _emit_regions(b: _Batch, band, gutter_cache, page_cols):
    """Array-native region table and span emission for every page of
    the batch (SPEC §6 column split, §6p page columns, §6m marginalia,
    §§7-10).

    A region is one row (label, band, first line, col, page) unless it
    is a guttered text region: a text block with its own §6/§6d
    gutters, or any text region of a §6p page-column page, which
    splits by the page gutters at the page width. A tool page is one
    C_TOOL row of all its lines at band 0. col is 0 except on §6p
    pages, where a one-row region takes the column holding its first
    line's first ink. Guttered text regions expand into per-column
    sub-region rows; their column pieces are trimmed by ONE batched
    searchsorted over the lines' non-whitespace coordinates (exact
    ``str.strip()`` parity via _WS_LUT). Rows order by (page, band,
    type-group, first, col) — (page, col, band, type-group, first) on
    page-column pages — and finish in the shared ``_emit_core``
    engine."""
    cfg, lines_np, line_start = b.cfg, b.lines_np, b.line_start
    s_len, lstr_len, raw_len = b.s_len, b.lstr_len, b.raw_len
    starts, counts, r_page, reg_label = b.starts, b.counts, b.r_page, b.reg_label
    K = 1 + int(raw_len.max()) if len(raw_len) else 1
    pc_page = np.zeros(len(b.n_per), dtype=bool)
    pc_page[np.fromiter(page_cols, np.int64, len(page_cols))] = True

    # --- one-row regions, then one C_TOOL row per tool page ---
    guttered = (reg_label == C_TEXT) & (
        pc_page[r_page]
        | np.isin(starts, np.fromiter(gutter_cache, np.int64, len(gutter_cache)))
    )
    one = ~guttered
    tp = np.flatnonzero(b.tool_page & (b.n_per > 0))
    fi0 = np.concatenate([starts[one], b.offsets[tp]])
    cn0 = np.concatenate([counts[one], b.n_per[tp]])
    lb0 = np.concatenate([reg_label[one], np.full(len(tp), C_TOOL, np.int8)])
    bd0 = np.concatenate([band[starts[one]], np.zeros(len(tp), np.int64)])
    pg0 = np.concatenate([r_page[one], tp])
    co0 = np.zeros(len(fi0), dtype=np.int64)
    n_one = int(one.sum())  # region rows: ascending page
    for t, (_w, _g, ends) in page_cols.items():
        lo, hi = np.searchsorted(pg0[:n_one], [t, t + 1])
        co0[lo:hi] = np.searchsorted(ends, lstr_len[fi0[lo:hi]])

    # --- guttered text regions: batched column piece extraction ---------
    z = np.zeros(0, dtype=np.int64)
    spB = csB = ceB = lenB = colaB = colbB = pair_row = z
    textsB = np.zeros(0, dtype=object)
    gi = np.flatnonzero(guttered)
    if len(gi):
        g_start = starts[gi]
        g_count = counts[gi]
        g_page = r_page[gi]
        g_lineoff = np.cumsum(g_count) - g_count
        Lg = int(g_count.sum())
        li_g = np.repeat(g_start - g_lineoff, g_count) + np.arange(
            Lg, dtype=np.int64
        )
        # split width: the page width on §6p pages, the sheared profile
        # width on deskewed blocks, else the block's widest line
        g_w = np.maximum.reduceat(raw_len[li_g], g_lineoff)
        shift_flat = np.zeros(Lg, dtype=np.int64)
        g_gut = []
        for go, (st_r, t) in enumerate(zip(g_start.tolist(), g_page.tolist())):
            pc_ = page_cols.get(t)
            if pc_ is not None:
                g_w[go] = pc_[0]
                g_gut.append(pc_[1])
                continue
            shifts, sh_prof, gutters = gutter_cache[st_r]
            if shifts is not None:
                g_w[go] = len(sh_prof)
                off = int(g_lineoff[go])
                shift_flat[off : off + len(shifts)] = shifts
            g_gut.append(gutters)
        # non-whitespace coordinates (line-major => sorted keys)
        rows_nw, cols_nw = _char_cells(lines_np[li_g], raw_len[li_g], _is_text)
        flat_keys = rows_nw * K + cols_nw
        # (region, col) pairs, col-ascending per region: column c runs
        # from the end of gutter c-1 to the start of gutter c, the last
        # column to the split width
        n_gut = np.fromiter(map(len, g_gut), np.int64, len(g_gut))
        gut = np.asarray([g for gs in g_gut for g in gs], dtype=np.int64).reshape(-1, 2)
        n_pair = n_gut + 1
        pr_greg = np.repeat(np.arange(len(gi), dtype=np.int64), n_pair)
        pr_col = np.arange(int(n_pair.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(n_pair) - n_pair, n_pair
        )
        gk = np.repeat(np.cumsum(n_gut) - n_gut, n_pair) + pr_col
        pr_a = np.where(pr_col > 0, gut[gk - 1, 1] + 1, 0)
        pr_b = np.where(
            pr_col < n_gut[pr_greg], gut[np.minimum(gk, len(gut) - 1), 0], g_w[pr_greg]
        )
        # (pair, line) triples: window searchsorted over the flat keys
        tri_cnt = g_count[pr_greg]
        tri_first = np.cumsum(tri_cnt) - tri_cnt
        n_tri = int(tri_cnt.sum())
        tri_pair = np.repeat(np.arange(len(pr_greg), dtype=np.int64), tri_cnt)
        tri_line = (
            np.repeat(g_lineoff[pr_greg] - tri_first, tri_cnt)
            + np.arange(n_tri, dtype=np.int64)
        )
        sh_t = shift_flat[tri_line]
        base = tri_line * K
        # clamp the window into the line's key slot: a shifted segment
        # end can exceed the widest line (K - 1), and an unclamped key
        # would bleed into the NEXT line's coordinates
        i0 = np.searchsorted(
            flat_keys, base + np.minimum(pr_a[tri_pair] + sh_t, K - 1)
        )
        i1 = np.searchsorted(
            flat_keys, base + np.minimum(pr_b[tri_pair] + sh_t, K - 1)
        )
        has = i1 > i0
        tl_h = tri_line[has]
        s0 = flat_keys[i0[has]] - tl_h * K
        s1 = flat_keys[i1[has] - 1] - tl_h * K
        gl = li_g[tl_h]
        sh_h = sh_t[has]
        lenB = s1 + 1 - s0
        csB = line_start[gl] + s0
        ceB = csB + lenB
        colaB = s0 - sh_h
        colbB = s1 + 1 - sh_h
        textsB = np.empty(len(gl), dtype=object)
        e0 = s0.tolist()
        e1 = (s1 + 1).tolist()
        for x, i in enumerate(gl.tolist()):
            textsB[x] = lines_np[i][e0[x] : e1[x]]
        spB = tri_pair[has]
        pair_maxlen = np.zeros(len(pr_greg), dtype=np.int64)
        np.maximum.at(pair_maxlen, spB, lenB)
        # sub-region rows: the non-empty pairs (an empty column is no
        # region), grouped by region; they carry no line count, their
        # spans are the pieces. §6m projection marginalia: the first or
        # last of >= 2 columns relabels when it is narrow against the
        # split width and against the widest OTHER column, and holds
        # only short pieces. A column at most half the widest one is
        # never the widest itself, so the region's widest column
        # stands in for the widest other one
        ep = np.flatnonzero(np.bincount(spB, minlength=len(pr_greg)) > 0)
        eg = pr_greg[ep]
        wd = (pr_b - pr_a)[ep]
        gs = np.flatnonzero(np.diff(eg, prepend=-1))  # each region's first
        n_e = np.diff(np.append(gs, len(ep)))
        grp = np.repeat(np.arange(len(gs)), n_e)
        rank = np.arange(len(ep)) - gs[grp]
        marg = (
            (n_e[grp] >= 2)
            & ((rank == 0) | (rank == n_e[grp] - 1))
            & (wd * 100 <= round(cfg.marginalia_width_frac * 100) * g_w[eg])
            & (2 * wd <= np.maximum.reduceat(wd, gs)[grp])
            & (pair_maxlen[ep] <= cfg.marginalia_max_len)
        )
        pair_row = np.full(len(pr_greg), -1, dtype=np.int64)
        pair_row[ep] = len(fi0) + np.arange(len(ep), dtype=np.int64)
        fi0 = np.concatenate([fi0, g_start[eg]])
        cn0 = np.concatenate([cn0, np.zeros(len(ep), dtype=np.int64)])
        lb0 = np.concatenate([lb0, np.where(marg, C_MARG, C_TEXT).astype(np.int8)])
        bd0 = np.concatenate([bd0, band[g_start[eg]]])
        pg0 = np.concatenate([pg0, g_page[eg]])
        co0 = np.concatenate([co0, pr_col[ep]])

    # §7 reading order; §7p: page-column pages lead with the column
    # (column-major ACROSS bands)
    order = np.lexsort((co0, fi0, _TG_LUT[lb0], bd0, np.where(pc_page[pg0], co0, 0), pg0))
    new_of_old = np.empty(len(order), dtype=np.int64)
    new_of_old[order] = np.arange(len(order), dtype=np.int64)

    # one-row regions: one span per non-blank line, derived in reading
    # order by the repeat trick; the column pieces join by ONE stable
    # argsort on their region — no per-region Python loop
    st = fi0[order]
    cn = cn0[order]
    reg_first = np.cumsum(cn) - cn
    lid = np.repeat(st - reg_first, cn) + np.arange(int(cn.sum()), dtype=np.int64)
    rowA = np.repeat(np.arange(len(order), dtype=np.int64), cn)
    keepA = s_len[lid] > 0
    ids = lid[keepA]
    lnA = s_len[ids]
    lead = lstr_len[ids]
    c0 = line_start[ids] + lead
    sp_rl = np.concatenate([rowA[keepA], new_of_old[pair_row[spB]]])
    sorder = np.argsort(sp_rl, kind="stable")
    return _emit_core(
        lb0[order], pg0[order], bd0[order],
        sp_rl[sorder],
        np.concatenate([c0, csB])[sorder],
        np.concatenate([c0 + lnA, ceB])[sorder],
        np.concatenate([b.stripped_np[ids], textsB])[sorder],
        np.concatenate([lnA, lenB])[sorder],
        np.concatenate([lead, colaB])[sorder],
        np.concatenate([lead + lnA, colbB])[sorder],
        b.pdf, cfg,
    )


# region-type string for each line class that can open a region (a
# dropcap that reaches emission unmerged keeps the spec type)
_CODE_RT = {
    C_TEXT: RT_TEXT,
    C_TABLE: RT_TABLE,
    C_TOOL: RT_TOOL,
    C_MARG: RT_MARGINALIA,
    C_HEADER: RT_HEADER,
    C_DROPCAP: RT_DROPCAP,
    C_SEP: RT_SEPARATOR,
}


def _line_split_pieces(text: str, cfg: ExtractConfig):
    """SPEC §9L curved-line splitting (-cl mode analog,
    separate_lines.py:128-673) of one span: it subdivides at the
    smoothed VALLEYS of its own char-ink profile — the §6 integer-
    gaussian valley machinery run per span, with sigma scaled by span
    length (the data-dependent-sigma analog, separate_lines.py:240-265).
    Returns the [a, b) pieces, or None when the span stays whole."""
    L = len(text)
    if L == 0 or L < cfg.line_split_min_len:
        return None
    sigma = cfg.line_split_sigma * min(
        1 + L // cfg.line_split_scale, cfg.line_split_max_scale
    )
    sm = _smooth_profile(_ink_row(text).astype(np.int64), sigma)
    max_s = int(sm.max())
    if max_s <= 0:
        return None
    rel_pct = int(round(cfg.line_split_rel_depth * 100))
    peak_pct = int(round(cfg.gutter_peak_frac * 100))
    cuts = []
    p = 0
    while p < L:
        if text[p] == " ":
            q = p
            while q + 1 < L and text[q + 1] == " ":
                q += 1
            if q - p + 1 >= cfg.line_split_gap:
                depth = int(sm[p : q + 1].min())
                if depth * 100 <= rel_pct * max_s:
                    left = int(sm[:p].max()) if p > 0 else 0
                    right = int(sm[q + 1 :].max()) if q + 1 < L else 0
                    if min(left, right) * 100 >= peak_pct * max_s:
                        cuts.append((p, q))
            p = q + 1
        else:
            p += 1
    pieces = []
    last_end = 0
    for a, b in cuts:
        if a > last_end:
            pieces.append((last_end, a))
        last_end = b + 1
    if last_end < L:
        pieces.append((last_end, L))
    return pieces if len(pieces) > 1 else None


# integerized gaussian weights per sigma (shared by spec with the
# oracle: radius int(3s+0.5), w[k] = round(1e6 * exp(-k^2 / 2s^2)))
_GAUSS_CACHE: dict = {}


def _gauss_weights(sigma: float):
    got = _GAUSS_CACHE.get(sigma)
    if got is None:
        import math

        r = int(3.0 * sigma + 0.5)
        got = (
            r,
            [
                round(1_000_000 * math.exp(-(k * k) / (2.0 * sigma * sigma)))
                for k in range(-r, r + 1)
            ],
        )
        _GAUSS_CACHE[sigma] = got
    return got


def _smooth_profile(profile: np.ndarray, sigma: float) -> np.ndarray:
    """Integer gaussian smoothing (gaussian_filter1d analog,
    utils/__init__.py:377-383): zero-padded convolution with the
    integerized kernel — exact arithmetic, so the naive oracle's loop
    produces bit-identical values."""
    r, wts = _gauss_weights(sigma)
    w = len(profile)
    sm = np.zeros(w, dtype=np.int64)
    for k in range(-r, r + 1):
        wt = wts[k + r]
        if k == 0:
            sm += wt * profile
        elif k > 0:
            if k < w:
                sm[: w - k] += wt * profile[k:]
        else:
            if -k < w:
                sm[-k:] += wt * profile[: w + k]
    return sm


def _select_gutters_batch(prof_grid: np.ndarray, widths, cfg: ExtractConfig):
    """SPEC §6 valley machinery (find_num_col + find_peaks analog,
    utils/__init__.py:443-503, separate_lines.py:57-103) over a (m, W)
    int64 profile grid whose rows are zero-padded past each block's
    true width: smoothed relative-depth valleys with stray tolerance,
    two-sided prominence and deepest-first suppression. Returns one
    gutter list per row, equal to the oracle's
    ``_select_gutters_naive(prof_grid[r, :widths[r]], cfg)`` (fuzzed
    in tests/test_kernel_oracle.py). All stages (run extraction,
    gaussian smoothing, depth/prominence) run as grid ops; only the
    final W6 per-row suppression walks survivors in Python."""
    m, W = prof_grid.shape
    out: list[list] = [[] for _ in range(m)]
    if m == 0 or W < 2:
        return out
    stray = cfg.gutter_max_stray_lines
    wds = np.asarray(widths, dtype=np.int64)
    colx = np.arange(W, dtype=np.int64)[None, :]
    inw = colx < wds[:, None]
    z = (prof_grid == 0) & inw
    low = (prof_grid <= stray) & inw
    # quick reject: a qualifying run exists only if some zero column
    # has a <= stray neighbor
    cand = ((z[:, :-1] & low[:, 1:]) | (z[:, 1:] & low[:, :-1])).any(axis=1)
    rows = np.flatnonzero(cand)
    if not len(rows):
        return out
    # maximal low-runs per row: pad one False column per row so runs
    # never span row boundaries in the flattened view
    lowp = np.zeros((len(rows), W + 1), dtype=bool)
    lowp[:, :W] = low[rows]
    flat = lowp.reshape(-1)
    d = np.diff(flat.astype(np.int8))
    rstart = np.flatnonzero(d == 1) + 1
    if flat[0]:
        rstart = np.concatenate([np.zeros(1, np.int64), rstart])
    rend = np.flatnonzero(d == -1)  # inclusive run ends (pad col closes all)
    blk = rstart // (W + 1)
    a = rstart - blk * (W + 1)
    b = rend - blk * (W + 1)
    # run filters: width >= 2, contains a zero, center within frac
    # bounds of the block's true width (float compare, as the oracle)
    keep = (b - a) >= 1
    zc = np.cumsum(z[rows], axis=1)
    zin = zc[blk, b] - np.where(a > 0, zc[blk, np.maximum(a - 1, 0)], 0)
    keep &= zin > 0
    mid = (a + b) // 2
    wr = wds[rows]
    keep &= (mid >= cfg.gutter_min_frac * wr[blk]) & (
        mid <= cfg.gutter_max_frac * wr[blk]
    )
    if not keep.any():
        return out
    blk = blk[keep]
    a = a[keep]
    b = b[keep]
    srows = np.unique(blk)  # indices into `rows` that still need smoothing
    rix = np.searchsorted(srows, blk)
    # batched integer gaussian smoothing: beyond-width entries are zero
    # by construction, so convolving the padded row equals the
    # zero-padded convolution on [0, w)
    r, wts = _gauss_weights(cfg.gutter_sigma)
    P = prof_grid[rows[srows]]
    sm = wts[r] * P
    for k in range(1, r + 1):
        if k < W:
            sm[:, : W - k] += wts[r + k] * P[:, k:]
            sm[:, k:] += wts[r - k] * P[:, : W - k]
    sm_in = np.where(colx < wds[rows[srows], None], sm, 0)
    max_s = sm_in.max(axis=1)
    fmax = np.maximum.accumulate(sm_in, axis=1)
    bmax = np.maximum.accumulate(sm_in[:, ::-1], axis=1)[:, ::-1]
    # per-run depth via 1-D reduceat over the flattened smoothed grid
    # (sentinel keeps end == len legal); runs are disjoint and sorted
    sm_flat = np.concatenate([sm_in.reshape(-1), np.zeros(1, np.int64)])
    inter = np.empty(2 * len(a), dtype=np.int64)
    inter[0::2] = rix * W + a
    inter[1::2] = rix * W + b + 1
    depth = np.minimum.reduceat(sm_flat, inter)[0::2]
    left = np.where(a > 0, fmax[rix, np.maximum(a - 1, 0)], 0)
    right = np.where(b + 1 < W, bmax[rix, np.minimum(b + 1, W - 1)], 0)
    ms = max_s[rix]
    rel_pct = int(round(cfg.gutter_rel_depth * 100))
    peak_pct = int(round(cfg.gutter_peak_frac * 100))
    ok = (
        (ms > 0)
        & (depth * 100 <= rel_pct * ms)
        & (np.minimum(left, right) * 100 >= peak_pct * ms)
    )
    if not ok.any():
        return out
    # W6 suppression per row: deepest max_columns-1, positional order
    sel = np.flatnonzero(ok)
    order = np.lexsort((b[sel], a[sel], depth[sel], blk[sel]))
    sel = sel[order]
    kmax = cfg.max_columns - 1
    cur = -1
    taken = 0
    buf: list = []
    for i in sel:
        rblk = int(blk[i])
        if rblk != cur:
            if buf:
                buf.sort()
                out[int(rows[cur])] = buf
            cur = rblk
            taken = 0
            buf = []
        if taken < kmax:
            buf.append((int(a[i]), int(b[i])))
            taken += 1
    if buf:
        buf.sort()
        out[int(rows[cur])] = buf
    return out


def _ls_slope_int(leads) -> tuple[int, int]:
    """Least-squares slope of leading indent vs line index as an exact
    integer fraction (numerator A, denominator B): slope = A/B.
    cv2.fitLine analog (utils/__init__.py:331-332)."""
    n = len(leads)
    sk = n * (n - 1) // 2
    sk2 = (n - 1) * n * (2 * n - 1) // 6
    sy = 0
    sky = 0
    for k in range(n):
        y = int(leads[k])
        sy += y
        sky += k * y
    return n * sky - sk * sy, n * sk2 - sk * sk


def _choose_shear_batch(specs, cfg: ExtractConfig):
    """SPEC §6d deskew (return_deskew_slop analog,
    separate_lines.py:1605-1646, in 1-D) over many blocks at once.
    Candidates are 0 plus the LS slope's +-0.5/+-0.25 neighborhood;
    each de-indents line k by round(s*k) (normalized to min 0) and
    scores the sheared ink profile's normalized variance; the first
    maximal candidate wins. ``specs`` is a list of (A, B, lens,
    rows_loc, cols_loc) per block — A/B the EXACT integer LS-slope
    fraction (python ints, so sls = A/B is the correctly-rounded
    double the oracle computes), lens the line lengths, rows/cols the
    length-masked ink coordinates. Returns per block (s_star, shifts,
    sheared_profile) when |s_star| >= slope_threshold, else None —
    equal to the oracle's ``_choose_shear_naive`` (fuzzed in
    tests/test_kernel_oracle.py). The entire candidate grid (6 per
    block) shears through ONE rint, ONE offset bincount and ONE
    einsum; only the 6-way winner comparison (python ints — the
    rational cross-product can exceed int64) walks blocks in Python."""
    nb = len(specs)
    if nb == 0:
        return []
    C = 6
    n_b = np.asarray([len(sp[2]) for sp in specs], dtype=np.int64)
    offs = np.cumsum(n_b) - n_b
    ktot = int(n_b.sum())
    k_flat = np.arange(ktot, dtype=np.int64) - np.repeat(offs, n_b)
    lens_flat = np.concatenate([np.asarray(sp[2], dtype=np.int64) for sp in specs])
    sls_list = [sp[0] / sp[1] for sp in specs]  # exact-int true division
    s_arr = np.empty((nb, C), dtype=np.float64)
    for b, sls in enumerate(sls_list):
        s_arr[b] = (0.0, sls - 0.5, sls - 0.25, sls, sls + 0.25, sls + 0.5)
    # shift vectors: rint(s*k), normalized so the block minimum is 0.
    # rint of a monotone sequence is monotone, so the minimum is
    # min(rint(s*0)=0, rint(s*(n-1))) in closed form.
    s_line = np.repeat(s_arr, n_b, axis=0).T  # (C, ktot)
    raw = np.rint(s_line * k_flat.astype(np.float64)[None, :]).astype(np.int64)
    m_last = np.rint(s_arr * (n_b - 1)[:, None].astype(np.float64)).astype(np.int64)
    min0 = np.minimum(0, m_last)  # (nb, C)
    sh = raw - np.repeat(min0, n_b, axis=0).T  # (C, ktot)
    # wp per (block, cand): max over the block's lines of len - shift
    sent = np.full(1, -(1 << 60), dtype=np.int64)
    wps = np.empty((nb, C), dtype=np.int64)
    for c in range(C):
        wps[:, c] = np.maximum.reduceat(
            np.concatenate([lens_flat - sh[c], sent]), offs
        )[:nb] if ktot else 0
    W = int(lens_flat.max()) if ktot else 0
    if W <= 0:
        return [None] * nb
    # ink coordinates flattened across blocks
    blk_cells = []
    line_off = offs
    rows_g = []
    cols_g = []
    for b, sp in enumerate(specs):
        r, c_ = sp[3], sp[4]
        rows_g.append(np.asarray(r, dtype=np.int64) + line_off[b])
        cols_g.append(np.asarray(c_, dtype=np.int64))
        blk_cells.append(np.full(len(r), b, dtype=np.int64))
    rows_g = np.concatenate(rows_g) if rows_g else np.zeros(0, np.int64)
    cols_g = np.concatenate(cols_g) if cols_g else np.zeros(0, np.int64)
    blk_cells = np.concatenate(blk_cells) if blk_cells else np.zeros(0, np.int64)
    # one offset bincount: slot (b, c) owns [ (b*C+c)*W, ...+wp_bc )
    idx = cols_g[None, :] - sh[:, rows_g]  # (C, nnz)
    ok = idx >= 0
    base = blk_cells * (C * W)
    flat = (base[None, :] + (np.arange(C, dtype=np.int64) * W)[:, None] + idx)[ok]
    profs = np.bincount(flat, minlength=nb * C * W).reshape(nb * C, W)
    svs = profs.sum(axis=1)
    sv2s = np.einsum("ij,ij->i", profs, profs)
    out = []
    for b in range(nb):
        best = None  # (score, wp, s, c)
        for c in range(C):
            wp = int(wps[b, c])
            if wp <= 0:
                continue
            slot = b * C + c
            score = wp * int(sv2s[slot]) - int(svs[slot]) ** 2
            if best is None or score * best[1] * best[1] > best[0] * wp * wp:
                best = (score, wp, float(s_arr[b, c]), c)
        if best is None or abs(best[2]) < cfg.slope_threshold:
            out.append(None)
            continue
        c = best[3]
        lo, hi = int(offs[b]), int(offs[b] + n_b[b])
        out.append(
            (best[2], sh[c, lo:hi].tolist(), profs[b * C + c, : best[1]])
        )
    return out


def _ink_row(s: str) -> np.ndarray:
    """Boolean ink mask of one raw line (char != ' '; NUL is ink)."""
    if not s:
        return np.zeros(0, dtype=bool)
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) != 32
