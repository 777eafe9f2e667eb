"""Single-node golden oracle: naive, loop-based implementation of
eynollah_spark/kernel/SPEC.md.

This is the text-domain transposition of the reference pipeline
(`/root/reference/qurator/eynollah/eynollah.py:2300-2567`), written as
straightforward per-line Python so its correctness is auditable by
reading. The Spark kernel (`eynollah_spark/kernel/textpage.py`) is an
independent vectorized implementation of the same spec; the test suite
asserts byte-exact agreement between the two.

Never import this module from the Spark pipeline — it exists only to
generate golden fixtures and to cross-check.
"""

from __future__ import annotations

from dataclasses import dataclass

from eynollah_spark.config import (
    RT_TABLE,
    DEFAULT_CONFIG,
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


@dataclass
class Span:
    span_idx: int
    region_type: str
    region_seq: int
    char_start: int
    char_end: int
    text: str


def _line_starts(lines: list[str]) -> list[int]:
    starts, pos = [], 0
    for ln in lines:
        starts.append(pos)
        pos += len(ln) + 1
    return starts


def _stripped_offsets(line: str, start: int) -> tuple[int, int, str]:
    """(char_start, char_end, stripped) of line.strip() within the page."""
    s = line.strip()
    lead = len(line) - len(line.lstrip())
    return start + lead, start + lead + len(s), s


def _is_banner(s: str) -> bool:
    return len(s) >= 6 and s.startswith("===") and s.endswith("===")


def _is_footer(s: str) -> bool:
    return any(s.startswith(p) for p in FOOTER_PREFIXES)


def _is_header_rule(s: str) -> bool:
    # ^#{1,6}\s  or  ^[A-Z][A-Z0-9_]{2,11}:
    if not s:
        return False
    if s[0] == "#":
        i = 0
        while i < len(s) and s[i] == "#":
            i += 1
        return 1 <= i <= 6 and i < len(s) and s[i] == " "
    if "A" <= s[0] <= "Z":
        i = 1
        while i < len(s) and ("A" <= s[i] <= "Z" or "0" <= s[i] <= "9" or s[i] == "_"):
            i += 1
        return 3 <= i <= 12 and i < len(s) and s[i] == ":"
    return False


def classify_line_naive(line: str, cfg: ExtractConfig) -> str:
    """SPEC §4 model rules, first match wins (mirrors the class codes
    asserted at eynollah.py:1269-1282)."""
    s = line.strip()
    if s == "":
        return "blank"
    if len(s) >= SEP_MIN_LEN and all(c in SEP_CHARS for c in s):
        return "separator"
    if s.startswith("[note:") and s.endswith("]"):
        return "marginalia"
    if cfg.full_layout:
        # header/dropcap only exist in full-layout mode (the M6/M7
        # second-model pass, eynollah.py:1837)
        if len(s) <= cfg.header_max_len and _is_header_rule(s):
            return "header"
        if len(s) == 1 and "A" <= s <= "Z":
            return "dropcap"
    if cfg.enable_tables and s.count("|") >= cfg.table_min_pipes:
        return "table"
    return "text"


def _binarize(line: str) -> str:
    return "".join(ch for ch in line if ord(ch) < 128)


@dataclass
class _Region:
    rtype: str
    band: int
    first_line: int
    col_idx: int
    # (char_start, char_end, text, col_a, col_b) — col range is the
    # stripped text's position range within its own line (§9 overlap)
    spans: list[tuple]


def _enhance_naive(text: str, cfg: ExtractConfig):
    """SPEC §1e enhancement pre-pass, naive form (M1 analog, reference
    eynollah.py:381-450,1988-2010): low-density pages are rewritten —
    right-trim lines, collapse blank-line runs to one, greedily
    space-wrap lines longer than enhancement_wrap_width (hard cut when
    a token is wider than the page; pieces right-trimmed, remainders
    left-trimmed, empty pieces dropped)."""
    n_lines = text.count("\n") + 1
    if len(text) / n_lines >= cfg.enhancement_density_min:
        return text, False
    width = cfg.enhancement_wrap_width
    out = []
    prev_blank = False
    for ln in text.split("\n"):
        while ln and ln[-1] == " ":
            ln = ln[:-1]
        blank = ln == ""
        if blank and prev_blank:
            continue
        prev_blank = blank
        if len(ln) <= width:
            out.append(ln)
            continue
        s = ln
        while len(s) > width:
            cut = -1
            for j in range(min(width, len(s) - 1), 0, -1):
                if s[j] == " ":
                    cut = j
                    break
            if cut == -1:
                head, s = s[:width], s[width:]
            else:
                head, s = s[:cut], s[cut + 1 :]
            head = head.rstrip(" ")
            s = s.lstrip(" ")
            if head:
                out.append(head)
        if s:
            out.append(s)
    return "\n".join(out), True


def _analyze(text: str, role: str, cfg: ExtractConfig):
    """Returns (spans, diag) per SPEC. Naive implementation."""
    # §1e enhancement (gated): rewrite low-density non-tool pages
    # BEFORE anything else; offsets refer to the enhanced text
    was_enhanced = False
    if cfg.enable_enhancement and role != "tool":
        text, was_enhanced = _enhance_naive(text, cfg)

    lines = text.split("\n")
    starts = _line_starts(lines)
    n = len(lines)

    diag = {
        "n_lines": n,
        "max_columns": 1,
        "slope": 0.0,
        "agreement_ratio": 100.0,
        "used_binarized": False,
        "was_enhanced": was_enhanced,
    }

    # §1 tool turns
    if role == "tool":
        spans: list[Span] = []
        for i, ln in enumerate(lines):
            if ln.strip() == "":
                continue
            cs, ce, s = _stripped_offsets(ln, starts[i])
            spans.append(Span(len(spans), RT_TOOL, 0, cs, ce, s))
        diag["n_spans"] = len(spans)
        diag["n_regions"] = 1 if spans else 0
        return spans, diag

    # §2 border strip
    lo, hi = 0, n  # page = lines[lo:hi]
    for k in range(min(cfg.border_scan_lines, n)):
        if _is_banner(lines[k].strip()):
            lo = k + 1
            break
    for k in range(max(lo, n - cfg.border_scan_lines), n):
        if _is_footer(lines[k].strip()):
            hi = k
            break

    page_idx = list(range(lo, hi))

    # §3 fences
    fence_state = {}
    in_fence = False
    for i in page_idx:
        s = lines[i].strip()
        if s.startswith("```"):
            fence_state[i] = "fence"
            in_fence = not in_fence
        elif in_fence:
            fence_state[i] = "tool"

    # §4 two-model classification + gate
    classifiable = [i for i in page_idx if i not in fence_state]
    cls_a = {i: classify_line_naive(lines[i], cfg) for i in classifiable}
    cls_b = {i: classify_line_naive(_binarize(lines[i]), cfg) for i in classifiable}
    if classifiable:
        agree = sum(1 for i in classifiable if cls_a[i] == cls_b[i])
        ratio = 100.0 * agree / len(classifiable)
    else:
        ratio = 100.0
    used_b = ratio <= cfg.binarize_retry_threshold
    cls = cls_b if used_b else cls_a
    diag["agreement_ratio"] = ratio
    diag["used_binarized"] = used_b

    # full per-line class map for region/band scanning
    def line_class(i: int) -> str:
        if i in fence_state:
            return fence_state[i]
        return cls[i]

    # §5t table-separator fusion (J5 analog,
    # add_tables_heuristic_to_layout eynollah.py:1783-1817): a
    # separator line directly between two table lines is absorbed into
    # the table, so the interleaved runs union into one region and the
    # absorbed rule line no longer advances the band counter
    if cfg.enable_tables:
        eff = {i: line_class(i) for i in page_idx}
        for i in page_idx:
            if (
                eff.get(i) == "separator"
                and eff.get(i - 1) == "table"
                and eff.get(i + 1) == "table"
            ):
                eff[i] = "table"
        orig_line_class = line_class

        def line_class(i: int) -> str:  # noqa: F811
            return eff[i]

    # §5c blank bridging (gated; F3 closing analog,
    # utils/__init__.py:1363-1393): a SINGLE blank line between two
    # same-class run-forming lines is relabeled to that class;
    # candidates come simultaneously from the ORIGINAL classes
    if cfg.region_blank_bridge:
        base = {i: line_class(i) for i in page_idx}
        eff2 = dict(base)
        for i in page_idx:
            if base[i] == "blank":
                p = base.get(i - 1)
                if p is not None and p == base.get(i + 1) and p in (
                    "text",
                    "marginalia",
                    "table",
                ):
                    eff2[i] = p

        def line_class(i: int) -> str:  # noqa: F811
            return eff2[i]

    # §5 regions and bands
    regions: list[_Region] = []
    band = 0
    blank_run = 0
    cur: _Region | None = None

    def close():
        nonlocal cur
        if cur is not None:
            regions.append(cur)
            cur = None

    for i in page_idx:
        c = line_class(i)
        if c == "blank":
            blank_run += 1
            if blank_run == cfg.band_blank_gap:
                band += 1
            close()
            continue
        blank_run = 0
        if c == "fence":
            close()
            continue
        if c in ("text", "tool", "marginalia", "table"):
            rt = {"text": RT_TEXT, "tool": RT_TOOL, "marginalia": RT_MARGINALIA,
                  "table": RT_TABLE}[c]
            if cur is not None and cur.rtype == rt:
                cur.spans.append((i, -1, ""))  # line index placeholder
            else:
                close()
                cur = _Region(rt, band, i, 0, [(i, -1, "")])
        elif c == "header":
            close()
            regions.append(_Region(RT_HEADER, band, i, 0, [(i, -1, "")]))
        elif c == "dropcap":
            close()
            regions.append(_Region("dropcap", band, i, 0, [(i, -1, "")]))
        elif c == "separator":
            close()
            regions.append(_Region(RT_SEPARATOR, band, i, 0, [(i, -1, "")]))
            band += 1
    close()

    # §5h per-region header majority vote (J8 analog,
    # utils/__init__.py:799-858: region relabeled header when the
    # header model's pixel mass >= its text mass and the region is
    # wide/short): a short text region whose MODEL-B header-line
    # character mass reaches its text mass becomes one header region.
    # Only in full-layout mode (header detection is gated there).
    for r in regions if cfg.full_layout else ():
        if r.rtype != RT_TEXT:
            continue
        line_ids = [t[0] for t in r.spans]
        if len(line_ids) > cfg.header_vote_max_lines:
            continue
        hm = tm = 0
        ok = True
        for i in line_ids:
            s = lines[i].strip()
            if len(s) > cfg.header_max_len:
                ok = False
                break
            if cls_b.get(i) == "header":
                hm += len(s)
            else:
                tm += len(s)
        if ok and hm > 0 and hm >= tm:
            r.rtype = RT_HEADER

    # --- §6 pre-pass: per-block deskew + gutters --------------------------
    block_res: dict[int, tuple] = {}  # region index -> (shifts, sh_prof, gutters)
    n_text_blocks = 0
    for ri, r in enumerate(regions):
        if r.rtype != RT_TEXT:
            continue
        n_text_blocks += 1
        line_ids = [t[0] for t in r.spans]
        block = [lines[i] for i in line_ids]
        shifts = None
        sh_prof = None
        if len(block) >= cfg.min_block_lines:
            res = _choose_shear_naive(block, cfg)
            if res is not None:
                _s_star, shifts, sh_prof = res
        if shifts is not None:
            gutters = _select_gutters_naive(sh_prof, cfg)
        else:
            gutters = (
                _find_gutters_naive(block, cfg)
                if len(block) >= cfg.min_block_lines
                else []
            )
        block_res[ri] = (shifts, sh_prof, gutters)

    # --- §6p page-column mode: union profile over all text-block lines ---
    page_gutters = None
    page_w = 0
    if n_text_blocks >= 2 and any(g for (_s, _p, g) in block_res.values()):
        all_lines = [
            lines[t[0]] for r in regions if r.rtype == RT_TEXT for t in r.spans
        ]
        page_w = max((len(ln) for ln in all_lines), default=0)
        if page_w > 0:
            prof = [0] * page_w
            for ln in all_lines:
                for p, ch in enumerate(ln):
                    if ch != " ":
                        prof[p] += 1
            pg = _select_gutters_naive(prof, cfg)
            if pg:
                page_gutters = pg

    def col_of(p: int) -> int:
        c = 0
        for _g0, g1 in page_gutters:
            if g1 < p:
                c += 1
        return c

    # §6p band recompute: a separator contained in ONE column no longer
    # advances the band counter; every region gets the column holding
    # its first line's first ink
    if page_gutters is not None:
        band_line = {}
        bnd = 0
        run = 0
        for i in range(n):
            band_line[i] = bnd
            if not (lo <= i < hi):
                continue
            c = line_class(i)
            if c == "blank":
                run += 1
                if run == cfg.band_blank_gap:
                    bnd += 1
                continue
            run = 0
            if c == "separator":
                a = len(lines[i]) - len(lines[i].lstrip())
                b = a + len(lines[i].strip())
                if b > a and col_of(a) != col_of(b - 1):
                    bnd += 1
        for r in regions:
            r.band = band_line[r.first_line]
            r.col_idx = col_of(len(lines[r.first_line]) - len(lines[r.first_line].lstrip()))

    # §6 column split on text blocks; materialize span content
    out_regions: list[_Region] = []
    slope_xs: list[int] = []
    slope_ys: list[int] = []
    for ri, r in enumerate(regions):
        line_ids = [t[0] for t in r.spans]
        if r.rtype == RT_TEXT:
            block = [lines[i] for i in line_ids]
            if page_gutters is not None:
                shifts, sh_prof, gutters = None, None, page_gutters
            else:
                shifts, sh_prof, gutters = block_res[ri]
            if gutters:
                diag["max_columns"] = max(diag["max_columns"], len(gutters) + 1)
                if page_gutters is not None:
                    w = page_w
                elif shifts is not None:
                    w = len(sh_prof)
                else:
                    w = max(len(ln) for ln in block)
                bounds = [0]
                segs = []
                for g0, g1 in gutters:
                    segs.append((bounds[-1], g0))
                    bounds.append(g1 + 1)
                segs.append((bounds[-1], w))
                col_entries = []
                for col, (a, b) in enumerate(segs):
                    col_spans = []
                    for k, i in enumerate(line_ids):
                        sh = shifts[k] if shifts is not None else 0
                        piece = lines[i][a + sh : b + sh]
                        s = piece.strip()
                        if not s:
                            continue
                        lead = len(piece) - len(piece.lstrip())
                        cs = starts[i] + a + sh + lead
                        col_spans.append((cs, cs + len(s), s, a + lead, a + lead + len(s)))
                    if col_spans:
                        col_entries.append((col, a, b, col_spans))
                # §6m projection-based marginalia: narrow short-lined
                # OUTER columns become marginalia regions
                n_e = len(col_entries)
                rel = round(cfg.marginalia_width_frac * 100)
                for idx, (col, a, b, col_spans) in enumerate(col_entries):
                    rt = RT_TEXT
                    if n_e >= 2 and (idx == 0 or idx == n_e - 1):
                        wd = b - a
                        others = max(
                            bb - aa
                            for j, (_c, aa, bb, _s) in enumerate(col_entries)
                            if j != idx
                        )
                        if (
                            wd * 100 <= rel * w
                            and 2 * wd <= others
                            and all(
                                len(sp[2]) <= cfg.marginalia_max_len
                                for sp in col_spans
                            )
                        ):
                            rt = RT_MARGINALIA
                    out_regions.append(
                        _Region(rt, r.band, r.first_line, col, col_spans)
                    )
                continue
            # single column: deskew diagnostics over block lines
            for k, i in enumerate(line_ids):
                slope_xs.append(k)
                slope_ys.append(len(lines[i]) - len(lines[i].lstrip()))
            spans = []
            for i in line_ids:
                cs, ce, s = _stripped_offsets(lines[i], starts[i])
                if s:
                    lead = len(lines[i]) - len(lines[i].lstrip())
                    spans.append((cs, ce, s, lead, lead + len(s)))
            if spans:
                out_regions.append(_Region(RT_TEXT, r.band, r.first_line, 0, spans))
        else:
            spans = []
            for i in line_ids:
                cs, ce, s = _stripped_offsets(lines[i], starts[i])
                if s:
                    lead = len(lines[i]) - len(lines[i].lstrip())
                    spans.append((cs, ce, s, lead, lead + len(s)))
            if spans:
                out_regions.append(
                    _Region(r.rtype, r.band, r.first_line, r.col_idx, spans)
                )

    # slope: least-squares fit (cv2.fitLine analog, utils/__init__.py:331-332)
    if len(slope_xs) >= 2:
        mx = sum(slope_xs) / len(slope_xs)
        my = sum(slope_ys) / len(slope_ys)
        var = sum((x - mx) ** 2 for x in slope_xs)
        if var > 0:
            cov = sum((x - mx) * (y - my) for x, y in zip(slope_xs, slope_ys))
            diag["slope"] = cov / var

    # §7 reading order; §7p: page-column mode orders column-major
    # ACROSS bands
    tg = {RT_HEADER: 0, RT_TEXT: 1, RT_TOOL: 1, RT_TABLE: 1, "dropcap": 1, RT_MARGINALIA: 2, RT_SEPARATOR: 3}
    if page_gutters is not None:
        out_regions.sort(key=lambda r: (r.col_idx, r.band, tg[r.rtype], r.first_line))
    else:
        out_regions.sort(key=lambda r: (r.band, tg[r.rtype], r.first_line, r.col_idx))

    # §8 drop-capital merge
    merged: list[_Region] = []
    i = 0
    while i < len(out_regions):
        r = out_regions[i]
        if (
            r.rtype == "dropcap"
            and i + 1 < len(out_regions)
            and out_regions[i + 1].rtype == RT_TEXT
            and out_regions[i + 1].band == r.band
            and out_regions[i + 1].spans
        ):
            tgt = out_regions[i + 1]
            dcs = r.spans[0][0]
            dtext = r.spans[0][2]
            fs = tgt.spans[0]
            # merged span keeps the TARGET's column range
            tgt.spans[0] = (dcs, fs[1], dtext + fs[2], fs[3], fs[4])
            merged.append(tgt)
            i += 2
            continue
        if r.rtype == "dropcap":
            r.rtype = RT_DROPCAP
        merged.append(r)
        i += 1

    # §9 small-fragment adherence (text regions only): overlap-argmax —
    # each fragment merges into the big span with maximal column
    # overlap (ties: index-nearest, then earliest), the 1-D form of the
    # small-x-big overlap matrix at utils/__init__.py:923-948.
    final_regions: list[_Region] = []
    for r in merged:
        if r.rtype != RT_TEXT:
            final_regions.append(r)
            continue
        spans_r = r.spans
        if cfg.enable_line_split:
            spans_r = _split_long_spans_naive(spans_r, cfg)  # §9L (-cl)
        bigs = [
            j for j, sp in enumerate(spans_r)
            if len(sp[2]) > cfg.small_fragment_max_len
        ]
        if not bigs:
            if spans_r:
                final_regions.append(r)
            continue
        pre = {j: [] for j in bigs}
        suf = {j: [] for j in bigs}
        for j, sp in enumerate(spans_r):
            if len(sp[2]) > cfg.small_fragment_max_len:
                continue
            best, bo, bd = bigs[0], -1, None
            for i in bigs:
                b = spans_r[i]
                ov = max(0, min(sp[4], b[4]) - max(sp[3], b[3]))
                dist = abs(j - i)
                if ov > bo or (ov == bo and dist < bd):
                    best, bo, bd = i, ov, dist
            (pre if j < best else suf)[best].append(sp)
        out_spans = []
        for i in bigs:
            cs, ce, text, ca, cb = spans_r[i]
            if pre[i]:
                text = " ".join(p[2] for p in pre[i]) + " " + text
                cs = pre[i][0][0]
            if suf[i]:
                text = text + " " + " ".join(p[2] for p in suf[i])
                ce = suf[i][-1][1]
            out_spans.append((cs, ce, text, ca, cb))
        r.spans = out_spans
        final_regions.append(r)

    # §10 emission
    spans_out: list[Span] = []
    for rs, r in enumerate(final_regions):
        for sp in r.spans:
            spans_out.append(Span(len(spans_out), r.rtype, rs, sp[0], sp[1], sp[2]))
    diag["n_spans"] = len(spans_out)
    diag["n_regions"] = len(final_regions)
    return spans_out, diag


def _smooth_profile_naive(profile: list[int], sigma: float) -> list[int]:
    """SPEC §6 integer gaussian smoothing, naive loop form: radius
    int(3s+0.5), weights round(1e6*exp(-k^2/2s^2)), zero padding."""
    import math

    r = int(3.0 * sigma + 0.5)
    wts = [
        round(1_000_000 * math.exp(-(k * k) / (2.0 * sigma * sigma)))
        for k in range(-r, r + 1)
    ]
    w = len(profile)
    out = [0] * w
    for p in range(w):
        s = 0
        for k in range(-r, r + 1):
            q = p + k
            if 0 <= q < w:
                s += wts[k + r] * profile[q]
        out[p] = s
    return out


def _select_gutters_naive(profile: list[int], cfg: ExtractConfig) -> list[tuple[int, int]]:
    """SPEC §6 valley machinery over an ink profile: candidate runs of
    positions inked by <= gutter_max_stray_lines lines (anchored by
    >= 1 truly blank column), width >= 2, center inside [0.15W, 0.85W],
    whose minimum smoothed ink is <= gutter_rel_depth of the smoothed
    max; the deepest max_columns-1 runs are kept, in positional order."""
    w = len(profile)
    if not any(v == 0 for v in profile):
        return []
    sm = _smooth_profile_naive(profile, cfg.gutter_sigma)
    max_s = max(sm)
    if max_s == 0:
        return []
    rel_pct = int(round(cfg.gutter_rel_depth * 100))
    peak_pct = int(round(cfg.gutter_peak_frac * 100))
    runs = []
    p = 0
    while p < w:
        if profile[p] <= cfg.gutter_max_stray_lines:
            q = p
            while q + 1 < w and profile[q + 1] <= cfg.gutter_max_stray_lines:
                q += 1
            runs.append((p, q))
            p = q + 1
        else:
            p += 1
    kept = []
    for a, b in runs:
        if b - a + 1 < 2:
            continue
        if not any(profile[p] == 0 for p in range(a, b + 1)):
            continue
        depth = min(sm[p] for p in range(a, b + 1))
        if depth * 100 > rel_pct * max_s:
            continue
        # two-sided prominence: ink peaks required on BOTH sides
        left_max = max(sm[:a]) if a > 0 else 0
        right_max = max(sm[b + 1 :]) if b + 1 < w else 0
        if min(left_max, right_max) * 100 < peak_pct * max_s:
            continue
        center = (a + b) // 2
        if not (cfg.gutter_min_frac * w <= center <= cfg.gutter_max_frac * w):
            continue
        kept.append((depth, a, b))
    kept.sort()
    kept = kept[: cfg.max_columns - 1]
    kept.sort(key=lambda t: t[1])
    return [(a, b) for _, a, b in kept]


def _block_profile_naive(block: list[str]) -> list[int]:
    w = max(len(ln) for ln in block)
    profile = [0] * w
    for ln in block:
        for p, ch in enumerate(ln):
            if ch != " ":
                profile[p] += 1
    return profile


def _find_gutters_naive(block: list[str], cfg: ExtractConfig) -> list[tuple[int, int]]:
    """SPEC §6: ink profile + valley selection."""
    w = max(len(ln) for ln in block)
    if w == 0:
        return []
    return _select_gutters_naive(_block_profile_naive(block), cfg)


def _ls_slope_int_naive(leads: list[int]) -> tuple[int, int]:
    """SPEC §6d: LS slope of indent vs line index as integers (A, B)."""
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


def _choose_shear_naive(block: list[str], cfg: ExtractConfig):
    """SPEC §6d deskew shear grid, naive form: candidates are 0 plus
    the LS slope's +-0.5/+-0.25 neighborhood; each candidate de-indents
    line k by round(s*k) (normalized to min 0) and scores the sheared
    ink profile's normalized population variance; first-maximal wins.
    Returns (s_star, shifts, sheared_profile) when
    |s_star| >= slope_threshold, else None."""
    leads = [len(ln) - len(ln.lstrip()) for ln in block]
    A, B = _ls_slope_int_naive(leads)
    if B <= 0 or abs(A) < cfg.slope_threshold * B:
        return None
    sls = A / B
    n = len(block)
    cands = [0.0, sls - 0.5, sls - 0.25, sls, sls + 0.25, sls + 0.5]
    best = None  # (score, wp, s, shifts, profile)
    for s in cands:
        raw_sh = [round(s * k) for k in range(n)]
        m = min(raw_sh)
        sh = [int(v - m) for v in raw_sh]
        wp = max(len(block[k]) - sh[k] for k in range(n))
        if wp <= 0:
            continue
        prof = [0] * wp
        for k in range(n):
            ln = block[k]
            for p in range(sh[k], len(ln)):
                if ln[p] != " ":
                    prof[p - sh[k]] += 1
        sv = sum(prof)
        sv2 = sum(v * v for v in prof)
        score = wp * sv2 - sv * sv
        if best is None or score * best[1] * best[1] > best[0] * wp * wp:
            best = (score, wp, s, sh, prof)
    if best is None or abs(best[2]) < cfg.slope_threshold:
        return None
    return best[2], best[3], best[4]


def _split_long_spans_naive(spans, cfg: ExtractConfig):
    """SPEC §9L curved-line splitting, naive form: long spans split at
    the smoothed valleys of their own char-ink profile (the §6 valley
    machinery per span; sigma scales with span length)."""
    out = []
    for sp in spans:
        cs, ce, text, ca, cb = sp
        L = len(text)
        if L < cfg.line_split_min_len:
            out.append(sp)
            continue
        sigma = cfg.line_split_sigma * min(
            1 + L // cfg.line_split_scale, cfg.line_split_max_scale
        )
        prof = [0 if ch == " " else 1 for ch in text]
        sm = _smooth_profile_naive(prof, sigma)
        max_s = max(sm) if sm else 0
        rel_pct = int(round(cfg.line_split_rel_depth * 100))
        peak_pct = int(round(cfg.gutter_peak_frac * 100))
        cuts = []
        if max_s > 0:
            p = 0
            while p < L:
                if text[p] == " ":
                    q = p
                    while q + 1 < L and text[q + 1] == " ":
                        q += 1
                    if q - p + 1 >= cfg.line_split_gap:
                        depth = min(sm[x] for x in range(p, q + 1))
                        if depth * 100 <= rel_pct * max_s:
                            left = max(sm[:p]) if p > 0 else 0
                            right = max(sm[q + 1 :]) if q + 1 < L else 0
                            if min(left, right) * 100 >= peak_pct * max_s:
                                cuts.append((p, q))
                    p = q + 1
                else:
                    p += 1
        if not cuts:
            out.append(sp)
            continue
        pieces = []
        last_end = 0
        for a, b in cuts:
            if a > last_end:
                pieces.append((last_end, a))
            last_end = b + 1
        if last_end < L:
            pieces.append((last_end, L))
        if len(pieces) <= 1:
            out.append(sp)
            continue
        for a, b in pieces:
            out.append((cs + a, cs + b, text[a:b], ca + a, ca + b))
    return out


def analyze_turn_naive(
    text: str, role: str, cfg: ExtractConfig = DEFAULT_CONFIG
) -> list[Span]:
    spans, _ = _analyze(text, role, cfg)
    return spans


def page_diag_naive(text: str, role: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> dict:
    _, diag = _analyze(text, role, cfg)
    diag["is_deskewed"] = abs(diag["slope"]) >= cfg.slope_threshold
    return diag
