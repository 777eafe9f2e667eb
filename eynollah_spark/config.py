"""Configuration constants for the extraction pipeline.

The numeric constants mirror the reference's hard-coded thresholds
(``eynollah.py:77-81``: SLOPE_THRESHOLD=0.13, DPI_THRESHOLD=298, KERNEL=5x5)
transposed to the text domain.  They are a frozen part of the *spec*: the
single-node oracle and the Spark kernel both read them from here, so there
is exactly one source of truth.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # --- patch harness (do_prediction analog, eynollah.py:522-639) ---
    # lines per patch fed to the line classifier; margin = overlap kept
    # on each side and discarded at stitch time (margin = 0.1 * patch
    # in the reference, eynollah.py:550).
    patch_lines: int = 64
    patch_margin: int = 6

    # --- two-model ensemble gate (eynollah.py:1205-1230) ---
    # agreement percentage below which the "binarized retry" path runs
    # (reference: rate_two_models <= 40 -> rerun on binarized input).
    binarize_retry_threshold: float = 40.0

    # --- page border (extract_page analog, eynollah.py:673-710) ---
    # how many leading/trailing lines are searched for the boilerplate
    # banner/footer (reference: border snapped when margin <= 30 px,
    # eynollah.py:688-697).
    border_scan_lines: int = 3

    # --- column detection (find_num_col analog, utils/__init__.py:363-532;
    # smoothing + valley machinery: utils/__init__.py:377-383,443-503 and
    # separate_lines.py:57-103) ---
    # gaussian_filter1d sigma over the ink profile. Weights are
    # integerized (round(1e6 * exp(-k^2/2s^2)), radius int(3s+0.5)) so
    # both implementations smooth in exact integer arithmetic.
    gutter_sigma: float = 1.0
    # valley depth: a gutter run qualifies only if its minimum smoothed
    # ink is <= this fraction of the smoothed profile's max (the
    # find_peaks prominence analog)
    gutter_rel_depth: float = 0.20
    # a gutter run may cross positions inked by at most this many lines
    # (stray-character tolerance: 1-2 stray chars no longer kill a wide
    # gutter); every run must still contain >= 1 truly blank column
    gutter_max_stray_lines: int = 1
    # a valley must sit BETWEEN peaks: the smoothed profile must reach
    # at least this fraction of its max on BOTH sides of the run (the
    # find_peaks two-sided prominence analog) — rejects the ragged
    # right tail of a block, where only the longest line has ink
    gutter_peak_frac: float = 0.5
    gutter_min_frac: float = 0.15      # gutters only in [15%, 85%] of width
    gutter_max_frac: float = 0.85
    min_block_lines: int = 3           # blocks shorter than this are single-column
    max_columns: int = 3

    # --- deskew (return_deskew_slop analog, separate_lines.py:1572-1798) ---
    slope_threshold: float = 0.13      # SLOPE_THRESHOLD, eynollah.py:79

    # --- merging heuristics ---
    # small-fragment adherence (small_textlines_to_parent_adherence2,
    # utils/__init__.py:860-991): stripped length <= this merges into a
    # neighbor span of the same region.
    small_fragment_max_len: int = 2
    # header line max length (headers are wide+short in the reference,
    # w/h >= 1.3 vote at utils/__init__.py:799-858)
    header_max_len: int = 60

    # band split: this many consecutive blank lines splits bands even
    # without a separator rule
    band_blank_gap: int = 2

    # --- full-layout mode (the reference's --full-layout/--no-full-
    # layout CLI flag, cli.py:72, eynollah.py:1837,2246-2275: the
    # second model pass detecting headers and drop capitals only runs
    # in full layout) ---
    # off: header/dropcap line classes are skipped (such lines are
    # plain text), the per-region header vote never runs, and the
    # drop-capital merge has nothing to merge — the no-full-layout
    # output shape
    full_layout: bool = True

    # --- per-region header majority vote (J8 analog,
    # utils/__init__.py:799-858: a region is relabeled header when the
    # header model's pixel mass >= its text mass AND the region is
    # wide/short, w/h >= 1.3) ---
    # only regions with at most this many lines can be relabeled (the
    # short-and-wide shape gate in the text domain; every line must
    # also fit header_max_len)
    header_vote_max_lines: int = 2

    # --- 1-D morphological closing (F3 analog,
    # utils/__init__.py:1363-1393: erosion/dilation with data-scaled
    # structuring elements bridges small interior gaps) ---
    # off by default: a SINGLE blank line between two lines of the same
    # run-forming class (text/marginalia/table) is relabeled to that
    # class, bridging the runs into one region; >= 2 blanks never
    # bridge (they are a real band split)
    region_blank_bridge: bool = False

    # --- projection-based marginalia (utils/marginals.py:11-252) ---
    # an OUTER emitted column of a split block is marginalia when it is
    # narrow relative to the page (width <= frac * W), at most half as
    # wide as the widest sibling column, and all its spans are short
    marginalia_width_frac: float = 0.25
    marginalia_max_len: int = 24

    # --- curved-line splitting (separate_lines.py:128-673, the -cl
    # mode; gated like the reference's CLI flag) ---
    # off by default: long spans are subdivided at the smoothed VALLEYS
    # of their own char-ink profile — the same integer-gaussian valley
    # machinery as §6, run per span (splitting a curved textline at the
    # valleys of its own projection profile, separate_lines.py:128-673)
    enable_line_split: bool = False
    # only spans at least this long are candidates
    line_split_min_len: int = 80
    # minimum width (in spaces) of a candidate valley run
    line_split_gap: int = 2
    # smoothing sigma, scaled with span length (the data-dependent-
    # sigma analog, separate_lines.py:240-265):
    # sigma = line_split_sigma * min(1 + L // line_split_scale,
    #                                line_split_max_scale)
    line_split_sigma: float = 1.0
    line_split_scale: int = 160
    line_split_max_scale: int = 8
    # a candidate run splits only if its minimum smoothed ink is <=
    # this fraction of the span's smoothed max (longer spans smooth
    # wider, so narrow gaps stop qualifying — the data-dependent gap)
    line_split_rel_depth: float = 0.40

    # --- enhancement pre-pass (M1 analog: run_enhancement /
    # resize_and_enhance_image_with_column_classifier +
    # predict_enhancement, eynollah.py:381-450,1988-2010, model M1
    # loaded at eynollah.py:137,174-262; exposed like the reference's
    # -ae/--allow_enhancement CLI flag, cli.py) ---
    # off by default. When on, a page whose ink density (chars per
    # line, the DPI analog of check_dpi/DPI_THRESHOLD=298) is below
    # the threshold is REWRITTEN before classification: lines are
    # right-trimmed, runs of blank lines collapse to one, and
    # over-long lines are greedily re-wrapped at spaces. Span offsets
    # then refer to the ENHANCED text (the reference's
    # allow_enhancement output-in-enhanced-scale behavior). Tool pages
    # (SPEC §1) bypass enhancement like they bypass segmentation.
    enable_enhancement: bool = False
    enhancement_density_min: float = 30.0  # chars/line; DPI_THRESHOLD analog
    enhancement_wrap_width: int = 80

    # --- table mode (M10 analog, eynollah.py:1841-1941; gated like the
    # reference's -tab flag, cli.py) ---
    # off by default: the reference only detects tables when asked
    enable_tables: bool = False
    # a line whose stripped form contains >= this many '|' cell
    # delimiters is a table row (checked after every other class rule)
    table_min_pipes: int = 2


DEFAULT_CONFIG = ExtractConfig()

# character set that makes a separator rule line (class 3/"separator",
# codes asserted at eynollah.py:1269-1282)
SEP_CHARS = frozenset("-*=_—–~")
# separator line: stripped length >= this, drawn only from SEP_CHARS
# (SPEC §4)
SEP_MIN_LEN = 3

# region types (PAGE-XML region types, writer.py:142-248)
RT_TEXT = "text"
RT_TABLE = "table"
RT_HEADER = "header"
RT_MARGINALIA = "marginalia"
RT_DROPCAP = "drop-capital"
RT_TOOL = "tool"
RT_SEPARATOR = "separator"

# footer prefixes for page-border stripping (extract_page analog)
FOOTER_PREFIXES = ("(c)", "©", "Legal:")
