"""Geometric layout analysis: chars → words → lines → boxes.

Re-implements, vectorized, the grouping pdfminer performs for the
reference (LA_PARAMS ``parameters.py:220-228``: line_overlap 0.5,
char_margin 6.0, line_margin 0.4, word_margin 0.1, boxes_flow 0.5)
plus the reference's own custom regrouping
(``utils.py:585-631`` assemble_to_lt_textlines — new line when the
vertical char-center deviates by >= y_tolerance) and its text-assembly
joins (``models/horizontal_box.py:93-200``: chars join "" → word,
words join " " → line, lines join "\\n" → box).

The input is a struct-of-arrays over one document's chars; the output
is a list of :class:`Box` (the LTTextBoxHorizontal equivalent) with
per-char text offsets retained for link-index computation
(``textbox.py:670-795``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.payload import decode_chars


@dataclass
class CharArrays:
    """Struct-of-arrays view of a document's chars (one page or all)."""

    page: np.ndarray    # int32
    text: np.ndarray    # object (str), or <U1 from packed chars
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    fontname: np.ndarray  # object (str | None)
    ncolor: np.ndarray    # object (tuple | None)

    def __len__(self) -> int:
        return len(self.page)

    @classmethod
    def from_payload(cls, chars) -> "CharArrays":
        """Arrays from any payload char encoding (rows, v1 columnar,
        v2 packed) via the one decoder, :func:`payload.decode_chars`.

        Applies the anno-noise filter (F2, ``extract.py:446-486``
        ``delete_page_ann``): pdfminer's layout analysis injects
        virtual ``anno`` objects whose text is ``" "`` or ``"\\n"``
        (pdfplumber issue #1); a producer that serialized that object
        soup lands them in the char array. Real payloads carry spacing
        as geometry (gaps), never as whitespace glyphs, so any such
        row is an artifact and is dropped before grouping.

        DOCUMENTED DIVERGENCE (ADVICE r3): the reference's
        ``delete_page_ann`` removes only items whose pdfminer
        ``object_type == "anno"``; the payload schema here carries no
        object-type column, so the filter keys on text alone. A
        producer that serialized *real* space glyphs (nonzero-width
        geometry) loses those rows — word segmentation then relies on
        gap geometry, which reconstructs the same word boundaries
        (covered by ``test_kernel_robustness.py::
        test_f2_real_space_glyph_word_segmentation``)."""
        arr = cls(**decode_chars(chars))
        # vectorized keep-mask (VERDICT r3: np.isin is 3x the Python
        # generator on this every-char hot path; semantics identical)
        keep = (arr.text != " ") & (arr.text != "\n")  # r8: 2 vector
        # compares beat np.isin's sort-based in1d on unicode arrays
        return arr if keep.all() else arr.take(keep)

    def take(self, idx: np.ndarray) -> "CharArrays":
        return CharArrays(
            self.page[idx], self.text[idx], self.x0[idx], self.y0[idx],
            self.x1[idx], self.y1[idx], self.fontname[idx], self.ncolor[idx],
        )


@dataclass
class Box:
    """An assembled text box (LTTextBoxHorizontal equivalent)."""

    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str
    # char indices (into the ORIGINAL document char arrays) in text order,
    # one entry per physical char; offsets[i] = position of that char in
    # `text` (separators occupy offsets with no char index).
    char_idx: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    offsets: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    # line spans: list of (start, stop) slices into char_idx per text line
    line_spans: list = field(default_factory=list)
    fontname: str | None = None   # uniform-lift, horizontal_box.py:188-195
    ncolor: tuple | None = None


def _median1d(a: np.ndarray) -> float:
    """``float(np.median(a))`` for a non-empty 1-D float array without
    the ``_ureduce`` wrapper overhead (np.median showed up as ~8% of
    the per-page kernel — one call per page on a small array is pure
    Python-layer cost). Bit-identical: same partition selection, same
    even-count ``(lo + hi) / 2`` mean, same NaN propagation (NaN sorts
    last under partition; np.median checks the last slot the same
    way)."""
    n = a.size
    k = n >> 1
    if n & 1:
        part = np.partition(a, (k, n - 1))
        lo = hi = part[k]
    else:
        part = np.partition(a, (k - 1, k, n - 1))
        lo, hi = part[k - 1], part[k]
    if np.isnan(part[-1]):
        return float("nan")
    return float((lo + hi) / 2.0)


def _uniform(values) -> object | None:
    """Promote an attribute iff identical across children
    (``horizontal_box.py:84-90,136-142,188-195``)."""
    it = iter(values)
    try:
        first = next(it)
    except StopIteration:
        return None
    for v in it:
        if v != first:
            return None
    return first


def group_lines(
    chars: CharArrays, y_tolerance: float, char_margin: float | None = None
) -> list[np.ndarray]:
    """Cluster char indices into text lines by vertical center.

    Vectorized form of the reference's line grouping
    (``utils.py:585-631``): chars whose vertical centers lie within
    ``y_tolerance`` of the running line center share a line. We sort
    centers descending (top of page first) and cut where the gap
    between consecutive centers >= tolerance, then order each line's
    chars left-to-right. When ``char_margin`` is given, a y-line is
    additionally split where the horizontal gap between consecutive
    chars exceeds ``char_margin × char_width`` (pdfminer LAParams
    char_margin — this is what separates side-by-side columns).

    Returns a list of index arrays (into ``chars``), top-to-bottom,
    each sorted by x0.
    """
    n = len(chars)
    if n == 0:
        return []
    yc = (chars.y0 + chars.y1) * 0.5
    order = np.argsort(-yc, kind="stable")
    yc_sorted = yc[order]
    # new line where the descending center drops by >= tolerance
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
    # members of line k are CONTIGUOUS in `order` (breaks are cuts in
    # the y-sorted sequence). r8: ONE stable lexsort orders every
    # line's members by x0 at once (primary key = line id, secondary
    # = x0; stable ties keep the y-order, exactly like the previous
    # per-line stable argsort), and the char_margin sub-split runs as
    # one vector compare over the page — the per-line loop with L
    # small argsorts was the remaining group_lines hotspot.
    line_id = np.cumsum(breaks) - 1
    order2 = order[np.lexsort((chars.x0[order], line_id))]
    cut = breaks  # line starts sit at the same positions after the
    # within-line reorder (line blocks are contiguous either way)
    if char_margin is not None and n > 1:
        x0s = chars.x0[order2]
        x1s = chars.x1[order2]
        widths = x1s - x0s
        hgap = np.empty(n)
        hgap[0] = 0.0
        hgap[1:] = x0s[1:] - x1s[:-1]
        # hgap at a line-start position compares across lines — the
        # cut is already True there, so the bogus value never splits
        cut = cut | (hgap > char_margin * widths)
    # inline np.split: same contiguous views without array_split's
    # per-piece Python checks (~0.1 s of the profiled kernel run)
    cuts = np.flatnonzero(cut[1:]) + 1
    bounds = np.empty(len(cuts) + 2, dtype=np.int64)
    bounds[0] = 0
    bounds[1:-1] = cuts
    bounds[-1] = n
    bl = bounds.tolist()
    return [order2[a:b] for a, b in zip(bl[:-1], bl[1:])]


def assemble_lines_bulk(
    chars: CharArrays, lines: list[np.ndarray], word_margin: float
) -> list[tuple[str, np.ndarray]]:
    """Assemble EVERY line of a page in one vectorized pass.

    Equivalent to calling :func:`assemble_line_text` per line, but the
    gap/space/offset math runs once over the page's chars — per-line
    numpy call overhead dominated the kernel profile (24 lines × ~8
    small numpy ops each per document).
    """
    if not lines:
        return []
    lens = np.fromiter((len(l) for l in lines), dtype=np.int64, count=len(lines))
    members = np.concatenate(lines)
    n = len(members)
    starts = np.zeros(len(lines), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])

    x0 = chars.x0[members]
    x1 = chars.x1[members]
    widths = x1 - x0
    gaps = np.empty(n)
    gaps[0] = 0.0
    gaps[1:] = x0[1:] - x1[:-1]
    space = gaps > word_margin * widths
    space[starts] = False

    cum = np.cumsum(space)
    line_id = np.repeat(np.arange(len(lines)), lens)
    cum_at_start = (cum - space)[starts]  # spaces before line start
    within_spaces = cum - cum_at_start[line_id]
    idx_in_line = np.arange(n, dtype=np.int64) - starts[line_id]
    offsets_all = idx_in_line + within_spaces

    texts_np = chars.text[members]
    # r8: when text is the packed-payload <U1 array, the page's full
    # concatenation is ONE UTF-32 buffer reinterpretation (each slot
    # is exactly one char) — no per-char Python string creation. A
    # numpy U-slot holding "" is NUL padding, indistinguishable from
    # a real "\x00" glyph under the view, so any empty slot falls
    # back to the list path (which renders "" exactly as before). The
    # view reads the buffer as little-endian UTF-32, so a big-endian
    # ">U1" array takes the list path too.
    page_str = None
    if n and texts_np.dtype == np.dtype("<U1") and (texts_np != "").all():
        page_str = np.ascontiguousarray(texts_np).view(f"<U{n}")[0]
    else:
        texts_all = texts_np.tolist()
        space_list = space.tolist()
    # r8: word-cut positions for the whole page at once — the previous
    # per-line `[k for k in range(a+1, b) if space_list[k]]` was a
    # per-CHAR Python loop inside the hot path
    cuts_all = np.flatnonzero(space)
    # one vectorized searchsorted for every line's cut range (r8: the
    # per-line two-element searchsorted was 2·L small calls per page)
    los = np.searchsorted(cuts_all, starts + 1)
    his = np.searchsorted(cuts_all, starts + lens)
    out: list[tuple[str, np.ndarray]] = []
    for li in range(len(lines)):
        a = int(starts[li])
        b = a + int(lens[li])
        if page_str is not None:
            joined = page_str[a:b]
            one_char = True
        else:
            seg = texts_all[a:b]
            joined = "".join(seg)
            one_char = len(joined) == len(seg)
        if one_char:  # all 1-char glyphs: slice per WORD
            lo, hi = los[li], his[li]
            if hi > lo:
                bounds = (cuts_all[lo:hi] - a).tolist()
                parts = []
                prev = 0
                for cut in bounds:
                    parts.append(joined[prev:cut])
                    prev = cut
                parts.append(joined[prev:])
                joined = " ".join(parts)
        else:  # rare multi-char glyphs
            joined = "".join(
                (" " + t) if space_list[a + k] else t for k, t in enumerate(seg)
            )
        out.append((joined, offsets_all[a:b]))
    return out


def assemble_line_text(
    chars: CharArrays, line: np.ndarray, word_margin: float
) -> tuple[str, np.ndarray]:
    """Assemble one line's text, inserting spaces at word gaps.

    pdfminer semantics: a space separator is inserted before a char
    whose horizontal gap to the previous char exceeds
    ``word_margin * width(char)`` (LTTextLineHorizontal.add). Words
    join with "" internally and with " " across
    (``horizontal_box.py:93-95,144-147``).

    Returns ``(text, offsets)`` where ``offsets[i]`` is the position
    of line char ``i`` in ``text``.
    """
    xs0 = chars.x0[line]
    xs1 = chars.x1[line]
    widths = xs1 - xs0
    gaps = np.empty(len(line))
    gaps[0] = 0.0
    if len(line) > 1:
        gaps[1:] = xs0[1:] - xs1[:-1]
    space_before = gaps > word_margin * widths
    space_before[0] = False
    offsets = np.arange(len(line), dtype=np.int64) + np.cumsum(space_before)
    texts = chars.text[line].tolist()
    joined = "".join(texts)
    if not space_before.any():
        return joined, offsets
    if len(joined) == len(texts):  # all 1-char glyphs: slice per WORD
        bounds = np.flatnonzero(space_before).tolist()
        segs = []
        prev = 0
        for b in bounds:
            segs.append(joined[prev:b])
            prev = b
        segs.append(joined[prev:])
        return " ".join(segs), offsets
    # rare multi-char glyphs (ligatures): per-char fallback
    flags = space_before.tolist()
    text = "".join(" " + t if sp else t for t, sp in zip(texts, flags))
    return text, offsets


def _connected_components(adjacent: np.ndarray) -> np.ndarray:
    """Connected-component labels of a small boolean adjacency matrix
    (N is lines/boxes per page — tens, not thousands).

    Union-find over the adjacency pairs, always attaching the larger
    root under the smaller, so every component's root — and therefore
    its label — is its minimum member index: identical labels to the
    min-label propagation this replaces (the label VALUE matters —
    ``order_boxes_reading`` uses it as a sort tie-break), without
    rebuilding an n×n matrix per propagation round. Input must be
    symmetric (both call sites build symmetric adjacency; only the
    upper triangle is traversed)."""
    n = adjacent.shape[0]
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ii, jj = np.nonzero(adjacent)
    keep = ii < jj  # upper triangle only (symmetric input)
    ii, jj = ii[keep], jj[keep]
    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj
    return np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)


def group_boxes(
    chars: CharArrays,
    lines: list[np.ndarray],
    line_margin: float,
) -> list[list[int]]:
    """Group text lines into boxes (LTTextBox grouping).

    pdfminer groups two lines into one box when they overlap
    horizontally and their vertical gap is below
    ``line_margin * line_height``. We build the adjacency with a
    numpy O(L²) broadcast (L = lines/page, small) and take connected
    components.

    Returns ``(groups, line_hulls)``: lists of line indices per box
    (unordered) and the per-line hulls (lx0, ly0, lx1, ly1) so callers
    don't recompute them per char.
    """
    L = len(lines)
    if L == 0:
        return [], None
    # r8: hulls via 4 reduceat calls over the concatenated members —
    # the per-line min()/max() list comprehensions were 4·L small
    # numpy reductions per page in the hot profile
    cat = np.concatenate(lines)
    starts = np.zeros(L, dtype=np.int64)
    np.cumsum(
        np.fromiter((len(l) for l in lines), dtype=np.int64, count=L)[:-1],
        out=starts[1:],
    )
    lx0 = np.minimum.reduceat(chars.x0[cat], starts)
    lx1 = np.maximum.reduceat(chars.x1[cat], starts)
    ly0 = np.minimum.reduceat(chars.y0[cat], starts)
    ly1 = np.maximum.reduceat(chars.y1[cat], starts)
    height = ly1 - ly0
    # pairwise: horizontal overlap AND vertical gap < line_margin * max(height)
    x_overlap = (lx0[:, None] < lx1[None, :]) & (lx1[:, None] > lx0[None, :])
    gap = np.maximum(
        ly0[:, None] - ly1[None, :], ly0[None, :] - ly1[:, None]
    )  # positive gap between vertically disjoint lines
    tol = line_margin * np.maximum(height[:, None], height[None, :])
    adjacent = x_overlap & (gap < tol)
    labels = _connected_components(adjacent)
    boxes: dict[int, list[int]] = {}
    for i, lab in enumerate(labels):
        boxes.setdefault(int(lab), []).append(i)
    return list(boxes.values()), (lx0, ly0, lx1, ly1)


def order_boxes_reading(boxes_meta: list[tuple[float, float, float, float]]) -> list[int]:
    """Reading order for boxes on one page (boxes_flow behavior).

    Column-aware: boxes whose x-intervals transitively overlap form a
    column; columns read left-to-right, boxes within a column
    top-to-bottom. On single-column pages this degenerates to plain
    top-down order, matching the reference's sort key
    ``(page, page_height - y0)`` (``process.py:202-207``); on
    multi-column fixtures it yields column-major order like
    pdfminer's boxes_flow.
    """
    B = len(boxes_meta)
    if B == 0:
        return []
    bx0 = np.array([b[0] for b in boxes_meta])
    bx1 = np.array([b[2] for b in boxes_meta])
    by1 = np.array([b[3] for b in boxes_meta])
    overlap = (bx0[:, None] < bx1[None, :]) & (bx1[:, None] > bx0[None, :])
    labels = _connected_components(overlap)
    col_minx = {}
    for i, lab in enumerate(labels):
        col_minx[lab] = min(col_minx.get(lab, np.inf), bx0[i])
    keys = [(col_minx[labels[i]], labels[i], -by1[i], bx0[i]) for i in range(B)]
    return sorted(range(B), key=lambda i: keys[i])


def build_boxes(
    chars: CharArrays,
    cfg: ExtractConfig,
    char_index_base: np.ndarray | None = None,
) -> list[Box]:
    """Full char→line→box assembly for ONE page's chars.

    ``char_index_base`` maps local char positions back to document-level
    char indices (for link scanning); defaults to identity.
    """
    if len(chars) == 0:
        return []
    if char_index_base is None:
        char_index_base = np.arange(len(chars), dtype=np.int64)
    heights = chars.y1 - chars.y0
    med_h = _median1d(heights) if len(heights) else 10.0
    y_tol = max(cfg.line_overlap * med_h, 1e-9)
    lines = group_lines(chars, y_tol, char_margin=cfg.char_margin)
    line_groups, hulls = group_boxes(chars, lines, cfg.line_margin)
    lx0, ly0, lx1, ly1 = hulls if hulls else (None, None, None, None)
    assembled = assemble_lines_bulk(chars, lines, cfg.word_margin)

    boxes: list[Box] = []
    metas: list[tuple[float, float, float, float]] = []
    for group in line_groups:
        # order lines inside the box top-to-bottom
        group_sorted = sorted(group, key=lambda li: -ly1[li])
        text_parts: list[str] = []
        all_idx: list[np.ndarray] = []
        all_off: list[np.ndarray] = []
        line_spans: list[tuple[int, int]] = []
        cursor = 0
        nchars = 0
        for k, li in enumerate(group_sorted):
            line = lines[li]
            ltext, loff = assembled[li]
            if k > 0:
                cursor += 1  # the "\n" separator (horizontal_box.py:197-200)
            text_parts.append(ltext)
            all_idx.append(char_index_base[line])
            all_off.append(loff + cursor)
            line_spans.append((nchars, nchars + len(line)))
            nchars += len(line)
            cursor += len(ltext)
        text = "\n".join(text_parts)
        idx = np.concatenate(all_idx)
        off = np.concatenate(all_off)
        member_chars = np.concatenate([lines[li] for li in group_sorted])
        x0 = float(min(lx0[li] for li in group))
        y0 = float(min(ly0[li] for li in group))
        x1 = float(max(lx1[li] for li in group))
        y1 = float(max(ly1[li] for li in group))
        boxes.append(
            Box(
                page=int(chars.page[0]),
                x0=x0, y0=y0, x1=x1, y1=y1,
                text=text,
                char_idx=idx,
                offsets=off,
                line_spans=line_spans,
                fontname=_uniform(chars.fontname[member_chars]),
                ncolor=_uniform(chars.ncolor[member_chars]),
            )
        )
        metas.append((x0, y0, x1, y1))

    order = order_boxes_reading(metas)
    return [boxes[i] for i in order]


def box_words_lines(
    chars: CharArrays, box: Box, word_margin: float
) -> tuple[list[dict], list[dict]]:
    """Word/line tree of an assembled box with uniform attr lift at
    EACH level (reference ``models/horizontal_box.py:50-147``): a word
    lifts ncolor/fontname iff identical across its chars, a line iff
    identical across its words, mirroring the Word/HorizontalLine
    constructors the reference's ``tests/test_word_colors.py`` asserts.

    Word boundaries re-use the assembly rule (gap > word_margin ×
    char width). Returns ``(words, lines)``; each word carries its
    0-based ``line`` index so the tree is recoverable downstream.
    """
    words: list[dict] = []
    lines: list[dict] = []
    for li, (a, b) in enumerate(box.line_spans):
        idx = box.char_idx[a:b]  # document-level indices, x-ordered
        n = len(idx)
        x0s = chars.x0[idx]
        x1s = chars.x1[idx]
        widths = x1s - x0s
        if n > 1:
            gaps = x0s[1:] - x1s[:-1]
            breaks = np.flatnonzero(gaps > word_margin * widths[1:]) + 1
            segs = np.split(np.arange(n), breaks)
        else:
            segs = [np.arange(n)]
        line_words: list[dict] = []
        for seg in segs:
            w_idx = idx[seg]
            rec = {
                "line": li,
                "text": "".join(chars.text[w_idx].tolist()),
                "x0": float(chars.x0[w_idx].min()),
                "y0": float(chars.y0[w_idx].min()),
                "x1": float(chars.x1[w_idx].max()),
                "y1": float(chars.y1[w_idx].max()),
                "fontname": _uniform(chars.fontname[w_idx]),
                "ncolor": _uniform(chars.ncolor[w_idx]),
            }
            line_words.append(rec)
            words.append(rec)
        lines.append(
            {
                "text": " ".join(w["text"] for w in line_words),
                "x0": min(w["x0"] for w in line_words),
                "y0": min(w["y0"] for w in line_words),
                "x1": max(w["x1"] for w in line_words),
                "y1": max(w["y1"] for w in line_words),
                "fontname": _uniform(w["fontname"] for w in line_words),
                "ncolor": _uniform(w["ncolor"] for w in line_words),
            }
        )
    return words, lines


def crop_mask(
    chars: CharArrays, page_w: float, page_h: float, cfg: ExtractConfig
) -> np.ndarray:
    """Static page-crop filter (F1): keep chars inside crop margins
    (``textbox.py:963-975``, ``parameters.py:131-136``)."""
    if not (cfg.crop_top or cfg.crop_right or cfg.crop_bottom or cfg.crop_left):
        return np.ones(len(chars), dtype=bool)
    return (
        (chars.y1 <= page_h - cfg.crop_top)
        & (chars.y0 >= cfg.crop_bottom)
        & (chars.x0 >= cfg.crop_left)
        & (chars.x1 <= page_w - cfg.crop_right)
    )


def is_noise(text: str) -> bool:
    """Empty/whitespace-textbox filter (F3, ``textbox.py:124-134``)."""
    return text.strip() == ""


def boxes_for_page(
    chars: CharArrays,
    page_no: int,
    page_w: float,
    page_h: float,
    cfg: ExtractConfig,
) -> list[Box]:
    """Assemble the noise-filtered, crop-filtered boxes of one page."""
    on_page = np.where(chars.page == page_no)[0]
    if len(on_page) == 0:
        return []
    sub = chars.take(on_page)
    keep = crop_mask(sub, page_w, page_h, cfg)
    on_page = on_page[keep]
    if len(on_page) == 0:
        return []
    sub = chars.take(on_page)
    boxes = build_boxes(sub, cfg, char_index_base=on_page)
    return [b for b in boxes if not is_noise(b.text)]
