"""Equivalence pins for the r8 layout-kernel micro-optimizations.

Each rewrite below replaced a slower exact form; these tests pin the
bit-level equivalence argument so a future refactor cannot silently
change grouping or medians:

* ``_median1d`` vs ``np.median`` (partition selection, even-count
  mean, NaN propagation);
* ``_connected_components`` (union-find, min-member root) vs the
  min-label propagation it replaced — the label VALUE is load-bearing
  (``order_boxes_reading`` sort tie-break);
* vectorized ``group_lines`` (one stable lexsort + global
  char_margin cut) vs the per-line reference loop.
"""
from __future__ import annotations

import warnings

import numpy as np

from libpdf_spark.kernel.layout import (
    _connected_components,
    _median1d,
    group_lines,
)


def _old_cc(adjacent: np.ndarray) -> np.ndarray:
    n = adjacent.shape[0]
    adj = adjacent | np.eye(n, dtype=bool)
    labels = np.arange(n)
    while True:
        neigh = np.where(adj, labels[None, :], n)
        new = neigh.min(axis=1)
        if np.array_equal(new, labels):
            return labels
        labels = new


class _Page:
    """Minimal CharArrays stand-in (group_lines touches x0/x1/y0/y1)."""

    def __init__(self, x0, x1, y0, y1):
        self.x0, self.x1, self.y0, self.y1 = x0, x1, y0, y1

    def __len__(self):
        return len(self.x0)


def _old_group_lines(chars, y_tolerance, char_margin=None):
    n = len(chars)
    if n == 0:
        return []
    yc = (chars.y0 + chars.y1) * 0.5
    order = np.argsort(-yc, kind="stable")
    yc_sorted = yc[order]
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
    lines = []
    for members in np.split(order, np.flatnonzero(breaks[1:]) + 1):
        members = members[np.argsort(chars.x0[members], kind="stable")]
        if char_margin is None or len(members) < 2:
            lines.append(members)
            continue
        widths = chars.x1[members] - chars.x0[members]
        hgaps = chars.x0[members][1:] - chars.x1[members][:-1]
        split_after = hgaps > char_margin * widths[1:]
        if not split_after.any():
            lines.append(members)
            continue
        lines.extend(np.split(members, np.flatnonzero(split_after) + 1))
    return lines


def test_median1d_matches_np_median():
    rng = np.random.default_rng(7)
    for trial in range(3000):
        n = int(rng.integers(1, 50))
        a = rng.normal(10.0, 3.0, n)
        if trial % 5 == 0:
            a[rng.integers(0, n)] = np.nan
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ref = float(np.median(a))
        got = _median1d(a.copy())
        assert ref == got or (np.isnan(ref) and np.isnan(got)), (n, ref, got)


def test_median1d_tiny_and_even():
    assert _median1d(np.array([4.0])) == 4.0
    assert _median1d(np.array([1.0, 2.0])) == 1.5
    assert _median1d(np.array([3.0, 1.0, 2.0])) == 2.0


def test_connected_components_matches_min_label_propagation():
    rng = np.random.default_rng(11)
    for _ in range(800):
        n = int(rng.integers(1, 35))
        m = rng.random((n, n)) < rng.random() * 0.35
        m = m | m.T
        np.fill_diagonal(m, False)
        assert np.array_equal(_old_cc(m), _connected_components(m))


def test_group_lines_matches_per_line_reference():
    rng = np.random.default_rng(13)
    for trial in range(300):
        nlines = int(rng.integers(1, 30))
        perline = int(rng.integers(1, 40))
        n = nlines * perline
        y0 = np.repeat(700 - 12.0 * np.arange(nlines), perline)
        y0 = y0 + rng.normal(0, 0.4, n)
        x0 = np.tile(50 + 6.0 * np.arange(perline), nlines)
        x0 = x0 + rng.normal(0, 0.2, n)
        # duplicate x0 values exercise the stable-tie path
        if trial % 3 == 0:
            x0 = np.round(x0, 0)
        page = _Page(x0, x0 + rng.uniform(3, 7, n), y0, y0 + 10.0)
        margin = None if trial % 4 == 0 else float(rng.uniform(0.5, 6.0))
        a = _old_group_lines(page, 5.0, margin)
        b = group_lines(page, 5.0, margin)
        assert len(a) == len(b)
        for x, y in zip(a, b):
            assert np.array_equal(x, y)


def test_assemble_lines_bulk_view_fast_path_and_empty_slot_fallback():
    """The <U1 page-string view must render identically to the list
    path, and an empty slot ('' — numpy NUL padding) must take the
    fallback and render '' exactly as before."""
    from libpdf_spark.kernel.layout import assemble_lines_bulk

    n, nlines = 48, 4
    per = n // nlines

    class P:
        def __init__(self, text):
            self.x0 = np.tile(50 + 6.0 * np.arange(per), nlines)
            # a wide gap before char 3 of each line -> one word space
            self.x0[3::per] += 30.0
            self.x1 = self.x0 + 5.5
            self.y0 = np.repeat(700 - 12.0 * np.arange(nlines), per)
            self.y1 = self.y0 + 10.0
            self.text = text

        def __len__(self):
            return len(self.x0)

    lines = [np.arange(i * per, (i + 1) * per) for i in range(nlines)]
    glyphs = list("abcdefghijkl" * (n // 12))

    u1 = assemble_lines_bulk(P(np.array(glyphs, dtype="<U1")), lines, 0.1)
    obj = assemble_lines_bulk(P(np.array(glyphs, dtype=object)), lines, 0.1)
    assert [t for t, _ in u1] == [t for t, _ in obj]
    assert all(np.array_equal(a, b) for (_, a), (_, b) in zip(u1, obj))
    assert " " in u1[0][0]  # the word gap rendered

    # empty slot: both dtypes must agree (fallback path) and keep ''
    glyphs2 = list(glyphs)
    glyphs2[5] = ""
    u1e = assemble_lines_bulk(P(np.array(glyphs2, dtype="<U1")), lines, 0.1)
    obje = assemble_lines_bulk(P(np.array(glyphs2, dtype=object)), lines, 0.1)
    assert [t for t, _ in u1e] == [t for t, _ in obje]
    assert len(u1e[0][0]) == len(u1[0][0]) - 1

    # big-endian UTF-32 slots: the little-endian view would misread
    # every code point, so they take the list path and render the same
    be = assemble_lines_bulk(P(np.array(glyphs, dtype=">U1")), lines, 0.1)
    assert [t for t, _ in be] == [t for t, _ in u1]
    assert all(np.array_equal(a, b) for (_, a), (_, b) in zip(be, u1))
