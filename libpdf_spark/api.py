"""Reference-compatible API facade: ``libpdf_spark.load(...)``.

Mirrors the reference's library entry point (``core.py:171-262``
``main_api``, exposed as ``libpdf.load``) and its :class:`ApiObjects`
return shape (``apiobjects.py:19-90``): a ``root`` plus ``flattened``
per-kind views — so a user of the reference can switch imports and
keep their call sites. Two tiers:

* :func:`load` — ONE document (PDF bytes/path, payload dict/JSON, or a
  transcript-turn string): runs the extraction kernel locally, no
  JVM needed; ``flattened.chapters/paragraphs/tables/cells/figures/
  rects`` are lists of elements.
* :func:`load_corpus` — a transcripts DataFrame or parquet path: runs
  the distributed pipeline; ``flattened(kind)`` returns a per-kind
  exploded DataFrame view.

Accepted kwargs match the reference's names (page_range, page_crop =
(top, right, bottom, left), smart_page_crop, no_*, save_figures,
figure_dir, visual_debug…); ``verbose``/``init_logging`` configure
stdlib logging. S8/S9 are served by :mod:`libpdf_spark.render`.
"""

from __future__ import annotations

import logging
import os
from typing import NamedTuple

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.document import DocElement, DocResult, extract_document

LOG = logging.getLogger("libpdf_spark")

_VERBOSITY = {0: logging.ERROR, 1: logging.WARNING, 2: logging.INFO, 3: logging.DEBUG}


class Flattened(NamedTuple):
    """Per-kind element views (reference ``apiobjects.py:75-90``, plus
    ``cells`` which the reference nests under tables)."""

    chapters: list[DocElement]
    paragraphs: list[DocElement]
    tables: list[DocElement]
    cells: list[DocElement]
    figures: list[DocElement]
    rects: list[DocElement]


class ApiObjects:
    """Extraction result container (reference ``apiobjects.py:19-72``).

    :ivar root: the :class:`DocResult` (meta/pages/elements/text) —
        the reference's ``root`` model tree analog.
    :ivar flattened: :class:`Flattened` per-kind lists.
    :ivar payload: the parsed layout payload dict (the reference
        exposes its pdfminer/pdfplumber handles here; the payload dict
        is this engine's equivalent raw surface).
    """

    def __init__(self, root: DocResult, payload: dict):
        self.root = root
        self.payload = payload
        by_kind: dict[str, list[DocElement]] = {}
        for el in root.elements:
            by_kind.setdefault(el.kind, []).append(el)
        self.flattened = Flattened(
            chapters=by_kind.get("chapter", []),
            paragraphs=by_kind.get("paragraph", []),
            tables=by_kind.get("table", []),
            cells=by_kind.get("cell", []),
            figures=by_kind.get("figure", []),
            rects=by_kind.get("rect", []),
        )


def parse_page_range(page_range: str | None) -> tuple[int, ...]:
    """'3-5,7' → (3, 4, 5, 7) (X1, reference ``core.py:536-553``)."""
    if not page_range:
        return ()
    pages: list[int] = []
    for part in str(page_range).replace(" ", "").split(","):
        if not part:
            continue
        if "-" in part:
            lo, hi = part.split("-", 1)
            if not lo.isdigit() or not hi.isdigit() or int(lo) > int(hi):
                raise ValueError(f"bad page range part: {part!r}")
            pages.extend(range(int(lo), int(hi) + 1))
        elif part.isdigit():
            pages.append(int(part))
        else:
            raise ValueError(f"bad page range part: {part!r}")
    return tuple(sorted(set(pages)))


def config_from_kwargs(
    page_range: str | None = None,
    page_crop=None,
    smart_page_crop: bool = False,
    no_annotations: bool = False,
    no_chapters: bool = False,
    no_paragraphs: bool = False,
    no_tables: bool = False,
    no_figures: bool = False,
    no_rects: bool = False,
    keep_words: bool = False,
    **overrides,
) -> ExtractConfig:
    """Reference kwargs → :class:`ExtractConfig`. ``page_crop`` is
    (top, right, bottom, left) like the reference CLI (``core.py:52``);
    extra keyword overrides map 1:1 onto config fields."""
    crop = tuple(page_crop) if page_crop else (0.0, 0.0, 0.0, 0.0)
    if len(crop) != 4:
        raise ValueError("page_crop must be (top, right, bottom, left)")
    return ExtractConfig(
        pages=parse_page_range(page_range),
        crop_top=float(crop[0]),
        crop_right=float(crop[1]),
        crop_bottom=float(crop[2]),
        crop_left=float(crop[3]),
        smart_page_crop=smart_page_crop,
        no_annotations=no_annotations,
        no_chapters=no_chapters,
        no_paragraphs=no_paragraphs,
        no_tables=no_tables,
        no_figures=no_figures,
        no_rects=no_rects,
        keep_words=keep_words,
        **overrides,
    )


def _payload_from_source(pdf, password: str = "") -> dict:
    """PDF bytes | path (.pdf / payload .json) | payload dict |
    transcript-turn string → layout payload dict."""
    from libpdf_spark import pdfmini
    from libpdf_spark.payload import EMPTY_DOC, decode, find_payload

    if isinstance(pdf, dict):
        out = dict(EMPTY_DOC)
        out.update(pdf)
        return out
    if isinstance(pdf, (bytes, bytearray)):
        return pdfmini.parse_pdf(bytes(pdf), password=password)
    if isinstance(pdf, str):
        if os.path.exists(pdf):
            with open(pdf, "rb") as fh:
                head = fh.read(5)
            if head.startswith(b"%PDF-"):
                with open(pdf, "rb") as fh:
                    return pdfmini.parse_pdf(fh.read(), password=password)
            with open(pdf, encoding="utf-8") as fh:
                text = fh.read()
            doc = find_payload(text)
            return doc if doc is not None else decode(text)
        doc = find_payload(pdf)  # a transcript-turn string
        if doc is not None:
            return doc
        raise ValueError(f"no such file and no embedded payload: {pdf[:80]!r}")
    raise TypeError(f"unsupported pdf source type: {type(pdf).__name__}")


def load(
    pdf,
    verbose: int = 1,
    page_range: str | None = None,
    page_crop=None,
    smart_page_crop: bool = False,
    save_figures: bool = False,
    figure_dir: str = "figures",
    no_annotations: bool = False,
    no_chapters: bool = False,
    no_paragraphs: bool = False,
    no_tables: bool = False,
    no_figures: bool = False,
    no_rects: bool = False,
    init_logging: bool = True,
    visual_debug: bool = False,
    visual_debug_output_dir: str = "visual_debug_libpdf",
    visual_split_elements: bool = False,
    visual_debug_include_elements: list[str] | None = None,
    visual_debug_exclude_elements: list[str] | None = None,
    keep_words: bool = False,
    pdf_password: str = "",
) -> ApiObjects:
    """Library entry point — reference ``libpdf.load`` parity
    (``core.py:171-262``), same kwarg surface, local execution, plus
    ``pdf_password`` for encrypted documents (tried as user then
    owner; the reference inherits pdfminer's password plumbing)."""
    if init_logging:
        logging.basicConfig(level=_VERBOSITY.get(verbose, logging.WARNING))
        LOG.setLevel(_VERBOSITY.get(verbose, logging.WARNING))
    cfg = config_from_kwargs(
        page_range=page_range,
        page_crop=page_crop,
        smart_page_crop=smart_page_crop,
        no_annotations=no_annotations,
        no_chapters=no_chapters,
        no_paragraphs=no_paragraphs,
        no_tables=no_tables,
        no_figures=no_figures,
        no_rects=no_rects,
        keep_words=keep_words,
    )
    doc = _payload_from_source(pdf, pdf_password)
    result = extract_document(doc, cfg)
    objects = ApiObjects(result, doc)
    if save_figures:
        from libpdf_spark import render

        paths = render.save_figures(doc, result, figure_dir)
        LOG.info("saved %d figure PNGs to %s", len(paths), figure_dir)
    if visual_debug:
        from libpdf_spark import render

        render.visual_debug(
            doc,
            result,
            output_dir=visual_debug_output_dir,
            include_elements=visual_debug_include_elements,
            exclude_elements=visual_debug_exclude_elements,
            split_elements=visual_split_elements,
        )
    return objects


class CorpusObjects:
    """Distributed analog of :class:`ApiObjects`: ``extracted`` is the
    full extraction DataFrame; :meth:`flattened` explodes one element
    kind into a flat per-element DataFrame view."""

    def __init__(self, extracted, cfg: ExtractConfig):
        self.extracted = extracted
        self.cfg = cfg

    def flattened(self, kind: str):
        from pyspark.sql import functions as F

        e = self.extracted.select(
            "conv_id", "turn_idx", F.explode("elements").alias("e")
        )
        return e.filter(F.col("e.kind") == kind).select(
            "conv_id", "turn_idx", "e.*"
        )


def load_corpus(
    spark,
    transcripts,
    num_partitions: int | None = None,
    verbose: int = 1,
    init_logging: bool = False,
    **kwargs,
) -> CorpusObjects:
    """Corpus tier: ``transcripts`` is a DataFrame or a parquet path;
    same kwargs as :func:`load` (minus the local-only sinks —
    ``verbose``/``init_logging`` are accepted and configure logging)."""
    from libpdf_spark.pipeline import extract_turns, read_transcripts

    if init_logging:
        logging.basicConfig(level=_VERBOSITY.get(verbose, logging.WARNING))
        LOG.setLevel(_VERBOSITY.get(verbose, logging.WARNING))
    cfg = config_from_kwargs(**kwargs)
    if isinstance(transcripts, str):
        transcripts = read_transcripts(spark, transcripts)
    extracted = extract_turns(transcripts, cfg, num_partitions=num_partitions)
    return CorpusObjects(extracted, cfg)
