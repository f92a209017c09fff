"""Serialized layout-markup payload codec.

A document-bearing transcript turn embeds ONE document as a compact
JSON envelope between sentinels inside its ``text`` (or ``tool``)
field. The envelope carries the same information pdfminer feeds the
reference (chars with geometry/font/color + catalog), per
``FIXTURES.md §2``:

    doc = {
      "meta":    {author,title,subject,creator,producer,keywords,
                  creation_date,mod_date,trapped},
      "pages":   [{"number","width","height"}],
      "chars":   [{"page","text","x0","y0","x1","y1","fontname","ncolor"}],
      "figures": [{"page","x0","y0","x1","y1"}],
      "rects":   [{"page","x0","y0","x1","y1","non_stroking_color"}],
      "lines":   [{"page","x0","y0","x1","y1"}],            # ruled edges
      "outline": [{"title","level","dest":{"page","x","y"}}],
      "annos":   [{"page","rect":[x0,y0,x1,y1],
                   "dest_name" | "dest":{"page","x","y"}}],
      "dests":   {name: {"page","x","y"}},
    }

Coordinates are PDF-standard: origin bottom-left, points
(reference ``models/position.py:25-52``).

``chars`` comes in three encodings: rows (the list above), v1 columnar
(:func:`to_columnar_chars`) and v2 packed (:func:`to_packed_chars`,
what :func:`encode` writes whenever every glyph is one character).
:func:`decode_chars` is the one decoder for all three; the kernel, the
PDF writer and the renderer all read chars through it.

The envelope is decoded by stdlib :func:`json.loads` on every host.
One policy holds for strings: a lone UTF-16 surrogate (U+D800–U+DFFF
not part of a pair) anywhere in a document is refused. :func:`encode`
raises ``ValueError`` rather than write one, and :func:`find_payload`
raises ``ValueError`` on an envelope that carries one, so the turn
becomes a recorded ``payload:`` failure instead of a string that no
UTF-8 sink (Arrow, the CLI's files) can hold.
"""

from __future__ import annotations

import base64
import json
import re
from typing import Any

import numpy as np

DOC_OPEN = "<<<LIBPDF_DOC>>>"
DOC_CLOSE = "<<<END_LIBPDF_DOC>>>"
PDF_OPEN = "<<<LIBPDF_PDF_B64>>>"
PDF_CLOSE = "<<<END_LIBPDF_PDF_B64>>>"

EMPTY_DOC: dict[str, Any] = {
    "meta": {},
    "pages": [],
    "chars": [],
    "figures": [],
    "rects": [],
    "lines": [],
    "outline": [],
    "annos": [],
    "dests": {},
}


def to_columnar_chars(chars: list[dict]) -> dict:
    """Row-wise char records → columnar encoding.

    The row encoding costs ~120 JSON bytes per char (key repetition);
    columnar cuts payload size and parse time ~6×, which directly
    reduces Arrow transfer + memory bandwidth in the hot path.
    :func:`decode_chars` reads this and the other two encodings.
    """
    return {
        "page": [c["page"] for c in chars],
        "text": [c["text"] for c in chars],
        "x0": [c["x0"] for c in chars],
        "y0": [c["y0"] for c in chars],
        "x1": [c["x1"] for c in chars],
        "y1": [c["y1"] for c in chars],
        "fontname": [c.get("fontname") for c in chars],
        "ncolor": [list(c["ncolor"]) if c.get("ncolor") else None for c in chars],
    }


def _rle(values: list) -> list:
    out: list[list] = []
    for v in values:
        if out and out[-1][0] == v:
            out[-1][1] += 1
        else:
            out.append([v, 1])
    return out


def to_packed_chars(cols: dict) -> dict | None:
    """Columnar chars → PACKED encoding (``"v": 2``): the hot decode
    path. stdlib-json float parsing was 33 % of per-doc kernel time;
    packed coordinates are base64 little-endian float64 buffers
    (``np.frombuffer`` on read — exact, zero parse), glyphs concatenate
    into one string, page numbers are a base64 int32 buffer, and
    fontname/ncolor are run-length encoded (near-uniform in practice).

    Returns ``None`` when the chars don't fit the packed contract
    (any multi-char glyph) — the caller keeps the v1 columnar form.
    """
    texts = cols["text"]
    if any(len(t) != 1 for t in texts):
        return None
    n = len(texts)

    def fpack(key: str) -> str:
        return base64.b64encode(
            np.asarray(cols[key], dtype="<f8").tobytes()
        ).decode("ascii")

    return {
        "v": 2,
        "n": n,
        "page": base64.b64encode(
            np.asarray(cols["page"], dtype="<i4").tobytes()
        ).decode("ascii"),
        "text": "".join(texts),
        "x0": fpack("x0"), "y0": fpack("y0"),
        "x1": fpack("x1"), "y1": fpack("y1"),
        "fontname_rle": _rle(list(cols.get("fontname") or [None] * n)),
        "ncolor_rle": _rle(
            [list(c) if c else None for c in (cols.get("ncolor") or [None] * n)]
        ),
    }


def _object_array(items: list) -> np.ndarray:
    """1-D object array even when items are equal-length tuples
    (plain ``np.array`` would broadcast those to 2-D)."""
    arr = np.empty(len(items), dtype=object)
    for i, it in enumerate(items):
        arr[i] = it
    return arr


def _unpack(packed: dict) -> dict[str, np.ndarray]:
    """PACKED (``"v": 2``) chars → arrays, straight from the buffers:
    ``text`` is a ``<U1`` array viewed from the UTF-32 encoding (no
    per-char Python list), ``fontname``/``ncolor`` are object arrays
    filled per RLE RUN (one broadcast per run instead of one Python
    object per char; ncolor values arrive as tuples)."""
    n = int(packed["n"])
    text = packed["text"]
    if len(text) != n:
        raise ValueError("corrupt packed chars: text length mismatch")

    def funpack(key: str) -> np.ndarray:
        arr = np.frombuffer(base64.b64decode(packed[key]), dtype="<f8")
        if len(arr) != n:
            raise ValueError(f"corrupt packed chars: {key} length mismatch")
        return arr

    pages = np.frombuffer(base64.b64decode(packed["page"]), dtype="<i4")
    if len(pages) != n:
        raise ValueError("corrupt packed chars: page length mismatch")

    def rle_obj(rle: list, conv=None) -> np.ndarray:
        arr = np.empty(n, dtype=object)
        ov = np.empty(1, dtype=object)  # object "scalar" for slice fill
        pos = 0
        for v, k in rle:
            k = int(k)
            if v is not None:
                ov[0] = conv(v) if conv else v
                arr[pos : pos + k] = ov
            pos += k
        if pos != n:
            raise ValueError("corrupt RLE char attribute")
        return arr

    return {
        "page": pages,
        "text": np.frombuffer(text.encode("utf-32-le"), dtype="<U1"),
        "x0": funpack("x0"), "y0": funpack("y0"),
        "x1": funpack("x1"), "y1": funpack("y1"),
        "fontname": rle_obj(packed.get("fontname_rle") or [[None, n]]),
        "ncolor": rle_obj(packed.get("ncolor_rle") or [[None, n]], conv=tuple),
    }


def decode_chars(chars) -> dict[str, np.ndarray]:
    """Any ``chars`` encoding (rows, v1 columnar, v2 packed, or
    ``None``) → one array per attribute: ``page`` int32, ``x0``..``y1``
    float64, ``text``/``fontname``/``ncolor`` (tuple or ``None``) as
    object arrays — except v2 ``text``, a ``<U1`` array. Callers that
    want Python values take ``.tolist()`` of each column."""
    if not isinstance(chars, dict):
        chars = to_columnar_chars(chars or [])
    if chars.get("v") == 2:
        return _unpack(chars)
    n = len(chars["page"])
    return {
        "page": np.asarray(chars["page"], dtype=np.int32),
        "text": np.asarray(chars["text"], dtype=object),
        "x0": np.asarray(chars["x0"], dtype=np.float64),
        "y0": np.asarray(chars["y0"], dtype=np.float64),
        "x1": np.asarray(chars["x1"], dtype=np.float64),
        "y1": np.asarray(chars["y1"], dtype=np.float64),
        "fontname": np.asarray(chars.get("fontname") or [None] * n, dtype=object),
        "ncolor": _object_array(
            [tuple(c) if c else None for c in (chars.get("ncolor") or [None] * n)]
        ),
    }


# a JSON escape that may encode a surrogate; only a body with one (or
# with any non-ASCII char — the ensure_ascii writer never emits those)
# is walked for LONE surrogates. Pairs are legal: the writer escapes
# every astral char as one. A literal-prefix pattern keeps the scan
# ~20x cheaper than also matching raw surrogates in the same regex.
_SURROGATE_ESCAPE = re.compile(r"\\u[dD][89a-fA-F]")
_SURROGATE = re.compile(r"[\ud800-\udfff]")


def _has_lone_surrogate(obj) -> bool:
    if isinstance(obj, str):
        return _SURROGATE.search(obj) is not None
    if isinstance(obj, dict):
        return any(
            _has_lone_surrogate(k) or _has_lone_surrogate(v) for k, v in obj.items()
        )
    if isinstance(obj, (list, tuple)):
        return any(map(_has_lone_surrogate, obj))
    return False


def _check_surrogates(body: str, doc) -> None:
    """Raise ``ValueError`` if ``doc`` (decoded from or encoded to the
    JSON text ``body``) holds a lone surrogate — the one string policy
    shared by writer and reader."""
    maybe = not body.isascii() or _SURROGATE_ESCAPE.search(body)
    if maybe and _has_lone_surrogate(doc):
        raise ValueError("lone UTF-16 surrogate in layout payload")


def encode(doc: dict) -> str:
    """Compact-serialize a layout document for embedding in a turn.

    Row chars are written v2 packed — ~7× faster to decode than JSON
    float arrays — or v1 columnar when any glyph is more than one
    character. Raises ``ValueError`` on a lone surrogate (see the
    module docstring)."""
    chars = doc.get("chars")
    if isinstance(chars, list) and chars:
        doc = dict(doc)
        doc["chars"] = to_columnar_chars(chars)
        chars = doc["chars"]
    if isinstance(chars, dict) and "v" not in chars and chars.get("text"):
        p = to_packed_chars(chars)
        if p is not None:
            doc = dict(doc)
            doc["chars"] = p
    body = json.dumps(doc, separators=(",", ":"), sort_keys=True)
    _check_surrogates(body, doc)
    return body


def decode(body: str) -> dict:
    """Parse one JSON layout document (the envelope body, or a bare
    payload file) into a full payload dict. Raises ``ValueError`` on
    bad JSON, a non-object document or a lone surrogate."""
    doc = json.loads(body)
    if not isinstance(doc, dict):
        raise ValueError("layout payload is not an object")
    _check_surrogates(body, doc)
    out = dict(EMPTY_DOC)
    out.update(doc)
    return out


def embed(doc: dict, prefix: str = "", suffix: str = "") -> str:
    """Wrap a serialized document in sentinels inside surrounding chatter."""
    return f"{prefix}{DOC_OPEN}{encode(doc)}{DOC_CLOSE}{suffix}"


def embed_pdf(pdf_bytes: bytes, prefix: str = "", suffix: str = "") -> str:
    """Wrap real PDF byte-stream content (base64) inside a turn."""
    b64 = base64.b64encode(pdf_bytes).decode("ascii")
    return f"{prefix}{PDF_OPEN}{b64}{PDF_CLOSE}{suffix}"


def find_payload(text: str | None, pdf_password: str = "") -> dict | None:
    """Extract + parse the embedded document from a turn field.

    Two embeddings are recognized: the JSON layout-markup envelope and
    a base64 PDF byte-stream (parsed by :mod:`libpdf_spark.pdfmini`
    into the same payload dict — one kernel for both). Returns
    ``None`` when the field carries no document. Raises ``ValueError``
    on a corrupt envelope (counted as a parse failure in the metrics
    table, never a job abort).
    """
    if not text:
        return None
    start = text.find(DOC_OPEN)
    if start >= 0:
        stop = text.find(DOC_CLOSE, start)
        if stop < 0:
            raise ValueError("unterminated layout payload")
        return decode(text[start + len(DOC_OPEN) : stop])
    start = text.find(PDF_OPEN)
    if start >= 0:
        from libpdf_spark import pdfmini

        stop = text.find(PDF_CLOSE, start)
        if stop < 0:
            raise ValueError("unterminated PDF payload")
        try:
            raw = base64.b64decode(text[start + len(PDF_OPEN) : stop])
        except Exception as exc:  # noqa: BLE001 — normalized to ValueError
            raise ValueError(f"bad base64 PDF payload: {exc}") from exc
        return pdfmini.parse_pdf(raw, password=pdf_password)
    return None
