"""CLI — ``python -m libpdf_spark <source> [options]``.

Argparse analog of the reference's click CLI (``core.py:374-533``):
same flag names, ``--output-format json|jsonl|yaml|stdout`` (the
reference offers json/yaml/stdout via ruamel; ``yaml`` here uses the
stdlib-only :mod:`libpdf_spark.yamlmini` emitter with the reference's
sequence=4/offset=2 block layout; jsonl is the corpus-native line
format on top), S8/S9 sinks behind the same flags.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="libpdf_spark",
        description="Extract structured elements from a PDF byte-stream "
        "or layout payload (reference CLI parity, core.py:374-533).",
    )
    ap.add_argument("source", help="PDF file, payload JSON file, or turn text file")
    ap.add_argument("-v", "--verbose", action="count", default=1)
    ap.add_argument("-p", "--page-range", default=None, help="e.g. 3-5,7")
    ap.add_argument(
        "--page-crop", nargs=4, type=float, default=None,
        metavar=("TOP", "RIGHT", "BOTTOM", "LEFT"),
    )
    ap.add_argument("--smart-page-crop", action="store_true")
    ap.add_argument("-of", "--output-format", default="stdout",
                    choices=["json", "jsonl", "yaml", "stdout"])
    ap.add_argument("-o", "--output-path", default=None)
    ap.add_argument("--save-figures", action="store_true")
    ap.add_argument("--figure-dir", default="figures")
    ap.add_argument("--no-annotations", action="store_true")
    ap.add_argument("--no-chapters", action="store_true")
    ap.add_argument("--no-paragraphs", action="store_true")
    ap.add_argument("--no-tables", action="store_true")
    ap.add_argument("--no-figures", action="store_true")
    ap.add_argument("--no-rects", action="store_true")
    ap.add_argument("-vd", "--visual-debug", action="store_true")
    ap.add_argument("--visual-debug-output-dir", default="visual_debug_libpdf")
    ap.add_argument("--visual-split-elements", action="store_true")
    ap.add_argument("--visual-debug-include-elements", nargs="*", default=None)
    ap.add_argument("--visual-debug-exclude-elements", nargs="*", default=None)
    ap.add_argument(
        "--keep-words", action="store_true",
        help="retain the word/line tree (per-level ncolor/fontname lift)",
    )
    ap.add_argument(
        "--password", default="",
        help="document password for encrypted PDFs (user or owner)",
    )
    args = ap.parse_args(argv)

    from libpdf_spark.api import load

    objects = load(
        args.source,
        verbose=args.verbose,
        page_range=args.page_range,
        page_crop=args.page_crop,
        smart_page_crop=args.smart_page_crop,
        save_figures=args.save_figures,
        figure_dir=args.figure_dir,
        no_annotations=args.no_annotations,
        no_chapters=args.no_chapters,
        no_paragraphs=args.no_paragraphs,
        no_tables=args.no_tables,
        no_figures=args.no_figures,
        no_rects=args.no_rects,
        visual_debug=args.visual_debug,
        visual_debug_output_dir=args.visual_debug_output_dir,
        visual_split_elements=args.visual_split_elements,
        visual_debug_include_elements=args.visual_debug_include_elements,
        visual_debug_exclude_elements=args.visual_debug_exclude_elements,
        keep_words=args.keep_words,
        pdf_password=args.password,
    )
    root = objects.root
    payload = {
        "meta": root.meta,
        "pages": root.pages,
        "n_elements": len(root.elements),
        "extracted_text": root.extracted_text,
        # the pipeline's element records minus empty fields; text
        # always stays, and so does a 0 (cell row/col)
        "elements": [
            {k: v for k, v in e.record().items() if k == "text" or v or v == 0}
            for e in root.elements
        ],
    }
    if args.output_format == "stdout":
        print(f"pages: {len(root.pages)}  elements: {len(root.elements)}")
        for el in root.elements:
            head = el.text.splitlines()[0][:60] if el.text else ""
            print(f"  {el.uid:<40} p{el.page} {head}")
        return 0
    out = sys.stdout if not args.output_path else open(args.output_path, "w")
    try:
        if args.output_format == "json":
            json.dump(payload, out, indent=2, ensure_ascii=False)
            out.write("\n")
        elif args.output_format == "yaml":
            from libpdf_spark.yamlmini import FoldedStr, dump as yaml_dump

            # reference parity: table CELL text serializes as a YAML
            # folded scalar (tables.py:40,193 FoldedStr); other text
            # keeps the literal-block style
            for e in payload["elements"]:
                if e["kind"] == "cell" and e.get("text"):
                    e["text"] = FoldedStr(e["text"])
            out.write(yaml_dump(payload))
        else:  # jsonl: one element per line (corpus-native)
            for e in payload["elements"]:
                out.write(json.dumps(e, ensure_ascii=False) + "\n")
    finally:
        if out is not sys.stdout:
            out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
