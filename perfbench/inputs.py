"""Seeded workload inputs with a cache keyed by what produced them.

Every input is a pure function of (workload, seed, size) and of the
generator code. The cache key hashes all three, so a changed size or a
changed generator (this package's generators, ``libpdf_spark.fixtures``,
the payload writer, the PDF writer) never silently reuses an old corpus.

Layout of one cache entry ``<work>/cache/<workload>-s<seed>-<key>/``:

* ``tables/<name>.parquet`` — the star-schema tables (``tables.py``);
* ``input/`` — the transcript turns the extraction workload reads;
* ``truth/`` — ``(conv_id, turn_idx, kind, md5)`` per document turn:
  the md5 of the generator's expected text and the payload kind
  (``json`` or ``pdf.<variant>``);
* ``MANIFEST.json`` — written last; an entry without it is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The serialization variants of ``fixtures.gen_transcripts``, in the
# order of its ``pdf_kw`` tuple (``fixtures._pdf_variant`` indexes it).
PDF_VARIANTS = (
    "plain", "flate", "rc4", "aes128", "cid_identity",
    "aes256", "cid_ucs2", "cid_rksj", "cid_embedded", "form_aes_cid",
)

GENERATOR_FILES = (
    os.path.join(HERE, "tables.py"),
    os.path.join(HERE, "inputs.py"),
    os.path.join(ROOT, "libpdf_spark", "fixtures.py"),
    os.path.join(ROOT, "libpdf_spark", "payload.py"),
    os.path.join(ROOT, "libpdf_spark", "pdfmini.py"),
)

KEEP_ENTRIES = 24  # older cache entries are deleted


def generator_digest() -> str:
    h = hashlib.sha256()
    for path in GENERATOR_FILES:
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cache_key(workload: str, seed: int, size: dict) -> str:
    blob = json.dumps(
        {"workload": workload, "seed": seed, "size": size,
         "generator": generator_digest()},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def md5_text(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _pdf_mix_chunk(entry: str, chunk: int, convs: int, seed: int):
    """Write one ``gen_transcripts`` call as one input file; return its
    truth rows (expected-text md5 and payload kind per document turn)."""
    import pandas as pd

    from libpdf_spark.fixtures import _pdf_variant, gen_transcripts
    from libpdf_spark.payload import DOC_OPEN, PDF_OPEN

    turns, exp, _ = gen_transcripts(n_convs=convs, seed=seed * 1000 + chunk)
    turns["ts"] = turns["ts"].astype("datetime64[us]")
    turns.to_parquet(
        os.path.join(entry, "input", f"part-{chunk:05d}.parquet"), index=False
    )
    md5 = {
        (c, int(t)): md5_text(x)
        for c, t, x in zip(exp.conv_id, exp.turn_idx, exp.extracted_text)
    }
    rows, pdf_seq = [], 0
    for c, t, text in zip(turns.conv_id, turns.turn_idx, turns.text):
        if PDF_OPEN in text:
            kind = "pdf." + PDF_VARIANTS[_pdf_variant(pdf_seq)]
            pdf_seq += 1
        elif DOC_OPEN in text:
            kind = "json"
        else:
            continue
        rows.append((c, int(t), kind, md5[(c, int(t))]))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "kind", "md5"])


def _build_tables(entry: str, size: dict, seed: int, procs: int) -> dict:
    from perfbench.tables import write_tables

    return {"rows": write_tables(os.path.join(entry, "tables"), size["sf"], seed)}


def _build_extract_pdf_mix(entry: str, size: dict, seed: int, procs: int) -> dict:
    """One ``gen_transcripts`` chunk per input file, ``procs`` at a time."""
    import multiprocessing

    import pandas as pd

    os.makedirs(os.path.join(entry, "input"))
    os.makedirs(os.path.join(entry, "truth"))
    jobs = [(entry, c, size["convs_per_chunk"], seed) for c in range(size["chunks"])]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        truth = pool.starmap(_pdf_mix_chunk, jobs)
        pool.close()
        pool.join()
    truth = pd.concat(truth, ignore_index=True)
    truth["turn_idx"] = truth["turn_idx"].astype("int32")
    truth.to_parquet(os.path.join(entry, "truth", "truth.parquet"), index=False)
    return {}


BUILDERS = {
    "extract_pdf_mix": _build_extract_pdf_mix,
    "query_suite": _build_tables,
}


def ensure_inputs(work: str, workload: str, seed: int, size: dict, procs: int) -> dict:
    """Return the manifest of the cache entry for these inputs, building
    it first when it is missing. ``manifest["built_s"]`` is the time the
    build took now (0.0 on a cache hit)."""
    root = os.path.join(work, "cache")
    os.makedirs(root, exist_ok=True)
    entry = os.path.join(root, f"{workload}-s{seed}-{cache_key(workload, seed, size)}")
    manifest_path = os.path.join(entry, "MANIFEST.json")
    if os.path.exists(manifest_path):
        os.utime(entry)
        with open(manifest_path) as f:
            manifest = json.load(f)
        manifest.update(dir=entry, built_s=0.0)
        return manifest
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    t0 = time.perf_counter()
    info = BUILDERS[workload](entry, size, seed, procs)
    manifest = {
        "workload": workload, "seed": seed, "size": size,
        "generator_digest": generator_digest(), **info,
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    manifest.update(dir=entry, built_s=time.perf_counter() - t0)
    _evict(root)
    return manifest


def _evict(root: str) -> None:
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)
