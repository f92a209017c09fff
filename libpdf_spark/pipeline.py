"""The Spark extraction pipeline.

Lifecycle (SURVEY.md §3.4):

    spark.read(transcripts)                       -- Iceberg/parquet scan
      → select(conv_id, turn_idx, text, tool)     -- explicit column pruning
                                                     BEFORE the UDF (Catalyst
                                                     cannot see inside it)
      → salted repartition on conv_id             -- long-conversation skew
      → mapInPandas(extract_batch)                -- the whole turn-local DAG,
                                                     Arrow-batched, no
                                                     per-row Python driver code
      → write / orderBy(conv_id, turn_idx)        -- stable output ordering

Design notes for 100 TB:
* the UDF is the ONLY Python stage; everything before/after is
  whole-stage-codegen relational ops;
* Arrow batch size is capped (payloads can be MBs) via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — set by
  :func:`configure_session`;
* per-turn independence makes salting safe: any turn can be processed
  on any partition; output ordering is restored at write time;
* parse failures NEVER abort the job — they surface as
  ``parse_ok = false`` rows feeding the metrics table.

Task sizing. Every Python task pays a fixed PySpark worker cost,
whatever its bytes: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` per task, and every ``zipimporter``
on the worker's path (16 of them, ``pyspark.zip`` among them) then
re-reads its archive directory. Measured on a 4-core host (CPython
3.11.7, pyspark 4.1.2): that one call takes 165 ms in a worker, and an
identity ``mapInPandas`` over 64 trivial partitions costs 272 core-ms
more per task than over 4. The UDF runs on the scan splits, so
:func:`read_transcripts` sizes them by bytes, not by file count: it
sets ``spark.sql.files.openCostInBytes`` to
:data:`SCAN_OPEN_COST_BYTES`. Spark's split planner then uses
``min(maxPartitionBytes, max(openCost, total / defaultParallelism))``
as the split size, with each file counted as its bytes plus the open
cost, so

* a table smaller than ``defaultParallelism × maxPartitionBytes``
  becomes about one wave: at most ``defaultParallelism + 1`` splits
  (Spark packs files next-fit, largest first);
* a larger table keeps the caller's ``maxPartitionBytes`` splits, as
  before — no split ever exceeds it (a plain ``coalesce(cores)`` has
  no such bound, so it is not used);
* one split opens at most about ``maxPartitionBytes / 64 KB`` files
  (64 at 4 MB, 2,048 at Spark's 128 MB default), so a table of many
  tiny files cannot collapse into one task.

One wave was chosen over two by a same-session interleaved A/B of the
full ``read_transcripts → extract_turns → write_stable`` plan on the
perfbench ``extract_pdf_mix`` seed-5 input (22 files of ~150 KB, 7,791
turns; 4 cores, ``maxPartitionBytes = openCostInBytes = 4 MB`` before
the change), six rounds, median (quartiles): one task per file, 22
tasks, 3.90 s (3.68–4.41); 64 KB open cost, 5 tasks, 2.65 s
(2.60–2.89); the same plus ``minPartitionNum = 2 × cores``, 9 tasks,
3.28 s (2.88–3.52); open cost 0, the same 5-task plan as 64 KB, 2.86 s
(2.67–3.09), which shows the noise. A 32-core host, where one slow
task holds a whole wave, was not measured; the single wave is not
checked for stragglers there.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.payload import find_payload

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# output schemas (DDL strings keep this module importable without a JVM)
# ---------------------------------------------------------------------------

# word/line ncolor is a struct<r,g,b>, NOT array<double> like the
# element-level ncolor: an array here would nest three list levels
# (elements → words → ncolor), and this environment's pyarrow
# segfaults in toPandas when such a triple-nested list column is
# all-empty (reproduced+bisected; struct nesting is unaffected).
_WORD_DDL = (
    "array<struct<line:int,text:string,"
    "x0:double,y0:double,x1:double,y1:double,"
    "fontname:string,ncolor:struct<r:double,g:double,b:double>>>"
)
_LINE_DDL = (
    "array<struct<text:string,"
    "x0:double,y0:double,x1:double,y1:double,"
    "fontname:string,ncolor:struct<r:double,g:double,b:double>>>"
)
ELEMENT_DDL = (
    "array<struct<"
    "uid:string,kind:string,page:int,"
    "x0:double,y0:double,x1:double,y1:double,"
    "row:int,col:int,text:string,number:string,"
    "fontname:string,ncolor:array<double>,"
    "links:array<struct<idx_start:int,idx_stop:int,target:string>>,"
    # word/line tree (cfg.keep_words; empty arrays when disabled) —
    # uniform ncolor/fontname lift per level, horizontal_box.py:50-147
    f"words:{_WORD_DDL},"
    f"lines:{_LINE_DDL}"
    ">>"
)

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, doc_found boolean, parse_ok boolean, "
    "error string, extracted_text string, "
    f"elements {ELEMENT_DDL}, "
    "n_elements int, n_chars int, n_pages int, bytes_in bigint"
)


def make_extract_batch(cfg: ExtractConfig):
    """Build the ``mapInPandas`` function (cfg travels in the closure —
    the broadcast-config pattern replacing the reference's module
    globals, ``parameters.py:131``)."""

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "doc_found": [], "parse_ok": [],
                "error": [], "extracted_text": [], "elements": [],
                "n_elements": [], "n_chars": [], "n_pages": [], "bytes_in": [],
            }
            texts = pdf["text"].to_numpy()
            tools = pdf["tool"].to_numpy() if "tool" in pdf else [None] * len(pdf)
            convs = pdf["conv_id"].to_numpy()
            turns = pdf["turn_idx"].to_numpy()
            for i in range(len(pdf)):
                text = texts[i]
                tool = tools[i]
                bytes_in = (len(text) if isinstance(text, str) else 0) + (
                    len(tool) if isinstance(tool, str) else 0
                )
                doc = None
                err = None
                try:
                    doc = find_payload(
                        text if isinstance(text, str) else None,
                        cfg.pdf_password,
                    )
                    if doc is None:
                        doc = find_payload(
                            tool if isinstance(tool, str) else None,
                            cfg.pdf_password,
                        )
                except Exception as exc:  # noqa: BLE001 — per-turn isolation:
                    # one malformed document must record one turn's
                    # failure, never abort the whole Arrow batch/task
                    # (mirrors the extract stage below)
                    err = f"payload: {type(exc).__name__}: {exc}"
                result = None
                if doc is not None and err is None:
                    try:
                        result = extract_document(doc, cfg)
                    except Exception as exc:  # noqa: BLE001 — per-turn isolation
                        err = f"extract: {type(exc).__name__}: {exc}"
                out["conv_id"].append(convs[i])
                try:
                    out["turn_idx"].append(int(turns[i]))
                except (TypeError, ValueError):
                    # null turn_idx arrives as NaN through pandas — keep
                    # the row with a NULL key (the schema column is
                    # nullable) so multiple null-turn rows in one
                    # conversation stay distinguishable by payload
                    # instead of colliding on a sentinel.
                    out["turn_idx"].append(None)
                out["doc_found"].append(doc is not None or err is not None)
                out["parse_ok"].append(result is not None)
                out["error"].append(err)
                out["extracted_text"].append(
                    result.extracted_text if result else None
                )
                out["elements"].append(
                    [e.record() for e in result.elements] if result else []
                )
                out["n_elements"].append(len(result.elements) if result else 0)
                out["n_chars"].append(result.n_chars if result else 0)
                out["n_pages"].append(len(result.pages) if result else 0)
                out["bytes_in"].append(bytes_in)
            res = pd.DataFrame(out)
            # nullable Int32 so None survives Arrow conversion as NULL
            res["turn_idx"] = pd.array(out["turn_idx"], dtype="Int32")
            yield res

    return extract_batch


def salted_repartition(df: "DataFrame", cfg: ExtractConfig, num_partitions: int | None = None) -> "DataFrame":
    """Explicit salted repartitioning on conv_id (north_star verbatim).

    ``conv_id`` alone is a skew key (Zipf conversation lengths);
    hashing ``(conv_id, pmod(hash(turn_idx), SALT))`` spreads one hot
    conversation over ``salt_buckets`` partitions. Safe because each
    turn is independently extractable; ``(conv_id, turn_idx)`` ordering
    is restored at write time.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.hash("turn_idx"), F.lit(cfg.salt_buckets))
    key = F.concat_ws("#", F.col("conv_id"), salt.cast("string"))
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


def extract_turns(
    transcripts: "DataFrame",
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    salted: bool = True,
    salt_stage: str = "output",
) -> "DataFrame":
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    results, one row per input turn (the flagship pipeline).

    The ``tool`` column is optional: corpora that only carry ``text``
    (single-field exports) extract identically — the probe order is
    text first, tool second.

    ``salt_stage`` picks WHERE the explicit salted conv_id
    repartitioning sits relative to the UDF:

    * ``"output"`` (default): the UDF runs directly on the scan splits
      (splittable columnar input distributes raw bytes evenly BY
      CONSTRUCTION — parquet/Iceberg splits are byte ranges, not key
      ranges, so a 10⁶-turn conversation never lands on one task no
      matter how the table is clustered), and the salted exchange
      moves only the extracted output — measured 5.0× fewer
      zstd-compressed bytes on the wire (307 KB vs 62 KB for the same
      524-turn corpus; the raw payload carries ~44 B of packed
      coordinate buffer per glyph, the output ~2 B/char of text plus
      element structs, and the b64 coordinate data also compresses
      worse than prose). The salt still defuses conversation skew for
      everything downstream of the exchange (stable writes,
      per-conversation assembly).
    * ``"input"``: the classic shape — salt-repartition the raw turns,
      then extract. Needed when the input is NOT splittable (one huge
      row-group per file, or a row-per-conversation upstream layout)
      so the scan itself is skewed; it pays raw-payload shuffle for
      that immunity.

    Results are identical (each turn is independently extractable);
    only the exchange placement differs. Cost differs beyond the
    exchange when a sort follows, as in :func:`write_stable`: the
    sort's range-sampling job reads the child of its exchange, which
    under ``"input"`` is the Python stage itself, so that stage runs
    twice. Measured on the perfbench ``extract_pdf_mix`` seed-5 input
    (4 cores, ``read_transcripts`` → ``extract_turns`` →
    ``write_stable``): ``"input"`` evaluated 15,582 UDF rows for 7,791
    turns and took 13.1–14.5 s, against 7,791 rows and 2.75–2.95 s for
    ``"output"`` (three interleaved rounds); an earlier run with one
    task per input file took 16.3–17.6 s against 5.5–11.0 s. The
    default plan's once-per-turn evaluation is pinned by a test."""
    from pyspark.sql import functions as F

    if salt_stage not in ("input", "output"):
        raise ValueError(f"salt_stage must be 'input' or 'output', got {salt_stage!r}")
    cols = ["conv_id", "turn_idx", "text"]
    if "tool" in transcripts.columns:
        pruned = transcripts.select(*cols, "tool")
    else:
        pruned = transcripts.select(*cols, F.lit(None).cast("string").alias("tool"))
    # (page pruning happens inside the kernel via cfg.pages; turn-level
    # pruning — e.g. only tool turns carry documents — is the caller's)
    if salted and salt_stage == "input":
        part = salted_repartition(pruned, cfg, num_partitions)
        return part.mapInPandas(make_extract_batch(cfg), schema=EXTRACT_SCHEMA)
    out = pruned.mapInPandas(make_extract_batch(cfg), schema=EXTRACT_SCHEMA)
    if salted:
        out = salted_repartition(out, cfg, num_partitions)
    return out


def extraction_metrics(extracted: "DataFrame") -> "DataFrame":
    """Per-conversation-bucket extraction metrics (north_star: elements/
    turn, parse failures, bytes processed) — plain hash aggregation."""
    from pyspark.sql import functions as F

    return (
        extracted.groupBy(F.pmod(F.hash("conv_id"), F.lit(64)).alias("bucket"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.col("doc_found").cast("int")).alias("docs"),
            F.sum(F.col("parse_ok").cast("int")).alias("parsed"),
            F.sum(
                (F.col("doc_found").cast("int")) - (F.col("parse_ok").cast("int"))
            ).alias("parse_failures"),
            F.sum("n_elements").alias("elements"),
            F.sum("bytes_in").alias("bytes_in"),
            F.avg("n_elements").alias("elements_per_turn"),
        )
    )


def configure_session(builder, shuffle_partitions: int = 32, arrow_batch: int = 256):
    """Apply the engine's recommended session config (AQE, Arrow caps)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns explode(expensive_expr) into a
        # scan-level filter that re-evaluates the generator expression
        # per input row BEFORE any repartition — measured 10-60× wall
        # regression on the shingle/minhash pipeline. Excluding it is
        # the standard mitigation for expensive generators.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # zstd shuffle/broadcast compression: transcript payloads are
        # fat compressible text, and the shuffle's memory-bus traffic
        # is what caps the salted path at high core counts — measured
        # 1.5× over lz4 on the salted extraction at local[32]
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
    )


# Spark's "cost of opening a file, in bytes it could scan meanwhile"
# for the extraction scan; see "Task sizing" in the module docstring.
SCAN_OPEN_COST_BYTES = 64 * 1024


def read_transcripts(spark: "SparkSession", path: str, reader_batch: int = 512) -> "DataFrame":
    """Extraction-job transcript scan entrypoint.

    Transcript payloads are ~50-100 KB strings: the default 4096-row
    columnar reader batch allocates 0.5-1 GB on-heap per scan task and
    OOMs small JVMs (observed: kill-resume drill with a default 1g
    driver). 512 rows ≈ 25-50 MB per batch. The batch size is a session
    conf (no per-read parquet option exists for it), so it is set HERE,
    at the extraction entrypoint, rather than in
    :func:`configure_session` — narrow relational tables read in the
    same session keep the default-sized batches until an extraction
    scan runs.

    The scan also sizes its splits, and with them the Python tasks of
    the ``mapInPandas`` stage that runs on them, by bytes rather than
    by file count: it sets ``spark.sql.files.openCostInBytes`` to
    :data:`SCAN_OPEN_COST_BYTES` (Spark 4.1's ``FilePartition`` takes
    no per-read split option). See the module docstring for the rule
    and its measurements. Like the batch size, the setting stays on
    the session for later scans.
    """
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", str(reader_batch))
    spark.conf.set("spark.sql.files.openCostInBytes", str(SCAN_OPEN_COST_BYTES))
    return spark.read.parquet(path)


def write_stable(extracted: "DataFrame", path: str, fmt: str = "parquet") -> None:
    """S7 sink with stable (conv_id, turn_idx) ordering (north_rule)."""
    (
        extracted.orderBy("conv_id", "turn_idx")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )
