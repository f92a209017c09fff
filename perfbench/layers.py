"""Per-layer metrics for ``run.py --trace 1``.

Spans are taken from this package's own code, around calls into the
program's public functions; nothing inside ``libpdf_spark`` is
instrumented.

* Spark-side layers (``pipeline``, ``operators``) run in a fresh
  session with the Spark event log on. Each timed action carries a job
  description, so shuffle bytes, spill and task times in the log can
  be attributed to the step that caused them.
* Python-side layers (``payload``, ``pdfmini``, ``kernel``) are timed
  in this process, one call per document, on the workload's own input
  turns.

Metrics of a layer the workload does not run read 0.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench.inputs import PDF_VARIANTS

MB = 1e6

# kernel stage → the names ``kernel/document.py`` binds and calls
KERNEL_STAGES = {
    "layout": ("boxes_for_page",),
    "tables": ("detect_tables", "drop_tables_in_figures", "fill_cell_text"),
    "chapters": ("build_outline", "render_chapters"),
    "links": ("scan_box_links", "resolve_target_uid"),
    "figures_rects": (
        "filter_figures", "extract_rects", "attach_figure_text",
        "remove_boxes_in_elements",
    ),
}

PIPELINE_STEPS = ("scan", "arrow", "udf", "exchange", "sink")


def metric_units(operator_names: dict[str, str]) -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order.
    ``operator_names`` maps each headline query to its module."""
    units = {f"pipeline.{s}_s": "s" for s in PIPELINE_STEPS}
    units.update({
        "pipeline.shuffle_write_mb": "MB",
        "pipeline.spill_mb": "MB",
        "pipeline.udf_task_ms_p50": "ms",
        "pipeline.udf_task_ms_max": "ms",
        "pipeline.batch_overhead_ms_per_turn": "ms",
        "payload.json_ms_p50": "ms",
        "payload.json_ms_p99": "ms",
        "payload.miss_us_per_turn": "us",
        "payload.bytes_in_mb": "MB",
        "pdfmini.parse_ms_p50": "ms",
        "pdfmini.parse_ms_p99": "ms",
    })
    units.update({f"pdfmini.parse_ms.{v}": "ms" for v in PDF_VARIANTS})
    units.update({
        "kernel.extract_ms_p50": "ms",
        "kernel.extract_ms_p99": "ms",
    })
    units.update({f"kernel.{s}_ms": "ms" for s in KERNEL_STAGES})
    units.update({
        "kernel.self_ms": "ms",
        "kernel.chars_per_doc": "count",
        "kernel.elements_per_doc": "count",
    })
    units.update(
        {f"operators.{mod}.{q}_s": "s" for q, mod in operator_names.items()}
    )
    units.update({
        "operators.shuffle_write_mb": "MB",
        "operators.spill_mb": "MB",
        "trace.overhead_pct": "%",
    })
    return units


def operator_modules(names) -> dict[str, str]:
    """Headline query → the ``libpdf_spark.operators`` module defining it."""
    from libpdf_spark import operators

    owner = {}
    for mod in operators._MODULES:
        for q in mod.QUERIES:
            owner.setdefault(q, mod.__name__.rsplit(".", 1)[-1])
    return {q: owner[q] for q in names}


def tail(values, pct: float = 99.0) -> tuple[float, float]:
    """The ``pct`` percentile, or the highest percentile that still has
    at least ten samples beyond it; returns ``(value, percentile)``."""
    n = len(values)
    if n == 0:
        return 0.0, pct
    usable = 100.0 * (1.0 - 10.0 / n) if n > 10 else 50.0
    p = min(pct, usable)
    return float(np.percentile(values, p)), p


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description: summed shuffle write and spill bytes, and
    every task's executor run time (ms)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = [
        os.path.join(d, name)
        for d, _, names in os.walk(log_dir)
        for name in sorted(names)
        if name.startswith(("events_", "local-"))
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    acc = out.setdefault(
                        desc, {"shuffle_write": 0, "spill": 0, "task_ms": []}
                    )
                    acc["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill"] += tm.get("Disk Bytes Spilled", 0)
                    acc["task_ms"].append(tm.get("Executor Run Time", 0))
    return out


def _events_for(events: dict, prefix: str) -> dict:
    acc = {"shuffle_write": 0, "spill": 0, "task_ms": []}
    for desc, e in events.items():
        if desc and desc.startswith(prefix):
            acc["shuffle_write"] += e["shuffle_write"]
            acc["spill"] += e["spill"]
            acc["task_ms"] += e["task_ms"]
    return acc


# ---------------------------------------------------------------------------
# pipeline: five plans, each one step longer
# ---------------------------------------------------------------------------


def _identity(batches):
    yield from batches


def _pipeline_plans(spark, wl):
    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.pipeline import extract_turns, read_transcripts, write_stable

    cfg = ExtractConfig()

    def pruned():
        return read_transcripts(spark, wl.input).select(
            "conv_id", "turn_idx", "text", "tool"
        )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    return {
        "scan": lambda: noop(pruned()),
        "arrow": lambda: noop(
            pruned().mapInPandas(_identity, schema=pruned().schema)
        ),
        "udf": lambda: noop(extract_turns(pruned(), cfg, salted=False)),
        "exchange": lambda: noop(extract_turns(pruned(), cfg)),
        "sink": lambda: write_stable(extract_turns(pruned(), cfg), wl.sink),
    }


def _timed(spark, desc: str, fn) -> float:
    spark.sparkContext.setJobDescription(desc)
    try:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0
    finally:
        spark.sparkContext.setJobDescription(None)


def spark_extraction(spark, wl, rounds: int) -> tuple[dict, dict, list]:
    """Cumulative plan times, rounds interleaved; the last plan is the
    full pass the end-to-end run times."""
    plans = _pipeline_plans(spark, wl)
    times = {s: [] for s in PIPELINE_STEPS}
    for r in range(rounds):
        for step, fn in plans.items():
            times[step].append(_timed(spark, f"pipeline.{step}.{r}", fn))
    med = {s: statistics.median(v) for s, v in times.items()}
    steps, prev = {}, 0.0
    for s in PIPELINE_STEPS:
        steps[f"pipeline.{s}_s"] = max(0.0, med[s] - prev)
        prev = med[s]
    return steps, med, times["sink"]


# ---------------------------------------------------------------------------
# payload / pdfmini / kernel, in process
# ---------------------------------------------------------------------------


class KernelStageTimer:
    """Wraps the stage functions bound in ``kernel.document`` with
    timers for the duration of a ``with`` block."""

    def __init__(self):
        import libpdf_spark.kernel.document as document

        self.module = document
        self.total = {s: 0.0 for s in KERNEL_STAGES}
        self.saved = {}

    def _wrap(self, stage, fn):
        total = self.total

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                total[stage] += time.perf_counter() - t0

        return timed

    def __enter__(self):
        for stage, names in KERNEL_STAGES.items():
            for name in names:
                fn = getattr(self.module, name)
                self.saved[name] = fn
                setattr(self.module, name, self._wrap(stage, fn))
        return self

    def __exit__(self, *exc):
        for name, fn in self.saved.items():
            setattr(self.module, name, fn)


def _segment(text: str, open_: str, close: str) -> str:
    start = text.index(open_) + len(open_)
    return text[start : text.index(close, start)]


def python_layers(wl, batch_rows: int = 256, batch_sample: int = 4) -> tuple[dict, dict]:
    """One call per turn into ``find_payload``, ``parse_pdf`` and
    ``extract_document``, plus ``make_extract_batch`` on a few batches."""
    import pandas as pd

    from libpdf_spark import pdfmini
    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.kernel.document import extract_document
    from libpdf_spark.payload import DOC_OPEN, PDF_CLOSE, PDF_OPEN, find_payload
    from libpdf_spark.pipeline import make_extract_batch

    cfg = ExtractConfig()
    turns = pd.read_parquet(wl.input, columns=["conv_id", "turn_idx", "text", "tool"])
    kinds = wl.truth().set_index(["conv_id", "turn_idx"])["kind"].to_dict()
    json_ms, miss_us, kernel_ms, chars, elements = [], [], [], [], []
    pdf_ms: dict[str, list[float]] = {v: [] for v in PDF_VARIANTS}
    timer = KernelStageTimer()
    with timer:
        for conv, turn, text, tool in turns.itertuples(index=False):
            kind = kinds.get((conv, int(turn)))
            if kind is None:
                t0 = time.perf_counter()
                find_payload(text)
                find_payload(tool)
                miss_us.append((time.perf_counter() - t0) * 1e6)
                continue
            if kind == "json":
                t0 = time.perf_counter()
                doc = find_payload(text if DOC_OPEN in text else tool)
                json_ms.append((time.perf_counter() - t0) * 1e3)
            else:
                raw = base64.b64decode(_segment(text, PDF_OPEN, PDF_CLOSE))
                t0 = time.perf_counter()
                doc = pdfmini.parse_pdf(raw, password=cfg.pdf_password)
                pdf_ms[kind.split(".", 1)[1]].append((time.perf_counter() - t0) * 1e3)
            t0 = time.perf_counter()
            result = extract_document(doc, cfg)
            kernel_ms.append((time.perf_counter() - t0) * 1e3)
            chars.append(result.n_chars)
            elements.append(len(result.elements))

    # make_extract_batch minus its payload+kernel calls = row assembly
    extract_batch = make_extract_batch(cfg)
    overhead_s, overhead_turns = 0.0, 0
    for b in range(min(batch_sample, max(1, len(turns) // batch_rows))):
        pdf = turns.iloc[b * batch_rows : (b + 1) * batch_rows].reset_index(drop=True)
        t0 = time.perf_counter()
        for _ in extract_batch(iter([pdf])):
            pass
        whole = time.perf_counter() - t0
        t0 = time.perf_counter()
        for text, tool in zip(pdf["text"], pdf["tool"]):
            doc = find_payload(text, cfg.pdf_password) or find_payload(
                tool, cfg.pdf_password
            )
            if doc is not None:
                extract_document(doc, cfg)
        overhead_s += whole - (time.perf_counter() - t0)
        overhead_turns += len(pdf)

    all_pdf = [x for v in pdf_ms.values() for x in v]
    n_docs = len(kernel_ms)
    stage_ms = {s: 1e3 * t / n_docs if n_docs else 0.0 for s, t in timer.total.items()}
    p99 = {}
    m = {
        "pipeline.batch_overhead_ms_per_turn": 1e3 * overhead_s / max(1, overhead_turns),
        "payload.json_ms_p50": _median(json_ms),
        "payload.miss_us_per_turn": _mean(miss_us),
        "payload.bytes_in_mb": float(
            turns["text"].fillna("").str.len().sum() + turns["tool"].fillna("").str.len().sum()
        ) / MB,
        "pdfmini.parse_ms_p50": _median(all_pdf),
        "kernel.extract_ms_p50": _median(kernel_ms),
        "kernel.chars_per_doc": _mean(chars),
        "kernel.elements_per_doc": _mean(elements),
    }
    for name, vals in (
        ("payload.json_ms_p99", json_ms),
        ("pdfmini.parse_ms_p99", all_pdf),
        ("kernel.extract_ms_p99", kernel_ms),
    ):
        m[name], p99[name] = tail(vals)
    m.update({f"pdfmini.parse_ms.{v}": _median(x) for v, x in pdf_ms.items()})
    m.update({f"kernel.{s}_ms": t for s, t in stage_ms.items()})
    m["kernel.self_ms"] = max(0.0, _mean(kernel_ms) - sum(stage_ms.values()))
    info = {
        "samples": {
            "payload.json": len(json_ms),
            "payload.miss": len(miss_us),
            "pdfmini.parse": len(all_pdf),
            **{f"pdfmini.parse.{v}": len(x) for v, x in pdf_ms.items()},
            "kernel.extract": n_docs,
            "pipeline.batch_overhead_turns": overhead_turns,
        },
        "tail_percentile_used": p99,
    }
    return m, info


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def measure(spark, wl, work: str, cpus: int, untraced_wall_s: float, passes: int):
    """Returns ``(session, metrics, info)``; ``metrics`` maps every
    per-layer name to ``(value, unit)``. The session handed in is
    replaced by a traced one, which is returned for shutdown."""
    from perfbench import host

    from bench import HEADLINE

    units = metric_units(operator_modules(HEADLINE))
    values = {k: 0.0 for k in units}
    info: dict = {"passes": passes}

    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark.stop()
    spark = host.make_session(work, cpus, event_log=log_dir)
    wl.load(spark)
    wl.warm_up(spark)
    if wl.name == "query_suite":
        owner = operator_modules(HEADLINE)
        per_query = {q: [] for q in wl.names}
        walls = []
        for r in range(passes):
            t0 = time.perf_counter()
            for q in wl.names:
                if q in wl.errors:
                    continue
                per_query[q].append(
                    _timed(spark, f"operators.{q}.{r}", lambda q=q: wl.run_query(spark, q))
                )
            walls.append(time.perf_counter() - t0)
        traced_wall = statistics.median(walls)
        for q, ts in per_query.items():
            values[f"operators.{owner[q]}.{q}_s"] = _median(ts)
        spark.stop()
        ev = _events_for(read_event_log(log_dir), "operators.")
        values["operators.shuffle_write_mb"] = ev["shuffle_write"] / MB / passes
        values["operators.spill_mb"] = ev["spill"] / MB / passes
        info["samples"] = {"operators.per_query": passes}
    else:
        steps, cumulative, full = spark_extraction(spark, wl, passes)
        traced_wall = statistics.median(full)
        values.update(steps)
        spark.stop()
        events = read_event_log(log_dir)
        sink = _events_for(events, "pipeline.sink.")
        udf_tasks = _events_for(events, "pipeline.udf.")["task_ms"]
        values["pipeline.shuffle_write_mb"] = sink["shuffle_write"] / MB / passes
        values["pipeline.spill_mb"] = sink["spill"] / MB / passes
        values["pipeline.udf_task_ms_p50"] = _median(udf_tasks)
        values["pipeline.udf_task_ms_max"] = float(max(udf_tasks, default=0))
        py, py_info = python_layers(wl)
        values.update(py)
        info.update(py_info)
        info["samples"]["pipeline.plan_rounds"] = passes
        info["samples"]["pipeline.udf_tasks"] = len(udf_tasks)
        info["pipeline_cumulative_s"] = cumulative
        info["pipeline_steps_over_full_plan"] = (
            sum(steps.values()) / traced_wall if traced_wall else None
        )
    values["trace.overhead_pct"] = 100.0 * (traced_wall - untraced_wall_s) / untraced_wall_s
    info["traced_wall_s"] = traced_wall
    return spark, {k: (values[k], u) for k, u in units.items()}, info
