"""The workloads: inputs, one timed pass, and the output check.

Each workload is driven the same way by ``run.py``: ``load`` reads its
cached inputs, ``warm_up`` is the untimed first execution of a fresh
session, ``run_pass`` is one closed-loop unit of work (one Spark job at
a time from this driver), and ``check`` compares the program's output
with the generator's ground truth outside the timed region.
"""

from __future__ import annotations

import os
import time

# Sizes per scale. "full" is the benchmark; "tiny" is the smoke test.
SIZES = {
    "full": {
        "extract_pdf_mix": {"convs_per_chunk": 50, "chunks": 22},
        "query_suite": {"sf": 0.02},
    },
    "tiny": {
        "extract_pdf_mix": {"convs_per_chunk": 15, "chunks": 2},
        "query_suite": {"sf": 0.001},
    },
}


class PdfMix:
    """read → ``extract_turns`` (default config, salted output stage) →
    ``write_stable`` parquet sink; checked turn by turn against the
    md5 of the generator's expected text."""

    name = "extract_pdf_mix"

    def __init__(self, manifest: dict, work: str):
        self.dir = manifest["dir"]
        self.input = os.path.join(self.dir, "input")
        self.sink = os.path.join(work, "sink", self.name)
        self.turns = 0

    def load(self, spark) -> None:
        from libpdf_spark.pipeline import read_transcripts

        self.turns = read_transcripts(spark, self.input).count()

    def _extract(self, transcripts, sink: str) -> None:
        from libpdf_spark.config import ExtractConfig
        from libpdf_spark.pipeline import extract_turns, write_stable

        write_stable(extract_turns(transcripts, ExtractConfig()), sink)

    def warm_up(self, spark) -> None:
        """One untimed pass of the full plan over the whole input. After
        a warm-up on one input file per core, the first timed pass was
        slower than the second in every run, by 2-22%."""
        self.run_pass(spark)

    def run_pass(self, spark) -> None:
        from libpdf_spark.pipeline import read_transcripts

        self._extract(read_transcripts(spark, self.input), self.sink)

    def work_units(self) -> int:
        return self.turns

    def truth(self):
        import pandas as pd

        return pd.read_parquet(os.path.join(self.dir, "truth"))

    def input_info(self, spark) -> dict:
        from pyspark.sql import functions as F

        df = spark.read.parquet(self.input)
        row = df.select(
            F.count("*").alias("turns"),
            F.sum(
                F.coalesce(F.length("text"), F.lit(0))
                + F.coalesce(F.length("tool"), F.lit(0))
            ).alias("chars"),
        ).first()
        truth = self.truth()
        return {
            "turns": int(row["turns"]),
            "document_turns": int(len(truth)),
            "document_turns_by_kind": {
                k: int(v) for k, v in truth["kind"].value_counts().sort_index().items()
            },
            "payload_mb": round(int(row["chars"] or 0) / 1e6, 3),
            "input_files": len(
                [f for f in os.listdir(self.input) if f.endswith(".parquet")]
            ),
        }

    def check(self, spark, corrupt: int = 0) -> dict:
        """Read back the stable sink. A turn fails when its row is
        missing or duplicated, when a document turn has
        ``parse_ok=false`` or an ``extracted_text`` md5 other than the
        truth, or when a turn without a document reports one. An extra
        row (a key not in the input) also fails."""
        from pyspark.sql import functions as F

        got = (
            spark.read.parquet(self.sink)
            .select(
                "conv_id", "turn_idx", "doc_found", "parse_ok",
                F.md5("extracted_text").alias("got_md5"),
            )
            .toPandas()
        )
        keys = (
            spark.read.parquet(self.input).select("conv_id", "turn_idx").toPandas()
        )
        truth = self.truth()
        if corrupt:
            truth = truth.copy()
            truth.loc[truth.index[:corrupt], "md5"] = "0" * 32
        exp = keys.merge(truth, on=["conv_id", "turn_idx"], how="left")
        counts = got.groupby(["conv_id", "turn_idx"]).size().rename("n").reset_index()
        got = got.drop_duplicates(["conv_id", "turn_idx"]).merge(
            counts, on=["conv_id", "turn_idx"]
        )
        m = exp.merge(got, on=["conv_id", "turn_idx"], how="outer", indicator=True)
        is_doc = m["md5"].notna()
        bad = (
            (m["_merge"] != "both")
            | (m["n"] != 1)
            | (is_doc & ~m["parse_ok"].fillna(False).astype(bool))
            | (is_doc & (m["got_md5"] != m["md5"]))
            | (~is_doc & m["doc_found"].fillna(False).astype(bool))
        )
        return {
            "attempted": int(len(m)),
            "failed": int(bad.sum()),
            "missing_rows": int((m["_merge"] == "left_only").sum()),
            "extra_rows": int((m["_merge"] == "right_only").sum()),
            "text_mismatches": int((is_doc & (m["got_md5"] != m["md5"])).sum()),
        }


class QuerySuite:
    """The ``bench.HEADLINE`` queries back to back, noop sink; each
    query's result is compared once with its DuckDB ``oracle_sql()``."""

    name = "query_suite"

    def __init__(self, manifest: dict, work: str):
        from bench import HEADLINE

        import __spark_entry__ as entry

        self.tables = os.path.join(manifest["dir"], "tables")
        self.rows = manifest["rows"]
        self.names = list(HEADLINE)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict = {}
        self.errors: dict[str, str] = {}
        self.last_pass: dict[str, float] = {}

    def load(self, spark) -> None:
        for t in self.rows:
            spark.read.parquet(os.path.join(self.tables, f"{t}.parquet")).count()

    def warm_up(self, spark) -> None:
        """One pass that keeps every query's result for ``check``."""
        self.results, self.errors = {}, {}
        for name in self.names:
            try:
                self.results[name] = self.queries[name](spark, self.tables).toPandas()
            except Exception as exc:  # noqa: BLE001 — a raising query is a recorded failure
                self.errors[name] = f"{type(exc).__name__}: {exc}"
            spark.catalog.clearCache()

    def run_query(self, spark, name: str) -> None:
        self.queries[name](spark, self.tables).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()

    def run_pass(self, spark) -> None:
        self.last_pass = {}
        for name in self.names:
            if name in self.errors:
                continue
            t0 = time.perf_counter()
            self.run_query(spark, name)
            self.last_pass[name] = time.perf_counter() - t0

    def work_units(self) -> int:
        return int(sum(self.rows.values()))

    def input_info(self, spark) -> dict:
        size = sum(
            os.path.getsize(os.path.join(self.tables, f)) for f in os.listdir(self.tables)
        )
        return {
            "queries": len(self.names),
            "table_rows": self.rows,
            "input_rows": self.work_units(),
            "parquet_mb": round(size / 1e6, 3),
        }

    def check(self, spark, corrupt: int = 0) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            mismatched = []
            for i, name in enumerate(self.names):
                if name in self.errors:
                    continue
                expected = con.sql(self.oracles[name]).df()
                if i < corrupt:
                    expected = expected.iloc[1:]
                if not frames_equal(self.results[name], expected):
                    mismatched.append(name)
        finally:
            con.close()
        return {
            "attempted": len(self.names),
            "failed": len(mismatched) + len(self.errors),
            "mismatched": mismatched,
            "raised": self.errors,
        }


def frames_equal(got, expected) -> bool:
    """The comparison of ``tests/test_operators_oracle.py``: same columns
    and rows after its normalization, floats within 1e-9."""
    import numpy as np
    import pandas as pd

    from tests.test_operators_oracle import _normalize

    a, b = _normalize(got), _normalize(expected)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            x, y = a[c].to_numpy(), b[c].to_numpy()
            both = pd.isna(x) & pd.isna(y)
            if not np.isclose(x[~both], y[~both], rtol=0.0, atol=1e-9).all():
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


WORKLOADS = {w.name: w for w in (PdfMix, QuerySuite)}
