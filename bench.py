#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default 32) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "turns_per_sec": ...}

``--scaling`` mode: runs the extraction job at local[8] and local[32]
on identical input and reports throughput at both plus scaling
efficiency — the sandbox proxy for the N vs 4N executor criterion
(BASELINE.json; no real cluster available here). Results are also
written to BENCH/BASELINE.md by ``--scaling --write-md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# corpus + shuffle on tmpfs: the VM's virtio disk reads at ~15 MB/s with
# high variance (cold read of the 1.5 GB corpus: 110 s vs 20 s cached) —
# we benchmark the engine, not this disk
WORK = "/dev/shm/libpdf_spark_bench"

HEADLINE = [
    "pricing_summary",
    "nation_revenue",
    "text_assembly",
    "top1_per_group",
    "run_segmentation",
    "dedup_exact",
    "dedup_minhash_lsh",
    "cosine_topk",
    "simhash",
    "token_count",
    "pack_bins",
    "sessionize",
]


def _kernel_burn(n_docs: int) -> int:
    """Run the REAL extraction kernel (json parse + numpy grouping) on
    deterministic synthetic payloads — the hardware-capacity probe uses
    the actual workload, so frequency boost AND memory-bandwidth
    sharing are both captured."""
    import json

    from libpdf_spark.config import DEFAULT_CONFIG
    from libpdf_spark.fixtures import LOREM, doc_from_text
    from libpdf_spark.kernel.document import extract_document
    from libpdf_spark.payload import encode

    text = " ".join(LOREM * 10)
    payload = encode(doc_from_text(text).build())
    for _ in range(n_docs):
        extract_document(json.loads(payload), DEFAULT_CONFIG)
    return n_docs


PROBES: list[dict] = []


def record_probe(tag: str, n_docs: int = 50) -> None:
    """Drift sentinel (VERDICT r5 ask #1): a ~150 ms single-thread run
    of the REAL extraction kernel, appended to the emitted JSON with a
    wall-clock timestamp. Identical fixed work every time, so the
    docs/sec series is a direct record of host-CPU conditions ACROSS
    the bench session — when a round's query trials degrade while the
    bracketing probes also degrade, the artifact itself proves host
    drift rather than an engine regression (BENCH_r05 was uniformly
    1.25-1.8× slower than r04 across code-untouched queries and the
    JSON couldn't show why)."""
    if not PROBES:
        _kernel_burn(10)  # untimed: imports + JIT, not host conditions
    t0 = time.perf_counter()
    _kernel_burn(n_docs)
    dt = time.perf_counter() - t0
    PROBES.append(
        {
            "tag": tag,
            "ts": round(time.time(), 2),
            "docs_per_sec": round(n_docs / dt, 1),
        }
    )


def probe_summary() -> dict:
    rates = [p["docs_per_sec"] for p in PROBES]
    return {
        "what": (
            "single-thread real-kernel docs/sec at fixed work; "
            "spread >~1.3 across tags = host drift during this session"
        ),
        "probes": PROBES,
        "spread": round(max(rates) / min(rates), 3) if rates else None,
    }


def cpu_capacity(procs: int) -> float:
    """Measured hardware capacity of this process's pinned core set,
    in kernel-docs/s, using the real extraction kernel under plain
    multiprocessing (no Spark). This is the ceiling ANY engine could
    reach here: it captures frequency boost at low core counts and
    shared memory bandwidth at high counts — a real 4N-executor
    cluster is 4× machines and has neither coupling. The ratio
    (Spark speedup) / (kernel-multiprocessing speedup) isolates what
    the ENGINE loses to coordination/shuffle/Arrow."""
    import multiprocessing as mp

    per_proc = 150
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        with mp.Pool(procs) as pool:
            pool.map(_kernel_burn, [per_proc] * procs)
        best = max(best, procs * per_proc / (time.time() - t0))
    return best


def _bus_burn(n_copies: int) -> int:
    """Stream a 64 MB buffer back and forth — pure memory-bus traffic,
    no compute, the plain-process analogue of local shuffle I/O."""
    import numpy as np

    buf = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)
    out = np.empty_like(buf)
    for _ in range(n_copies):
        np.copyto(out, buf)
        np.copyto(buf, out)
    return n_copies


def bus_capacity(procs: int) -> float:
    """Measured aggregate memory-bus copy bandwidth (GB/s) of this
    process's pinned core set under plain multiprocessing — the
    SHUFFLE analogue of :func:`cpu_capacity`. A single-box "cluster"
    routes every shuffled byte through one shared memory bus, so the
    8→32-core bus-capacity ratio (typically ≈1, the bus is already
    saturated at 8 streams) is the hardware ceiling for the
    shuffle-bound fraction of any job — whereas a real 4N-executor
    cluster is 4× machines whose aggregate shuffle bandwidth scales
    with node count. Folding this into the normalization (Amdahl
    decomposition in the parent) makes the salted path's one-box
    ceiling a MEASURED quantity instead of an assertion."""
    import multiprocessing as mp

    per_proc = 8  # × 256 MB traffic per iteration = 2 GB per worker
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        with mp.Pool(procs) as pool:
            pool.map(_bus_burn, [per_proc] * procs)
        gb = procs * per_proc * 0.25  # 2 copies × 128 MB traffic each
        best = max(best, gb / (time.time() - t0))
    return best


def make_session(cpus: int):
    from pyspark.sql import SparkSession

    from libpdf_spark.pipeline import configure_session

    shm = "/dev/shm/libpdf_spark_spark_local"
    os.makedirs(shm, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"libpdf_spark-bench-{cpus}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # one split per file for plain scans of the ~1.4MB corpus files;
        # the extraction scans go through pipeline.read_transcripts,
        # which lowers openCostInBytes to 64KB, so there the files pack
        # by bytes into splits of at most maxPartitionBytes
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        # shuffle files on tmpfs: this VM's virtio disk has high,
        # VARIABLE iowait (3× run-to-run noise) — a real cluster node
        # has local SSDs; we benchmark compute scaling, not this disk
        .config("spark.local.dir", shm)
        # executors need the repo on their path when launched elsewhere
        .config("spark.executorEnv.PYTHONPATH", REPO)
    )
    spark = configure_session(
        builder, shuffle_partitions=max(cpus, 8), arrow_batch=256
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize_transcripts(
    spark, path: str, replicate: int = 1, text_repeat: int = 1
) -> int:
    """Deterministic corpus: every sf document wrapped into a
    document-bearing turn + the synthetic fixture-family corpus.
    Written once to parquet so timed runs measure scan→extract."""
    from pyspark.sql import functions as F

    from libpdf_spark.fixtures import gen_transcripts
    from libpdf_spark.operators.extraction import transcripts_from_documents

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path).count()
    docs_part = transcripts_from_documents(
        spark, SF_DIR, replicate=replicate, text_repeat=text_repeat
    )
    fix_pdf, _, _ = gen_transcripts(n_convs=100, seed=42)
    fix_part = spark.createDataFrame(fix_pdf)
    # Files pack by bytes into the extraction scan's splits (see
    # pipeline.read_transcripts; at most maxPartitionBytes = 4MB each),
    # so the file count caps the extraction stage's parallelism. The
    # sizing below predates that packing, when one corpus FILE was one
    # UDF task; it is kept so the corpus stays the same (measured r4
    # A/B on the 5,731-turn headline corpus at local[32]:
    # 96 × ~73 KB files = 96 trivial tasks dominated by per-task
    # Arrow/worker overhead, 1.254 s; 32 packed splits, 0.749 s — the
    # whole BENCH_r03 extract_turns regression):
    # * floor: one file per core of the largest level (32) — a single
    #   wave that fills the machine;
    # * grow with corpus size (~300 turns/file ≈ >= 1 MB parquet) up
    #   to 96 (3 straggler-smoothing waves at 32c, 12 at 8c) — the r3
    #   measured optimum for the 30,731-turn scaling corpus.
    n_turns_est = docs_part.count() + fix_part.count()
    n_files = min(96, max(32, -(-n_turns_est // 300)))
    corpus = docs_part.unionByName(fix_part).repartition(n_files)
    corpus.write.mode("overwrite").option(
        "parquet.block.size", str(8 * 1024 * 1024)
    ).parquet(path)
    return spark.read.parquet(path).count()


def run_extraction(spark, in_path: str, mode: str = "salted") -> tuple[float, int]:
    """Timed: read parquet → extraction plan per ``mode`` →
    noop-equivalent action (count of non-null results forces full
    materialization of every column we compute).

    * ``salted`` — the default pipeline plan (north-star config): UDF
      on the scan splits, then the explicit salted conv_id
      repartition of the extracted output (5× fewer shuffle bytes
      than shuffling raw payloads; see ``pipeline.extract_turns``).
    * ``salted_input`` — the legacy shape: salt-repartition the RAW
      turns, then extract. Kept for A/B: it moves every payload byte
      through the one-box memory bus, which is what the bus-capacity
      probe quantifies.
    * ``unsalted`` — shuffle-free scan→UDF: pure compute scaling
      (legitimate for splittable columnar input with independent
      turns; the salt buys skew immunity downstream, not speed)."""
    from pyspark.sql import functions as F

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.pipeline import extract_turns, read_transcripts

    df = read_transcripts(spark, in_path)
    t0 = time.time()
    # 3 partitions per core: straggler smoothing for the UDF stage
    # (1 wave of cores-sized tasks leaves the tail idle — measured +36%)
    out = extract_turns(
        df,
        ExtractConfig(),
        num_partitions=3 * spark.sparkContext.defaultParallelism
        if mode != "unsalted"
        else None,
        salted=mode != "unsalted",
        salt_stage="input" if mode == "salted_input" else "output",
    )
    # force full computation incl. elements array
    n = (
        out.select(
            F.count("*").alias("n"),
            F.sum(F.col("n_elements")).alias("e"),
            F.sum(F.length(F.coalesce("extracted_text", F.lit("")))).alias("b"),
        ).collect()
    )[0]["n"]
    return time.time() - t0, n


def bench_queries(spark, trials: int = 4) -> tuple[dict[str, float], dict[str, list]]:
    """Steady-state timing: first execution pays JIT/codegen + parquet
    footer warm-up (measured 7× inflation) — one untimed warm-up run,
    then ``trials`` timed runs per query, INTERLEAVED round-robin
    across queries so minute-scale host drift (measured 3× swings on
    identical plans) decorrelates from query identity. Reported time
    is the per-query min (steady-state capability); all trials ship in
    the JSON so a regression can be told apart from a noisy draw."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    all_trials: dict[str, list] = {name: [] for name in HEADLINE}
    for name in HEADLINE:  # warm-up pass (untimed)
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        # drop intra-query persist() results — timed runs must pay the
        # full recompute, not replay a warm cache
        spark.catalog.clearCache()
    for r in range(trials):
        record_probe(f"queries_round{r}")
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            all_trials[name].append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
    record_probe("queries_end")
    times = {name: min(ts) for name, ts in all_trials.items()}
    return times, all_trials


SF1_QUERIES = [
    "pricing_summary",
    "nation_revenue",
    "top1_per_group",
    # VERDICT r6 ask #4: the two most expensive non-relational queries
    # get the 10× point too — dedup_minhash_lsh over 10× documents
    # (exact-replica corpus: every doc gains 9 byte-identical copies,
    # so LSH band buckets are 10× DENSER — a strictly harder workload
    # than independent growth, exercising the window-min-per-bucket
    # path) and sessionize over 10× events (user_id offset per
    # replica: 10× users, per-user session structure preserved, so
    # the one-exchange plan should scale near-linearly).
    "dedup_minhash_lsh",
    "sessionize",
]


def materialize_sf1(spark) -> tuple[str, int]:
    """sf≈1 scale point (VERDICT r5 ask #6): the sf0.1 FACT tables
    (lineitem, orders) replicated 10× with consistent orderkey offsets
    — join structure is preserved per replica (l_orderkey and
    o_orderkey shift by the same ``rep × K``), dims are copied
    untouched, so the three headline relational queries run against
    10× the fact rows with identical selectivities. Deterministic, no
    external data; written once to tmpfs."""
    from pyspark.sql import functions as F

    sf_tag = os.path.basename(os.path.normpath(SF_DIR))
    out = os.path.join(WORK, f"sf1_facts_{sf_tag}")
    li_path = os.path.join(out, "lineitem.parquet")
    if os.path.exists(os.path.join(out, "_DONE_v2")):
        return out, spark.read.parquet(li_path).count()
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out, f"{t}.parquet"))
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    k = orders.agg(F.max("o_orderkey")).first()[0] + 1
    rep = spark.range(10).withColumnRenamed("id", "rep")
    orders.crossJoin(F.broadcast(rep)).withColumn(
        "o_orderkey", (F.col("o_orderkey") + F.col("rep") * k).cast("long")
    ).drop("rep").repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    li.crossJoin(F.broadcast(rep)).withColumn(
        "l_orderkey", (F.col("l_orderkey") + F.col("rep") * k).cast("long")
    ).drop("rep").repartition(32).write.mode("overwrite").parquet(li_path)
    # 10× documents: EXACT replicas with doc_id offsets — every doc
    # gains 9 byte-identical copies, so dedup's LSH band buckets are
    # 10× denser (harder than independent growth; the window-min
    # bucket path must stay O(m) per bucket).
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    kd = docs.agg(F.max("doc_id")).first()[0] + 1
    docs.crossJoin(F.broadcast(rep)).withColumn(
        "doc_id", (F.col("doc_id") + F.col("rep") * kd).cast("long")
    ).drop("rep").repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    # 10× events: user_id AND event_id offset per replica — 10× users
    # with per-user session structure preserved, so sessionize's
    # one-exchange plan is measured at linearly-grown key cardinality.
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ku, ke = (
        ev.agg(F.max("user_id"), F.max("event_id")).first()[0] + 1,
        ev.agg(F.max("event_id")).first()[0] + 1,
    )
    ev.crossJoin(F.broadcast(rep)).withColumn(
        "user_id", (F.col("user_id") + F.col("rep") * ku).cast("long")
    ).withColumn(
        "event_id", (F.col("event_id") + F.col("rep") * ke).cast("long")
    ).drop("rep").repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    n = spark.read.parquet(li_path).count()
    with open(os.path.join(out, "_DONE_v2"), "w") as f:
        f.write(str(n))
    return out, n


def bench_sf1(spark, trials: int = 3) -> dict:
    """Run the top-3 relational queries at the 10×-fact scale point:
    untimed warm-up, then interleaved trials, min reported — same
    discipline as the headline suite."""
    import __spark_entry__ as entrymod

    sf1_dir, n_li = materialize_sf1(spark)
    qs = entrymod.queries()
    all_trials: dict[str, list] = {name: [] for name in SF1_QUERIES}
    for name in SF1_QUERIES:
        qs[name](spark, sf1_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    for r in range(trials):
        record_probe(f"sf1_round{r}")
        for name in SF1_QUERIES:
            t0 = time.time()
            qs[name](spark, sf1_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            all_trials[name].append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
    return {
        "what": (
            "sf0.1 facts × 10 (consistent orderkey offsets, dims "
            "untouched) — a 10× fact-row scale point for the top-3 "
            "relational queries, plus 10× documents (exact replicas, "
            "10×-denser LSH buckets) for dedup_minhash_lsh and 10× "
            "events (user_id offsets, 10× key cardinality) for "
            "sessionize"
        ),
        "lineitem_rows": n_li,
        "queries": {n: min(ts) for n, ts in all_trials.items()},
        "query_trials": all_trials,
    }


def bench_skew(spark) -> dict:
    """Evidence for the salted repartition (north_star): ONE hot
    conversation holding every document-bearing turn. Unsalted
    repartition on conv_id lands the whole conversation on one task;
    the salt spreads it across the cluster."""
    from pyspark.sql import functions as F

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.operators.extraction import transcripts_from_documents
    from libpdf_spark.pipeline import make_extract_batch, EXTRACT_SCHEMA

    hot = (
        transcripts_from_documents(spark, SF_DIR, replicate=2, text_repeat=2)
        .withColumn("conv_id", F.lit("hot-conversation"))
        .withColumn(
            "turn_idx",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                    F.monotonically_increasing_id()
                )
            ).cast("int"),
        )
    )
    path = os.path.join(WORK, "skew_corpus")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        hot.write.mode("overwrite").parquet(path)
    from libpdf_spark.pipeline import read_transcripts

    df = read_transcripts(spark, path).select("conv_id", "turn_idx", "text", "tool")
    n = df.count()
    cfg = ExtractConfig()
    parallelism = spark.sparkContext.defaultParallelism

    def timed(partitioned):
        out = partitioned.mapInPandas(make_extract_batch(cfg), schema=EXTRACT_SCHEMA)
        t0 = time.time()
        out.select(F.count("*"), F.sum("n_elements")).collect()
        return round(time.time() - t0, 2)

    # warm-up on the salted path
    from libpdf_spark.pipeline import salted_repartition

    timed(salted_repartition(df, cfg, parallelism))
    naive_sec = timed(df.repartition(parallelism, F.col("conv_id")))
    salted_sec = timed(salted_repartition(df, cfg, parallelism))
    return {
        "metric": "skew_speedup_salted_vs_naive",
        "value": round(naive_sec / salted_sec, 2),
        "unit": "ratio",
        "turns": n,
        "naive_conv_id_partitioning_sec": naive_sec,
        "salted_sec": salted_sec,
    }


def main():
    scaling = "--scaling" in sys.argv
    write_md = "--write-md" in sys.argv

    if "--skew" in sys.argv:
        os.makedirs(WORK, exist_ok=True)
        spark = make_session(CPUS)
        out = bench_skew(spark)
        print(json.dumps(out))
        if write_md:
            with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
                f.write(
                    "\n## Skew evidence (salted repartition, north_star)\n\n"
                    f"One hot conversation carrying all {out['turns']} document turns:\n"
                    f"naive `repartition(conv_id)` = {out['naive_conv_id_partitioning_sec']} s "
                    f"(whole conversation on ONE task) vs salted "
                    f"`repartition(concat(conv_id, '#', pmod(hash(turn_idx), salt)))` = "
                    f"{out['salted_sec']} s — **{out['value']}× speedup** at local[{CPUS}].\n"
                )
        spark.stop()
        return
    os.makedirs(WORK, exist_ok=True)
    # corpus cache key includes the SF: an sf0.01 smoke run and the
    # sf0.1 headline run share WORK, and a name-only key silently
    # reuses the smaller corpus (caught by the r6 A/B session — the
    # "current" side benched 1,231 turns against r4's 5,731)
    sf_tag = os.path.basename(os.path.normpath(SF_DIR))
    in_path = os.path.join(WORK, f"transcripts_v10_{sf_tag}")

    if "--scaling-level" in sys.argv:
        # child process: one parallelism level, one JVM, pinned cores
        cpus = int(sys.argv[sys.argv.index("--scaling-level") + 1])
        in_path = sys.argv[sys.argv.index("--scaling-level") + 2]
        os.sched_setaffinity(0, set(sorted(os.sched_getaffinity(0))[:cpus]))
        # drift sentinel brackets the capacity probes AND every trial
        # round: session #13's 0.632 took a post-mortem to attribute
        # to a throttled 8-core probe window — with these probes in
        # the artifact the diagnosis is one look at the spread
        record_probe("pre_capacity")
        capacity = cpu_capacity(cpus)
        bus = bus_capacity(cpus)
        record_probe("post_capacity")
        spark = make_session(cpus)
        run_extraction(spark, in_path)  # warm-up (JIT, page cache)
        # three plan shapes, 2 trials each, mode-interleaved so host
        # drift decorrelates from mode; keep each mode's best
        modes = {"salted": "", "salted_input": "_salt_input", "unsalted": "_unsalted"}
        best: dict[str, float] = {}
        n = 0
        for t in range(2):
            record_probe(f"trial_round{t}")
            for mode in modes:
                e, n = run_extraction(spark, in_path, mode)
                best[mode] = min(best.get(mode, e), e)
        record_probe("end")
        result = {"cpus": cpus, "turns": n,
                  "cpu_capacity_units_per_sec": round(capacity, 1),
                  "bus_capacity_gb_per_sec": round(bus, 2),
                  "drift_sentinel": probe_summary()}
        for mode, suffix in modes.items():
            result[f"sec{suffix}"] = round(best[mode], 3)
            result[f"turns_per_sec{suffix}"] = round(n / best[mode], 1)
        print("SCALING_RESULT " + json.dumps(result))
        spark.stop()
        return

    if scaling:
        # the scaling corpus must be big enough that per-turn compute
        # dominates scheduler/worker-startup overhead (a 2 s job
        # measures constant costs, not scaling): ~50k turns, 4× text
        import subprocess

        replicate = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICATE", "6"))
        text_repeat = int(os.environ.get("SPARK_GRAFT_SCALE_TEXT_REPEAT", "4"))
        sf_tag = os.path.basename(os.path.normpath(SF_DIR))
        in_path = os.path.join(
            WORK, f"transcripts_v10_x{replicate}_t{text_repeat}_{sf_tag}"
        )
        spark = make_session(CPUS)
        n_turns = materialize_transcripts(
            spark, in_path, replicate=replicate, text_repeat=text_repeat
        )
        spark.stop()

        LEVEL_KEYS = (
            "sec", "turns", "turns_per_sec",
            "sec_salt_input", "turns_per_sec_salt_input",
            "sec_unsalted", "turns_per_sec_unsalted",
            "cpu_capacity_units_per_sec", "bus_capacity_gb_per_sec",
            "drift_sentinel",
        )

        def run_level(cpus: int) -> dict:
            # each level in its OWN subprocess: a shared py4j JVM would
            # inherit the first level's CPU affinity; pinning models a
            # cluster whose workers cannot borrow idle cores
            proc = subprocess.run(
                [sys.executable, __file__, "--scaling-level", str(cpus), in_path],
                capture_output=True,
                text=True,
                cwd=REPO,
                check=False,
            )
            for line in proc.stdout.splitlines():
                if line.startswith("SCALING_RESULT "):
                    r = json.loads(line[len("SCALING_RESULT "):])
                    return {k: r[k] for k in LEVEL_KEYS}
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise RuntimeError(f"scaling level {cpus} failed")

        # interleaved trials (8, 32, 8, 32): host conditions drift on a
        # minute scale — alternating decorrelates level from time; keep
        # each level's best trial (steady-state capability)
        results: dict[int, dict] = {}
        trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))
        for _ in range(trials):
            for cpus in (8, CPUS):
                r = run_level(cpus)
                if cpus not in results:
                    results[cpus] = r
                    continue
                cur = results[cpus]
                # best-of PER METRIC: Spark throughput and hardware
                # capacity are independent estimates of this level's
                # steady-state capability; pairing them within one
                # trial couples two independent host-noise draws (an
                # 8-level trial throttled during its capacity probe
                # once yielded a "measured" 8→32 capacity ratio of
                # 5.08 — impossible on 4× the cores — tanking the
                # normalized efficiency for a reason that has nothing
                # to do with the engine)
                for mode_suffix in ("", "_salt_input", "_unsalted"):
                    if (
                        r[f"turns_per_sec{mode_suffix}"]
                        > cur[f"turns_per_sec{mode_suffix}"]
                    ):
                        for k in (f"sec{mode_suffix}", f"turns_per_sec{mode_suffix}"):
                            cur[k] = r[k]
                for k in ("cpu_capacity_units_per_sec", "bus_capacity_gb_per_sec"):
                    cur[k] = max(cur[k], r[k])
                # sentinel: concatenate both process runs' probes
                probes = (
                    cur["drift_sentinel"]["probes"]
                    + r["drift_sentinel"]["probes"]
                )
                rates = [p["docs_per_sec"] for p in probes]
                cur["drift_sentinel"] = {
                    "what": cur["drift_sentinel"]["what"],
                    "probes": probes,
                    "spread": round(max(rates) / min(rates), 3),
                }
        base, big = results[8], results[CPUS]
        hw_ratio = (
            big["cpu_capacity_units_per_sec"] / base["cpu_capacity_units_per_sec"]
        )
        bus_ratio = (
            big["bus_capacity_gb_per_sec"] / base["bus_capacity_gb_per_sec"]
        )

        def effs(suffix: str) -> tuple[float, float]:
            sp = base[f"sec{suffix}"] / big[f"sec{suffix}"]
            return sp / (CPUS / 8), sp / hw_ratio  # (raw, cpu-normalized)

        eff, eff_hw = effs("")
        eff_si, eff_hw_si = effs("_salt_input")
        eff_u, eff_hw_u = effs("_unsalted")

        # Amdahl decomposition with MEASURED capacities: compute time
        # scales with the cpu-kernel capacity ratio, shuffle time with
        # the memory-bus capacity ratio (per-level shuffle time =
        # salted − shuffle-free wall, identical compute). The bus-aware
        # efficiency is actual big-level wall vs the wall this box's
        # measured hardware permits — the engine's share of the loss.
        def bus_aware(suffix: str) -> float:
            comp8 = base["sec_unsalted"]
            shuf8 = max(0.0, base[f"sec{suffix}"] - comp8)
            ideal_big = comp8 / hw_ratio + shuf8 / bus_ratio
            return ideal_big / big[f"sec{suffix}"]

        out = {
            "metric": "extraction_scaling_efficiency",
            "value": round(eff_hw, 3),
            "unit": "ratio",
            "sf": SF_DIR,
            "turns": n_turns,
            "raw_efficiency_vs_ideal_4x": round(eff, 3),
            "hw_capacity_ratio_measured": round(hw_ratio, 3),
            "bus_capacity_ratio_measured": round(bus_ratio, 3),
            "salted_bus_aware_efficiency": round(bus_aware(""), 3),
            # legacy input-stage salting (raw payloads through the one
            # shared memory bus — kept as the A/B that motivated the
            # output-stage default)
            "salt_input_raw_efficiency": round(eff_si, 3),
            "salt_input_normalized_efficiency": round(eff_hw_si, 3),
            "salt_input_bus_aware_efficiency": round(bus_aware("_salt_input"), 3),
            # shuffle-free scan→UDF variant: compute scaling with the
            # single-box shuffle-bandwidth coupling removed (a real 4N
            # cluster scales shuffle bandwidth with node count)
            "unsalted_normalized_efficiency": round(eff_hw_u, 3),
            "unsalted_raw_efficiency": round(eff_u, 3),
            "levels": {str(k): v for k, v in results.items()},
        }
        print(json.dumps(out))
        if write_md:
            _write_md(out)
        return

    record_probe("session_start")
    spark = make_session(CPUS)
    n_turns = materialize_transcripts(spark, in_path)
    # second scale point (VERDICT r3 ask #4): the 6×-replicated /
    # 4×-text corpus (~30k turns, ~140 MB) — flagship throughput where
    # per-job fixed overhead is amortized, so a headline regression is
    # attributable (overhead vs kernel) from this artifact alone.
    # Small and big corpus trials are INTERLEAVED (VERDICT r4 wrong
    # #2: big_corpus consecutive trials spread 2.1× under host drift
    # while the interleaved headline stayed tight) so any host-CPU
    # drift window hits both corpora alike and min-of-4 stays
    # comparable between them.
    big_path = os.path.join(WORK, f"transcripts_v10_x6_t4_{sf_tag}")
    n_big = materialize_transcripts(spark, big_path, replicate=6, text_repeat=4)
    run_extraction(spark, in_path)   # warm-up (JIT, page cache)
    run_extraction(spark, big_path)  # warm-up
    ex_trials, big_trials = [], []
    for r in range(4):
        record_probe(f"extract_round{r}")
        e, n = run_extraction(spark, in_path)
        ex_trials.append(round(e, 3))
        eb, _nb = run_extraction(spark, big_path)
        big_trials.append(round(eb, 3))
    extract_sec = min(ex_trials)
    big_sec = min(big_trials)
    qtimes, qtrials = bench_queries(spark)
    qtimes["extract_turns"] = round(extract_sec, 3)
    qtrials["extract_turns"] = ex_trials
    try:
        sf1 = bench_sf1(spark)
    except Exception as exc:  # never lose the headline artifact
        sf1 = {"error": f"{type(exc).__name__}: {exc}"}
    total = round(sum(qtimes.values()), 3)
    # Two JSON lines (VERDICT r6 wrong #2): the driver's tail capture
    # is ~2000 chars, and the verbose line (per-trial arrays + drift
    # sentinel + sf1 block) outgrew it in round 6 — the captured tail
    # started mid-line and the official artifact lost the headline.
    # So the COMPACT headline (suite sec + per-query minima only,
    # ~700 chars — fits any tail window) is printed both FIRST (for
    # head-parsers) and LAST (for tail-parsers); the verbose archive
    # line sits between them.
    compact = json.dumps(
        {
            "metric": "headline_suite_sec",
            "value": total,
            "unit": "sec",
            "queries": qtimes,
            "sf": SF_DIR,
            "turns": n,
            "turns_per_sec": round(n / extract_sec, 1),
            "big_corpus_turns": n_big,
            "big_corpus_turns_per_sec": round(n_big / big_sec, 1),
        }
    )
    print(compact)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec_verbose",
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "query_trials": qtrials,
                "sf": SF_DIR,
                "turns": n,
                "turns_per_sec": round(n / extract_sec, 1),
                "big_corpus": {
                    "turns": n_big,
                    "extract_sec": big_sec,
                    "trials": big_trials,
                    "turns_per_sec": round(n_big / big_sec, 1),
                },
                "sf1_facts": sf1,
                "drift_sentinel": probe_summary(),
            }
        )
    )
    print(compact)
    spark.stop()


def _write_md(out: dict) -> None:
    md_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    if os.path.exists(md_path):
        # the file carries a HAND-CURATED multi-session history (plus
        # round write-ups); a full rewrite silently destroyed it once
        # (round 6). Append this session as a compact block instead.
        big_k = max(map(int, out["levels"]))
        lv8, lvb = out["levels"]["8"], out["levels"][str(big_k)]
        with open(md_path, "a") as f:
            f.write(
                "\n## Scaling session (auto-appended by bench.py "
                "--scaling --write-md)\n\n"
                f"corpus `{out['sf']}`, {out['turns']} turns — salted "
                f"normalized **{out['value']}** (bus-aware "
                f"{out['salted_bus_aware_efficiency']}), salt_input "
                f"{out['salt_input_normalized_efficiency']}, "
                f"shuffle-free {out['unsalted_normalized_efficiency']}; "
                f"capacity ratios cpu {out['hw_capacity_ratio_measured']}"
                f" / bus {out['bus_capacity_ratio_measured']}; t/s "
                f"salted {lv8['turns_per_sec']} @8c → "
                f"{lvb['turns_per_sec']} @{big_k}c. Merge into the "
                "session-history table with a clean/contaminated "
                "verdict.\n"
            )
        return
    big = max(map(int, out["levels"]))
    lines = [
        "# BENCH — scaling evidence (sandbox proxy for N vs 4N executors)",
        "",
        "No real cluster exists in this sandbox (BASELINE.json asks for N vs",
        "4N executors); the proxy is the SAME job at two parallelism levels",
        "on identical input, each level pinned (sched_setaffinity) to its",
        "core budget in its own process — a small cluster cannot borrow",
        "idle cores, so an unpinned local[8] baseline would overstate it.",
        "",
        f"Input: `{out['sf']}`-derived corpus on tmpfs, {out['turns']} transcript",
        "turns (documents wrapped as layout payloads + fixture families).",
        "Job: read parquet → mapInPandas extraction → explicit salted",
        "repartition on conv_id (output stage — the default plan; see",
        "`pipeline.extract_turns`) → aggregate. Timing: per mode, best of 2",
        "mode-interleaved trials after warm-up, best-of across 2 process-level",
        "trials (host drift decorrelated).",
        "",
        "Three plan shapes are measured at each level:",
        "",
        "1. **salted (output stage — the pipeline default)**: UDF on the scan",
        "   splits, salted conv_id exchange moves only the extracted output",
        "   (measured 5.0× fewer zstd-compressed shuffle bytes than the raw",
        "   payloads).",
        "2. **salted_input (legacy A/B)**: salt-repartition the RAW turns,",
        "   then extract — every payload byte crosses the one-box memory bus.",
        "3. **shuffle-free**: scan→UDF only (no keyed exchange at all).",
        "",
        "| parallelism | t/s salted | t/s salted_input | t/s shuffle-free | cpu capacity (kernel docs/s, no Spark) | bus capacity (GB/s memcpy, no Spark) |",
        "|---|---|---|---|---|---|",
    ]
    for k, v in out["levels"].items():
        lines.append(
            f"| local[{k}] (pinned {k} cores) | {v['turns_per_sec']} "
            f"| {v.get('turns_per_sec_salt_input', '—')} "
            f"| {v.get('turns_per_sec_unsalted', '—')} "
            f"| {v['cpu_capacity_units_per_sec']:.3g} "
            f"| {v.get('bus_capacity_gb_per_sec', '—')} |"
        )
    lines += [
        "",
        "Hardware calibration (both probes are plain multiprocessing on the",
        "pinned core set — the ceiling ANY engine could reach at that level):",
        "",
        f"- cpu capacity ratio {big}c/8c: {out['hw_capacity_ratio_measured']}",
        "  (not 4.0 — frequency boost / host overcommit inflates the 8-core",
        "  level; a real 4N-executor cluster is 4× MACHINES with no shared",
        "  frequency or memory budget)",
        f"- memory-bus copy bandwidth ratio {big}c/8c:",
        f"  {out['bus_capacity_ratio_measured']} — the bus is already",
        "  saturated at 8 streams, so the shuffle-bound fraction of ANY",
        "  single-box job cannot speed up with cores; a real 4N cluster",
        "  scales shuffle bandwidth with node count. This probe replaces the",
        "  previously-asserted claim with a measurement.",
        "",
        "Efficiencies (speedup normalized by measured hardware ceilings;",
        "gate: >= 0.8 per BASELINE.json):",
        "",
        "| plan | raw eff (vs ideal 4x) | cpu-normalized | bus-aware (Amdahl, measured capacities) |",
        "|---|---|---|---|",
        f"| **salted (default)** | {out['raw_efficiency_vs_ideal_4x']} "
        f"| **{out['value']}** | {out['salted_bus_aware_efficiency']} |",
        f"| salted_input (legacy) | {out['salt_input_raw_efficiency']} "
        f"| {out['salt_input_normalized_efficiency']} "
        f"| {out['salt_input_bus_aware_efficiency']} |",
        f"| shuffle-free | {out['unsalted_raw_efficiency']} "
        f"| {out['unsalted_normalized_efficiency']} | — |",
        "",
        "The bus-aware column is an Amdahl decomposition with MEASURED",
        "capacities: per-level shuffle wall = salted − shuffle-free (same",
        "compute); ideal big-level wall = compute·(cpu8/cpuBig) +",
        "shuffle·(bus8/busBig); efficiency = ideal / actual. It answers",
        "\"how close is the ENGINE to what this box's measured hardware",
        "permits for this plan\" — the cpu-normalized column alone",
        "under-credits any plan whose shuffle rides the saturated bus.",
        "",
        "The headline gate number is the DEFAULT plan's cpu-normalized",
        f"efficiency: **{out['value']}**. The output-stage salting is what a",
        "100 TB deployment runs: splittable columnar input distributes raw",
        "bytes evenly by construction (byte-range splits, not key ranges),",
        "and the explicit salted conv_id exchange — which defuses",
        "long-conversation skew for stable writes and every downstream",
        "keyed stage — moves the 5× smaller extracted output instead of raw",
        "payloads.",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
