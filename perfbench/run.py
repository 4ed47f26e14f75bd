#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the extraction engine.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process runs Spark on
``local[<cores>]`` as a closed loop: one caller, each timed call starts only
after the previous one finished. The corpus comes from ``--seed``; the
program receives only the generated pages. Every timed call is checked
against an ``extract_one`` oracle. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs once with the event log and spans on and prints
the per-layer metrics. The last stdout line is one JSON object; the lines
before it are a readable summary. Exit code 1 means an output check failed,
2 that the program under test is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURE = os.path.join(ROOT, "tests", "fixtures_extracted_seed42_n150.json")
CORES = len(os.sched_getaffinity(0))
N_BUCKETS = 4 * CORES
MB = 1024 * 1024

SETUPS = 3          # set-ups per untraced run; setup_s is their median
MIN_CALLS = 2       # timed calls per run, even when --seconds is reached
CALL_BUDGET_S = 120  # stop calling after this much run time (runs stay < 3 min)
KERNEL_SAMPLE = 600  # pages timed single-process in the traced run
CACHE_ENTRIES = 24   # corpora kept under .work/corpus

# the end-to-end metrics of the JSON line (the summary prints more)
UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s"}

# (corpus kind, generated pages; crawl adds ~10 % duplicate pages on top)
WORKLOADS = {"crawl_fresh": ("crawl", 4000),
             "pdf_heavy": ("pdf_heavy", 8000),
             "resume_tail": ("crawl", 4000)}

SPAN_NAMES = ["sources.read_pages", "pipeline.committed_buckets",
              "extract.extract_pages", "dedup.load_keeper_index",
              "dedup.mark_duplicates_incremental", "pipeline.write.extracted",
              "pipeline.write.dedup_index", "pipeline.write.lineage",
              "pipeline.has_files", "spark.count", "spark.collect"]


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    for d in ("tmp", "spark-local", "runs", "corpus", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONHASHSEED"] = "0"  # same str hashing in every worker
    # get_spark's deployment setting: 2 GB holds these corpora many times
    # over and keeps the benchmark small on a shared machine
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _conf(eventlog_dir: str | None = None) -> dict:
    conf = {
        # the corpus is small: size scan splits so the scan parallelizes
        "spark.sql.files.maxPartitionBytes": str(8 * MB),
        "spark.sql.files.openCostInBytes": str(MB),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if eventlog_dir:
        from eventlog import EVENTLOG_CONF
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(EVENTLOG_CONF)
        conf["spark.eventLog.dir"] = eventlog_dir
    return conf


# --- Spark session -------------------------------------------------------------

def _warmup(spark) -> None:
    """Start every Python worker through the real Arrow boundary."""
    from pubscience_spark.operators import extract
    rows = [(f"https://warm.example.org/{i}",
             b"<html><body><p>warm up page</p></body></html>")
            for i in range(8 * CORES)]
    df = spark.createDataFrame(rows, "url string, html binary")
    extract.extract_pages(df.repartition(CORES)).count()


def setup(conf: dict, tracer=None):
    """``session.get_spark`` then the worker warm-up; returns
    (spark, start_s, warmup_s)."""
    import contextlib
    from pubscience_spark import session
    span = tracer.span if tracer else (lambda _: contextlib.nullcontext())
    t0 = time.perf_counter()
    with span("session.get_spark"):
        spark = session.get_spark(app_name="perfbench",
                                  master=f"local[{CORES}]",
                                  shuffle_partitions=N_BUCKETS,
                                  extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with span("session.warmup"):
        _warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM (its
    Python workers exit with it)."""
    import subprocess
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- workloads -----------------------------------------------------------------

class Workload:
    """One corpus and the timed call made over it; as is, ``crawl_fresh``:
    run_extraction(resume=True) of the default mix into an empty out_dir."""
    sink = True

    def __init__(self, name: str, seed: int):
        import corpus
        kind, n = WORKLOADS[name]
        self.name, self.seed = name, seed
        self.pages, self.records = corpus.load(
            os.path.join(WORK, "corpus"), kind, n, seed, N_BUCKETS, CORES)
        self.input_bytes = sum(r[5] for r in self.records)
        self.run_dir = os.path.join(WORK, "runs", f"{name}-{os.getpid()}")
        self.out = None

    @property
    def processed(self) -> list[list]:
        """Oracle records of the pages the timed call extracts."""
        return self.records

    def prepare(self, spark) -> None:
        import corpus
        flags = corpus.dup_flags(self.records)[0] if self.sink else None
        self.expect = corpus.expected(self.records, flags)

    def before_call(self, i: int) -> None:
        self.out = os.path.join(self.run_dir, f"out-{i}")
        shutil.rmtree(self.out, ignore_errors=True)

    def call(self, spark):
        from pubscience_spark.plans import pipeline
        from pubscience_spark.sources import readers
        return pipeline.run_extraction(
            spark, readers.read_pages(spark, self.pages), self.out,
            n_buckets=N_BUCKETS, resume=True)

    def warm_up(self, spark) -> None:
        """One untimed, unchecked call: the first call in a JVM pays class
        loading and code generation."""
        self.before_call(-1)
        self.call(spark)
        self.after_call()

    def check(self, spark, res) -> dict:
        """Compare the written table and lineage with the oracle."""
        from pyspark.sql import functions as F
        ext = spark.read.parquet(os.path.join(self.out, "extracted"))
        dup = F.when(F.col("is_duplicate"), "1").otherwise("0")
        row = ext.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
            F.sum(F.crc32(F.concat_ws("|", "url", "sha256"))).alias("checksum"),
            F.sum(F.col("is_duplicate").cast("int")).alias("dups"),
            F.sum(F.crc32(F.concat_ws("|", "url", "sha256", dup)))
            .alias("dup_checksum")).collect()[0].asDict()
        lin = spark.read.parquet(os.path.join(self.out, "lineage")).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("bucket").alias("b")).collect()[0]
        problems = [f"{k}: got {row[k]} want {v}"
                    for k, v in self.expect.items() if row[k] != v]
        if lin["n"] != N_BUCKETS or lin["b"] != N_BUCKETS:
            problems.append(f"lineage: {lin['n']} rows over {lin['b']} "
                            f"buckets, want one row per bucket ({N_BUCKETS})")
        problems += self.check_result(res)
        out_bytes = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(self.out) for f in fs)
        files = sum(f.endswith(".parquet") for _, _, fs in
                    os.walk(os.path.join(self.out, "extracted")) for f in fs)
        return {"problems": problems, "rows": row["rows"],
                "errors": row["errors"], "dups": row["dups"],
                "bytes_out_per_in": out_bytes / self.input_bytes,
                "files_written": files}

    def check_result(self, res) -> list[str]:
        if res["buckets_skipped"] != 0:
            return [f"buckets_skipped {res['buckets_skipped']} on a fresh run"]
        return []

    def after_call(self) -> None:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)

    def probe_pages(self, spark):
        from pubscience_spark.plans import pipeline
        from pubscience_spark.sources import readers
        return (readers.read_pages(spark, self.pages)
                .withColumn("bucket", pipeline.bucket_col(N_BUCKETS)))

    def prior_index(self, spark):
        return None

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


class ResumeTail(Workload):
    """The crawl corpus with 3/4 of its buckets committed by an untimed
    prefill; the timed call is the post-crash re-run with resume=True."""

    def prepare(self, spark) -> None:
        import corpus
        from pubscience_spark.plans import pipeline
        from pubscience_spark.sources import readers
        self.cut = 3 * N_BUCKETS // 4
        pages = readers.read_pages(spark, self.pages)
        bucket = {r["url"]: r["b"] for r in pages.select(
            "url", pipeline.bucket_col(N_BUCKETS).alias("b")).collect()}
        head = [r for r in self.records if bucket[r[0]] < self.cut]
        self.tail = [r for r in self.records if bucket[r[0]] >= self.cut]
        # committed keepers win: the tail is marked against the head's index
        flags, keepers = corpus.dup_flags(head)
        tail_flags = corpus.dup_flags(self.tail, prior=keepers)[0]
        self.expect = corpus.expected(self.records, {**flags, **tail_flags})
        self.base = os.path.join(self.run_dir, "prefill")
        shutil.rmtree(self.base, ignore_errors=True)
        pipeline.run_extraction(
            spark, pages.where(pipeline.bucket_col(N_BUCKETS) < self.cut),
            self.base, n_buckets=N_BUCKETS, resume=True)

    @property
    def processed(self) -> list[list]:
        return self.tail

    def before_call(self, i: int) -> None:
        super().before_call(i)
        shutil.copytree(self.base, self.out)

    def warm_up(self, spark) -> None:
        pass  # the prefill in prepare() already ran the same plan

    def check_result(self, res) -> list[str]:
        if res["buckets_skipped"] != self.cut:
            return [f"buckets_skipped {res['buckets_skipped']}, "
                    f"want {self.cut}"]
        return []

    def probe_pages(self, spark):
        from pyspark.sql import functions as F
        return super().probe_pages(spark).where(F.col("bucket") >= self.cut)

    def prior_index(self, spark):
        from pubscience_spark.operators import dedup
        return dedup.load_keeper_index(
            spark, os.path.join(self.base, "dedup_index"))


class PdfHeavy(Workload):
    """read_pages -> bucket repartition -> extract_pages -> aggregate collect;
    no dedup, no sink."""
    sink = False

    def before_call(self, i: int) -> None:
        self.out = None

    def call(self, spark):
        from pyspark.sql import functions as F
        from pubscience_spark.operators import extract
        from pubscience_spark.plans import pipeline
        from pubscience_spark.sources import readers
        pages = (readers.read_pages(spark, self.pages)
                 .withColumn("bucket", pipeline.bucket_col(N_BUCKETS))
                 .repartition(N_BUCKETS, "bucket"))
        ext = extract.extract_pages(pages.select("url", "html", "bucket"))
        return ext.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("errors"),
            F.sum(F.crc32(F.concat_ws("|", "url", "sha256"))).alias("checksum"),
            F.sum("n_chars").alias("chars")).collect()[0].asDict()

    def check(self, spark, res) -> dict:
        problems = [f"{k}: got {res[k]} want {v}"
                    for k, v in self.expect.items() if res[k] != v]
        return {"problems": problems, "rows": res["rows"],
                "errors": res["errors"]}


CLASSES = {"crawl_fresh": Workload, "pdf_heavy": PdfHeavy,
           "resume_tail": ResumeTail}


# --- untraced run: end-to-end metrics -------------------------------------------

def _timed_calls(spark, wl: Workload, seconds: float, t_start: float,
                 log) -> tuple[list[float], int, int, dict]:
    """A closed loop of timed calls until ``seconds`` of call time and at
    least MIN_CALLS. Every call is checked. Returns (walls of the calls that
    passed, calls attempted, calls failed, last check info)."""
    walls, attempted, failed, info = [], 0, 0, {}
    measured = 0.0
    while attempted < MIN_CALLS or measured < seconds:
        if attempted and time.perf_counter() - t_start > CALL_BUDGET_S:
            break
        wl.before_call(attempted)
        attempted += 1
        t0 = time.perf_counter()
        try:
            res = wl.call(spark)
            wall = time.perf_counter() - t0
            info = wl.check(spark, res)
        except Exception as exc:  # a raising call is a failed call
            wall = time.perf_counter() - t0
            info = {"problems": [f"{type(exc).__name__}: {exc}"[:300]]}
        measured += wall
        wl.after_call()
        if info["problems"]:
            failed += 1
            log(f"call {attempted} FAILED: {info['problems']}")
        else:
            walls.append(wall)
    return walls, attempted, failed, info


def run_untraced(wl: Workload, seconds: float, t_start: float, log) -> dict:
    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()  # the JVM stays up: later set-ups reuse it
        spark, start_s, warm_s = setup(_conf())
        setups.append(start_s + warm_s)
    try:
        wl.prepare(spark)
        wl.warm_up(spark)
        walls, attempted, failed, info = _timed_calls(
            spark, wl, seconds, t_start, log)
    finally:
        shutdown(spark)
        wl.cleanup()
    wall = statistics.median(walls) if walls else 0.0
    rows = info.get("rows") or 0
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "docs_per_s": len(wl.records) / wall if walls else 0.0,
    }
    error_frac = (info.get("errors") or 0) / rows if rows else 0.0
    log(f"setup_s      {metrics['setup_s']:.3f} s   median of {len(setups)}: "
        + " ".join(f"{s:.3f}" for s in setups))
    log(f"wall_s       {wall:.3f} s   median of {len(walls)} calls: "
        + " ".join(f"{w:.3f}" for w in walls)
        + "  (too few samples for a tail percentile)")
    log(f"docs_per_s   {metrics['docs_per_s']:.1f} 1/s  "
        f"({len(wl.records)} input pages)")
    log(f"failed_frac  {failed}/{attempted} = {failed / attempted:.3f}")
    log(f"error_rows_frac {error_frac:.5f}  "
        f"({info.get('errors')} of {rows} output rows)")
    log("bytes_out_per_in " + (f"{info['bytes_out_per_in']:.4f}"
                               if "bytes_out_per_in" in info
                               else "n/a (no sink on this workload)"))
    return {"correct": failed == 0 and bool(walls), "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in metrics.items()}}


# --- traced run: per-layer metrics -------------------------------------------------

def _patch_boundaries(tracer, spark) -> None:
    from pubscience_spark.operators import dedup, extract
    from pubscience_spark.plans import fsutil, pipeline
    from pubscience_spark.sources import readers
    tracer.patch(readers, "read_pages", "sources.read_pages")
    tracer.patch(pipeline, "committed_buckets", "pipeline.committed_buckets")
    tracer.patch(pipeline, "extract_pages", "extract.extract_pages")
    tracer.patch(extract, "extract_pages", "extract.extract_pages")
    tracer.patch(dedup, "load_keeper_index", "dedup.load_keeper_index")
    tracer.patch(dedup, "mark_duplicates_incremental",
                 "dedup.mark_duplicates_incremental")
    tracer.patch(fsutil, "has_files", "pipeline.has_files")
    df = spark.range(1)
    tracer.patch(type(df.write), "parquet",
                 label=lambda _w, path, *a, **k:
                 f"pipeline.write.{os.path.basename(path.rstrip('/'))}")
    tracer.patch(type(df), "count", "spark.count")
    tracer.patch(type(df), "collect", "spark.collect")


def _kernel_sample(wl: Workload) -> dict:
    """Single-process ms/page per route kernel, clean_markdown and the
    post-kernel hashing, over the first KERNEL_SAMPLE pages of the corpus."""
    import pyarrow.parquet as pq
    from pubscience_spark.kernels import (html_extract, pdfmini, rtf,
                                          textclean, xml_harvest)
    from pubscience_spark.kernels.hashing import sha256_hex
    from pubscience_spark.operators import extract
    raws = pq.read_table(wl.pages, columns=["html"]).column("html") \
        .to_pylist()[:KERNEL_SAMPLE]
    kernel = {"html": lambda b: html_extract.extract_html_bytes(b),
              "pdf": lambda b: pdfmini.extract_pdf(b),
              "xml": lambda b: xml_harvest.extract_fulltext(extract._decode(b)),
              "rtf": lambda b: {"extracted_text": textclean.clean_line(
                  rtf.extract_rtf_bytes(b))}}
    t_one, t_kernel, n = {}, {}, {}
    t_clean = t_post = 0.0
    for raw in raws:
        route = extract.detect_route(raw)
        n[route] = n.get(route, 0) + 1
        t0 = time.perf_counter()
        extract.extract_one(raw)
        t_one[route] = t_one.get(route, 0.0) + time.perf_counter() - t0
        text = ""
        if route in kernel:
            t0 = time.perf_counter()
            try:
                text = kernel[route](raw)["extracted_text"] or ""
            except Exception:
                text = ""
            t_kernel[route] = t_kernel.get(route, 0.0) \
                + time.perf_counter() - t0
            if route == "html":
                t0 = time.perf_counter()
                text = textclean.clean_markdown(text)
                t_clean += time.perf_counter() - t0
        t0 = time.perf_counter()
        sha256_hex(text)
        textclean.prefix_dedup_key(text)
        len(text.split())
        t_post += time.perf_counter() - t0
    counts = {}
    for r in wl.processed:
        counts[r[1]] = counts.get(r[1], 0) + 1
    out = {f"kernels.{k}.ms_per_page":
           1000 * t_kernel.get(k, 0.0) / n[k] if n.get(k) else 0.0
           for k in kernel}
    out["kernels.clean_markdown.ms_per_page"] = \
        1000 * t_clean / n["html"] if n.get("html") else 0.0
    out["kernels.post.ms_per_page"] = 1000 * t_post / len(raws)
    out["kernels.core_s"] = sum(t_one[k] / n[k] * c for k, c in counts.items()
                                if n.get(k))
    out["kernels.error_pages"] = sum(1 for r in wl.processed if r[4])
    return out


def _layer_probes(spark, wl: Workload, tracer) -> tuple[dict, dict]:
    """Each layer on its own over the pages the timed call processes:
    plan_buckets, a noop sink of the scan+repartition, of extract_pages on
    top, and of the duplicate marking over a persisted extracted frame.
    Returns (metrics, span records used for event-log windows)."""
    from pyspark.storagelevel import StorageLevel
    from pubscience_spark.operators import dedup, extract
    from pubscience_spark.plans import pipeline
    m, spans = {}, {}

    def timed(name, fn):
        with tracer.span(name) as rec:
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
        spans[name] = rec
        return dt

    def repartitioned():
        return wl.probe_pages(spark).repartition(N_BUCKETS, "bucket")

    m["pipeline.plan_buckets_s"] = timed(
        "probe.plan_buckets", lambda: pipeline.plan_buckets(wl.probe_pages(spark)))
    m["scan.stage_s"] = timed("probe.scan", lambda: _noop(repartitioned()))
    m["extract.stage_s"] = timed("probe.extract", lambda: _noop(
        extract.extract_pages(repartitioned().select("url", "html", "bucket"))))
    m["dedup.mark_s"] = m["dedup.dup_rows"] = 0.0
    if wl.sink:
        ext = extract.extract_pages(
            repartitioned().select("url", "html", "bucket")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        ext.count()
        index = wl.prior_index(spark)
        marked = dedup.mark_duplicates_incremental(
            ext, ["sha256", "dedup_key"], "url", index)[0]
        m["dedup.mark_s"] = timed("probe.dedup", lambda: _noop(marked))
        m["dedup.dup_rows"] = marked.where("is_duplicate").count()
        ext.unpersist()
    with tracer.span("probe.kernels"):
        m.update(_kernel_sample(wl))
    return m, spans


def run_traced(wl: Workload, log) -> dict:
    import eventlog
    from spans import Tracer
    run_id = f"{wl.name}-seed{wl.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    ev_dir = os.path.join(WORK, "eventlog", run_id)
    shutil.rmtree(ev_dir, ignore_errors=True)
    failures = []
    m: dict = {}
    with tracer.span("session.setup"):
        spark, start_s, warm_s = setup(_conf(ev_dir), tracer)
    m["session.start_s"], m["session.warmup_s"] = start_s, warm_s
    try:
        with tracer.span("workload.prepare"):
            wl.prepare(spark)
        with tracer.span("workload.warm_up"):
            wl.warm_up(spark)
        walls = []
        for i, traced in enumerate((False, True)):  # plain, then traced
            wl.before_call(i)
            if traced:
                _patch_boundaries(tracer, spark)
                root = len(tracer.spans)
                with tracer.span(f"workload.{wl.name}") as call_span:
                    res = wl.call(spark)
                tracer.unpatch()
                walls.append(call_span["end"] - call_span["start"])
            else:
                t0 = time.perf_counter()
                res = wl.call(spark)
                walls.append(time.perf_counter() - t0)
            info = wl.check(spark, res)
            failures += info["problems"]
            if traced and wl.sink:
                m["pipeline.write_s"] = res["write_wall_s"]
                m["pipeline.commit_s"] = walls[-1] - res["write_wall_s"]
                m["pipeline.rows_written"] = res["rows_written"]
                m["pipeline.buckets_skipped"] = res["buckets_skipped"]
                m["pipeline.files_written"] = info["files_written"]
                m["pipeline.bytes_out_per_in"] = info["bytes_out_per_in"]
            wl.after_call()
        probes, probe_spans = _layer_probes(spark, wl, tracer)
        m.update(probes)
    finally:
        shutdown(spark)
        wl.cleanup()

    events = eventlog.read_events(eventlog.log_file(ev_dir))
    ms = 1000.0
    m.update(eventlog.stage_metrics(events, call_span["start"] * ms,
                                    call_span["end"] * ms, CORES))
    ext = probe_spans["probe.extract"]
    py, absent = eventlog.python_metrics(events, ext["start"] * ms,
                                         ext["end"] * ms)
    for key in eventlog.PYTHON_METRICS:
        m[f"extract.{key}"] = py.get(key, -1.0)  # -1: absent from the log
    if absent:
        log(f"absent from the event log: {absent}")
    run_s = m["extract.python_run_s"]
    m["extract.kernel_share"] = m["kernels.core_s"] / run_s if run_s > 0 else -1.0
    for key in ("pipeline.write_s", "pipeline.commit_s", "pipeline.rows_written",
                "pipeline.buckets_skipped", "pipeline.files_written",
                "pipeline.bytes_out_per_in"):
        m.setdefault(key, 0.0)  # no sink on this workload

    self_s, untraced = tracer.self_times(root)
    for name in SPAN_NAMES:
        m[f"span.{name}.self_s"] = self_s.pop(name, 0.0)
    if self_s:
        log(f"spans outside the fixed list: {sorted(self_s)}")
    m["untraced_s"] = untraced
    m["trace.plain_wall_s"], m["trace.wall_s"] = walls
    m["trace_overhead_frac"] = walls[1] / walls[0] - 1
    covered = sum(m[f"span.{n}.self_s"] for n in SPAN_NAMES) + untraced \
        + sum(self_s.values())
    if abs(covered - walls[1]) > 1e-6:
        failures.append(f"span self times {covered} != traced wall {walls[1]}")
    tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"))
    shutil.rmtree(ev_dir, ignore_errors=True)

    for k in sorted(m):
        log(f"{k:45s} {m[k]:.6g} {per_layer_unit(k)}")
    for f in failures:
        log(f"check FAILED: {f}")
    return {"correct": not failures, "attempted": 2,
            "failed": min(2, len(failures)),
            "metrics": {k: {"value": v, "unit": per_layer_unit(k)}
                        for k, v in m.items()}}


def per_layer_unit(name: str) -> str:
    if name == "stage.task_s_sum":
        return "s"
    for suffix, unit in (("_s", "s"), (".ms_per_page", "ms"), ("_mb", "MB"),
                         ("_frac", "frac"), ("_share", "frac"),
                         ("occupancy", "frac"), ("skew", "ratio"),
                         ("_per_in", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# --- main --------------------------------------------------------------------------

def _trim_cache() -> None:
    root = os.path.join(WORK, "corpus")
    entries = sorted((os.path.getmtime(os.path.join(root, e)), e)
                     for e in os.listdir(root))
    for _, e in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "pubscience_spark", "__init__.py")) \
            or not os.path.isfile(FIXTURE):
        print(f"perfbench: no pubscience_spark package or fixture under {ROOT}",
              file=sys.stderr)
        return 2
    _prepare_env()

    def log(msg: str) -> None:
        print(f"[{args.workload}] {msg}", flush=True)

    import corpus
    bad = corpus.pin_extract_one(FIXTURE)
    if bad:
        log(f"extract_one drifted from the committed fixture: {bad[:5]}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    wl = CLASSES[args.workload](args.workload, args.seed)
    _trim_cache()
    log(f"{len(wl.records)} pages, {wl.input_bytes / MB:.1f} MB input, "
        f"local[{CORES}], {N_BUCKETS} buckets, seed {args.seed}")
    if args.trace:
        result = run_traced(wl, log)
    else:
        result = run_untraced(wl, args.seconds, t_start, log)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
