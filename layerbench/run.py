#!/usr/bin/env python3
"""Layered extraction benchmark.

    python3 layerbench/run.py --workload extract_hostile --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with nothing traced; ``--trace 1`` prints the per-layer metrics
instead, from a traced single-threaded kernel pass, the Spark event log
and stage-by-stage timings (see ``layerbench/README.md``). Each metric
is printed on its own line with its unit and sample count; the last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

Everything the run writes goes under ``.layerbench/`` in the
repository root and is removed at exit, apart from the span file of a
traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fewest warm jobs per untraced run; docs_per_s and cpu_ms_per_doc are
# medians over them.
MIN_JOBS = 2
# Driver heap, in place of build_session's 8g default. The host's memory
# is shared with other tenants, and with an 8g heap the JVM grows its heap
# by GC timing: over ten curate_corpus runs the process tree peaked at
# 3.2-5.5 GB (quartile spread 22% of the median), against 1.6-1.9 GB
# with 1g. A change to build_session's default does not show here.
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"[layerbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    """Per-run state: workload, paths, core count and the open session."""

    def __init__(self, args):
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {', '.join(workloads.WORKLOADS)}")
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.options = workloads.EXTRACT_OPTIONS[args.workload]
        self.base = os.path.join(ROOT, ".layerbench")
        self.work = os.path.join(self.base, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


# -- Spark session ------------------------------------------------------------

def start_session(ctx: Context, event_dir: str | None = None):
    """Session through the program's own builder, on local[nproc], with
    a DRIVER_MEMORY heap and every scratch directory inside the run's
    work directory."""
    from go_trafilatura_spark.pipeline import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": ctx.tmp,
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session("layerbench", master=f"local[{ctx.nproc}]",
                          shuffle_partitions=ctx.nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def stop_session(ctx: Context) -> None:
    """Stop the session, end the JVM and wait for it and every process
    it started."""
    import proctree
    from pyspark import SparkContext

    spark, ctx.spark = ctx.spark, None
    if spark is None:
        return
    pids = proctree.descendants()
    try:
        spark.stop()
    except Exception as e:
        # An interrupted Py4J call leaves the gateway unusable; the JVM
        # must still go.
        log(f"session stop failed ({e!r}); ending the JVM")
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception as e:
            log(f"gateway shutdown failed ({e!r})")
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    proctree.reap(pids)


def stage_inputs(ctx: Context, inputs) -> str:
    import pyarrow.parquet as pq

    path = ctx.path("in")
    os.makedirs(path, exist_ok=True)
    pq.write_table(inputs.arrow_table(), os.path.join(path, "pages.parquet"))
    return path


def spin_up(ctx: Context, in_path: str) -> None:
    """Fork the Python workers and import the kernel in each of them."""
    from go_trafilatura_spark import pipeline

    pages = pipeline.read_pages(ctx.spark, in_path).limit(4 * ctx.nproc)
    pipeline.extract_pages(pages, ctx.options).count()


def set_up(ctx: Context, event_dir: str | None = None):
    """The set-up of a batch job submitted on its own: seeded input
    staging, session start with JVM launch, and worker spin-up. Returns
    (inputs, staged path, seconds taken)."""
    import workloads

    t0 = time.perf_counter()
    inputs = workloads.build(ctx.workload, ctx.seed, ctx.nproc)
    in_path = stage_inputs(ctx, inputs)
    start_session(ctx, event_dir)
    spin_up(ctx, in_path)
    return inputs, in_path, time.perf_counter() - t0


# -- workload jobs ------------------------------------------------------------

def extract_job(ctx: Context, in_path: str, out_path: str):
    """read → extract_pages → write_extracted, as one job."""
    from go_trafilatura_spark import pipeline

    pages = pipeline.read_pages(ctx.spark, in_path)
    pipeline.write_extracted(pipeline.extract_pages(pages, ctx.options), out_path)


def extracted_docs(ctx: Context, in_path: str):
    """The curation input: accepted rows of extract_pages, with the url
    as document id."""
    from pyspark.sql import functions as F

    from go_trafilatura_spark import pipeline

    pages = pipeline.read_pages(ctx.spark, in_path)
    return (pipeline.extract_pages(pages, ctx.options)
            .where(F.col("reject_reason").isNull())
            .select(F.col("url").alias("doc_id"),
                    F.col("content_text").alias("text"), "lang", "url"))


CURATE_ARGS = dict(url_col="url", k_substring=50, max_per_host=50,
                   sample_fraction=0.5, strata_col="lang")


def curate_job(ctx: Context, in_path: str, out_path: str):
    """read → extract_pages → corpus_dedup_pipeline → parquet, as one
    lineage. Returns the persisted frames for the caller to release."""
    from go_trafilatura_spark.pipeline import corpus_dedup_pipeline

    ext = extracted_docs(ctx, in_path).persist()
    final, handles = corpus_dedup_pipeline(ext, **CURATE_ARGS)
    final.write.mode("overwrite").parquet(out_path)
    return [ext] + handles


def run_job(ctx: Context, in_path: str, out_path: str):
    job = curate_job if ctx.workload == "curate_corpus" else extract_job
    return job(ctx, in_path, out_path)


def release(handles) -> None:
    for h in handles or ():
        h.unpersist()


def read_extracted(path: str) -> dict:
    import pyarrow.parquet as pq

    import checks

    return checks.rows_by_url(pq.read_table(path, columns=["url"] + checks.COMPUTED))


def final_rows(path: str) -> list:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return [list(r.values()) for r in t.to_pylist()]


# -- single-threaded kernel pass -----------------------------------------------

def kernel_pass(ctx: Context, inputs, recorder) -> tuple[dict, float]:
    """Drive the program's Arrow kernel over the workload's Arrow
    batches in this process, no Spark. Each batch is one span, run
    pinned to the next CPU in turn: cores of a shared host slow down and
    recover independently, so rotating them keeps one slow core from
    setting a whole pass's times. Returns (url -> computed columns, wall
    seconds)."""
    import pyarrow as pa

    from go_trafilatura_spark import kernel, pipeline

    import checks

    table = inputs.arrow_table().select(["url", "warc_ts", "html", "lang"])
    batches = table.to_batches(max_chunksize=pipeline.ARROW_BATCH_SIZE)
    fn = kernel.make_arrow_kernel(kernel.KernelOptions(ctx.options))
    gen = fn(iter(batches))
    cpus = sorted(os.sched_getaffinity(0))
    outs = []
    t0 = time.perf_counter()
    try:
        while True:
            os.sched_setaffinity(0, {cpus[len(outs) % len(cpus)]})
            span = recorder.open("kernel.make_arrow_kernel", doc=-1)
            try:
                batch = next(gen)
            except StopIteration:
                recorder.close(span)
                break
            recorder.close(span)
            outs.append(batch)
    finally:
        os.sched_setaffinity(0, cpus)
    wall = time.perf_counter() - t0
    return checks.rows_by_url(pa.Table.from_batches(outs)), wall


def _doc_key(html, options=None, *args, **kwargs):
    return getattr(options, "original_url", None)


def root_target():
    import importlib

    return (importlib.import_module("go_trafilatura_spark.core"), "extract",
            "core.extract", _doc_key)


# Wrapped module-level functions: (module, attribute, span name).
PHASES = (
    ("etree", "parse_html", "etree.parse_html"),
    ("metadata", "extract_metadata", "metadata.extract_metadata"),
    ("htmlprocessing", "doc_cleaning", "htmlprocessing.doc_cleaning"),
    ("htmlprocessing", "convert_tags", "htmlprocessing.convert_tags"),
    ("htmlprocessing", "post_cleaning", "htmlprocessing.post_cleaning"),
    ("main_extractor", "extract_comments", "main_extractor.extract_comments"),
    ("main_extractor", "extract_content", "main_extractor.extract_content"),
    ("external", "compare_external_extraction", "external.compare_external_extraction"),
    ("readability", "readability_parse", "readability.readability_parse"),
    ("external", "distiller_candidate", "external.distiller_candidate"),
    ("baseline", "baseline", "baseline.baseline"),
    ("utils", "language_classifier", "utils.language_classifier"),
    ("etree", "tostring", "etree.tostring"),
    ("kernel", "compute_spans", "kernel.compute_spans"),
    ("etree", "remove", "etree.mutate"),
    ("etree", "strip_element", "etree.mutate"),
    ("etree", "strip_tags", "etree.mutate"),
)


def phase_targets():
    import importlib

    return [root_target()] + [
        (importlib.import_module(f"go_trafilatura_spark.{m}"), attr, name, None)
        for m, attr, name in PHASES
    ]


# -- untraced run: end-to-end metrics -------------------------------------------

def timed_job(ctx: Context, in_path: str, out: str):
    """One job with its wall time, tree CPU and peak tree memory.
    Returns (persisted frames, wall s, CPU s, peak bytes)."""
    import proctree

    sampler = proctree.MemSampler().start()
    cpu0 = proctree.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        handles = run_job(ctx, in_path, out)
    finally:
        wall = time.perf_counter() - t0
        cpu = proctree.tree_cpu_s() - cpu0
        peak = sampler.stop()
    return handles, wall, cpu, peak


def run_untraced(ctx: Context):
    import checks

    inputs, in_path, setup_s = set_up(ctx)
    log(f"set-up: {setup_s:.2f} s")
    n = len(inputs)

    # The first job starts cold and only warms the JVM and the workers;
    # its output is checked, its times are not used. Warm jobs then run
    # until there are MIN_JOBS and their summed wall time reaches
    # --seconds.
    out = ctx.path("out0")
    handles, wall, _, peak = timed_job(ctx, in_path, out)
    log(f"warm-up job: {wall:.2f} s")
    outs, mems = [out], [peak]
    walls, cpus = [], []
    while len(walls) < MIN_JOBS or sum(walls) < ctx.seconds:
        release(handles)
        out = ctx.path(f"out{len(outs)}")
        handles, wall, cpu, peak = timed_job(ctx, in_path, out)
        walls.append(wall)
        cpus.append(cpu)
        mems.append(peak)
        outs.append(out)
    log(f"{len(walls)} warm jobs: " + " ".join(f"{w:.2f}" for w in walls))

    failures: list[str] = []
    attempted = 0
    texts = None
    if ctx.workload == "curate_corpus":
        ext = handles[0]
        texts = {r["doc_id"]: r["text"] for r in ext.select("doc_id", "text").toArrow().to_pylist()}
    release(handles)
    stop_session(ctx)

    # The single-threaded, Spark-free pass the Spark output is held to.
    from spans import SpanRecorder

    reference, wall = kernel_pass(ctx, inputs, SpanRecorder())
    log(f"single-threaded reference pass: {wall:.2f} s")

    if ctx.workload == "curate_corpus":
        attempted += n
        failures += checks.check_texts(texts, inputs.expect)
        first = None
        for out in outs:
            rows = final_rows(out)
            attempted += len(rows)
            h = checks.row_set_hash(rows)
            if first is None:
                first = h
            elif h != first:
                failures += [f"{out}: final row set differs from the first job's"] * len(rows)
    else:
        for out in outs:
            attempted += n
            failures += checks.check_extracted(read_extracted(out), inputs.expect, reference)
    # Rows whose single-threaded pass itself failed.
    failures += [f"{u}: parse_error in single-thread pass"
                 for u, row in reference.items() if row[checks.REASON] == "parse_error"]
    attempted += n

    metrics = {
        "setup_s": (setup_s, "s", 1),
        "docs_per_s": (n / statistics.median(walls), "1/s", len(walls)),
        "cpu_ms_per_doc": (statistics.median(cpus) * 1000 / n, "ms", len(cpus)),
        "peak_rss_mb": (max(mems) / 2**20, "MB", len(mems)),
    }
    return metrics, attempted, failures


# -- traced run: per-layer metrics ----------------------------------------------

REJECT_KINDS = ("null_html", "not_html", "oversized", "parse_error")


def kernel_layer_metrics(ctx: Context, inputs) -> tuple[dict, list[str], dict]:
    """Untraced then traced kernel pass over the same batches."""
    import checks
    import hostile
    from spans import SpanRecorder

    plain = SpanRecorder()
    plain.install([root_target()])
    try:
        untraced, wall0 = kernel_pass(ctx, inputs, plain)
    finally:
        plain.uninstall()
    rec = SpanRecorder()
    rec.install(phase_targets())
    try:
        traced, wall1 = kernel_pass(ctx, inputs, rec)
    finally:
        rec.uninstall()
    log(f"kernel pass: untraced {wall0:.2f} s, traced {wall1:.2f} s, {len(rec)} spans")
    rec.dump(os.path.join(ctx.base, f"spans-{ctx.workload}-{ctx.seed}.jsonl"))

    failures = []
    if checks.extracted_hash(untraced) != checks.extracted_hash(traced):
        failures += [f"{u}: traced output differs from untraced"
                     for u in untraced if untraced[u] != traced.get(u)]

    n = len(inputs)
    st = rec.self_times()
    m: dict[str, tuple] = {}
    names = sorted({name for _, _, name in PHASES})
    for name in names:
        s = st.get(name, {"self_ns": 0, "max_self_ns": 0, "calls": 0})
        m[f"{name}.ms"] = (s["self_ns"] / 1e6 / n, "ms", n)
        m[f"{name}.max_ms"] = (s["max_self_ns"] / 1e6, "ms", s["calls"])
    root = st["core.extract"]
    m["core.extract.self_ms"] = (root["self_ns"] / 1e6 / n, "ms", n)
    m["core.extract.max_ms"] = (root["max_self_ns"] / 1e6, "ms", root["calls"])
    m["baseline.baseline.calls"] = (st.get("baseline.baseline", {}).get("calls", 0), "count", 1)
    m["etree.mutate.calls"] = (st.get("etree.mutate", {}).get("calls", 0), "count", 1)
    batch = st["kernel.make_arrow_kernel"]
    m["kernel.make_arrow_kernel.convert_ms"] = (batch["self_ns"] / 1e6 / n, "ms", batch["calls"])
    reasons = [row[checks.REASON] for row in traced.values()]
    for kind in REJECT_KINDS:
        m[f"kernel.rejects.{kind}"] = (reasons.count(kind), "count", n)
    gates = sum(1 for r in reasons if r is not None and r not in REJECT_KINDS)
    m["kernel.rejects.gate"] = (gates, "count", n)
    m["trace.overhead_ms_per_doc"] = ((wall1 - wall0) * 1000 / n, "ms", 1)
    m["trace.overhead_share"] = (wall1 / wall0 - 1, "share", 1)

    # Per-document latency, from the untraced pass, where core.extract is
    # the only wrapped function. It is a per-layer metric: single-threaded
    # time on a shared host moves with the host's load about twice as much
    # as throughput does (README).
    per_doc = plain.doc_durations("core.extract")
    doc_ms = [ns / 1e6 for ns in per_doc.values()]
    m["doc_ms_p50"] = (statistics.median(doc_ms), "ms", len(doc_ms))
    m["doc_ms_p95"] = (statistics.quantiles(doc_ms, n=100, method="inclusive")[94],
                       "ms", len(doc_ms))

    # Per adversarial shape: core.extract time at n and 2n, and their
    # ratio; the adversarial pages' share of all core.extract time. From
    # the same pass.
    ms = {key: per_doc[url] / 1e6 for url, key in inputs.shape_of.items()}
    ratios = []
    for shape, size in hostile.SHAPE_SIZES.items():
        at_n, at_2n = ms.get((shape, size), 0.0), ms.get((shape, 2 * size), 0.0)
        count = int((shape, size) in ms)
        m[f"hostile.{shape}.ms"] = (at_n, "ms", count)
        m[f"hostile.{shape}.2n_ms"] = (at_2n, "ms", count)
        if count:
            ratios.append(at_2n / at_n)
    m["hostile.doubling_ratio_max"] = (max(ratios) if ratios else 0.0, "ratio", len(ratios))
    m["hostile.adversarial_share"] = (sum(ms.values()) * 1e6 / sum(per_doc.values()),
                                      "share", len(ms))
    return m, failures, traced


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def timed(ctx: Context, label: str, action):
    ctx.spark.sparkContext.setJobDescription(label)
    try:
        t0 = time.perf_counter()
        result = action()
        return result, (time.perf_counter() - t0) * 1000
    finally:
        ctx.spark.sparkContext.setJobDescription(None)


def curate_stages(ctx: Context, in_path: str) -> tuple[dict, float, list, list]:
    """The corpus pipeline's stages one at a time, each from persisted
    predecessors, in the order corpus_dedup_pipeline composes them.
    Returns (metrics, summed ms, final rows, persisted frames)."""
    from pyspark.sql import functions as F

    from go_trafilatura_spark import textops
    from go_trafilatura_spark.pipeline import host_cap

    wl = ctx.workload
    held = []

    def stage(name, frame):
        frame = frame.persist()
        held.append(frame)
        rows, ms = timed(ctx, f"{wl}/stage/{name}", frame.count)
        return frame, rows, ms

    ext, _, ms_ext = stage("extract", extracted_docs(ctx, in_path))
    ld = textops.line_dedup(ext, text_col="text", id_col="doc_id")
    deduped, n_ld, ms_ld = stage("line_dedup", ld.where(F.col("n_lines_kept") > 0).select(
        "doc_id", F.col("text_deduped").alias("text")))
    ss, n_ss, ms_ss = stage("substring_dedup_filter", textops.substring_dedup_filter(
        deduped, k=CURATE_ARGS["k_substring"], hash_shingles=True)
        .where(F.col("keep") == 1).select("doc_id"))
    gq, _, ms_gq = stage("gopher_quality_filter",
                         textops.gopher_quality_filter(deduped).select("doc_id", "keep"))
    kept = (deduped.join(ss, "doc_id", "left_semi")
            .join(gq.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"))
    n_gq = gq.where(F.col("keep")).count()
    urls = kept.join(ext.select("doc_id", "url"), "doc_id")
    capped, n_hc, ms_hc = stage("host_cap", host_cap(
        urls.where(F.col("url").isNotNull()),
        max_per_host=CURATE_ARGS["max_per_host"], id_col="doc_id").select("doc_id")
        .unionByName(urls.where(F.col("url").isNull()).select("doc_id")))
    final, n_fin, ms_fin = stage("stratified_sample", textops.stratified_sample(
        kept.join(capped, "doc_id", "left_semi").join(ext.select("doc_id", "lang"), "doc_id"),
        strata_col="lang", fraction=CURATE_ARGS["sample_fraction"]))
    out = ctx.path("stages_final")
    _, ms_sink = timed(ctx, f"{wl}/sink", lambda: final.write.mode("overwrite").parquet(out))
    m = {
        "textops.line_dedup.ms": (ms_ld, "ms", 1),
        "textops.line_dedup.rows_out": (n_ld, "count", 1),
        "textops.substring_dedup_filter.ms": (ms_ss, "ms", 1),
        "textops.substring_dedup_filter.rows_out": (n_ss, "count", 1),
        "textops.gopher_quality_filter.ms": (ms_gq, "ms", 1),
        "textops.gopher_quality_filter.rows_out": (n_gq, "count", 1),
        "pipeline.host_cap.ms": (ms_hc, "ms", 1),
        "pipeline.host_cap.rows_out": (n_hc, "count", 1),
        "textops.stratified_sample.ms": (ms_fin, "ms", 1),
        "textops.stratified_sample.rows_out": (n_fin, "count", 1),
    }
    total = ms_ext + ms_ld + ms_ss + ms_gq + ms_hc + ms_fin + ms_sink
    return m, total, final_rows(out), held


CORPUS_METRICS = (
    "textops.line_dedup", "textops.substring_dedup_filter",
    "textops.gopher_quality_filter", "pipeline.host_cap",
    "textops.stratified_sample",
)


def run_traced(ctx: Context):
    import checks
    import eventlog

    event_dir = ctx.path("events")
    inputs, in_path, _ = set_up(ctx, event_dir)
    n = len(inputs)
    wl = ctx.workload
    # One discarded job first, so the composed job and the stage-by-stage
    # jobs after it all run warm and compare like with like.
    release(run_job(ctx, in_path, ctx.path("warm")))

    failures: list[str] = []
    attempted = 0
    composed_out = ctx.path("composed")
    handles, composed_ms = timed(ctx, f"{wl}/composed",
                                 lambda: run_job(ctx, in_path, composed_out))
    release(handles)
    m: dict[str, tuple] = {}
    if wl == "curate_corpus":
        corpus, stages_ms, stage_rows, held = curate_stages(ctx, in_path)
        m.update(corpus)
        m["pipeline.corpus_dedup_pipeline.composition_overhead_ms"] = (
            composed_ms - stages_ms, "ms", 1)
        composed_rows = final_rows(composed_out)
        attempted += len(composed_rows)
        if checks.row_set_hash(composed_rows) != checks.row_set_hash(stage_rows):
            failures += ["composed final differs from stage-by-stage final"] * len(composed_rows)
        release(held)
        m["pipeline.write_extracted.ms"] = (0.0, "ms", 0)
        m["pipeline.write_extracted.bytes"] = (0, "bytes", 0)
    else:
        from go_trafilatura_spark import pipeline

        pages = pipeline.read_pages(ctx.spark, in_path)
        ext = pipeline.extract_pages(pages, ctx.options).persist()
        timed(ctx, f"{wl}/stage/extract", ext.count)
        sink_out = ctx.path("sink")
        _, ms = timed(ctx, f"{wl}/sink", lambda: pipeline.write_extracted(ext, sink_out))
        ext.unpersist()
        m["pipeline.write_extracted.ms"] = (ms, "ms", 1)
        m["pipeline.write_extracted.bytes"] = (dir_bytes(sink_out), "bytes", 1)
        for name in CORPUS_METRICS:
            m[f"{name}.ms"] = (0.0, "ms", 0)
            m[f"{name}.rows_out"] = (0, "count", 0)
        m["pipeline.corpus_dedup_pipeline.composition_overhead_ms"] = (0.0, "ms", 0)
    stop_session(ctx)

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    ev = eventlog.EventLog(logs[0])
    spark_m = ev.metrics(f"{wl}/composed", ctx.nproc)
    sink_m = ev.metrics(f"{wl}/sink", ctx.nproc)
    for key, value in spark_m.items():
        if key.startswith("spark.sink."):
            value = sink_m[key]
        unit = ("bytes" if key.endswith("bytes") else "ms" if key.endswith("_ms")
                else "ratio")
        m[key] = (value, unit, 1)

    kernel_m, kernel_failures, traced = kernel_layer_metrics(ctx, inputs)
    m.update(kernel_m)
    failures += kernel_failures
    attempted += n
    if wl != "curate_corpus":
        attempted += n
        failures += checks.check_extracted(read_extracted(composed_out), inputs.expect, traced)
    return m, attempted, failures


# -- entry point -------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "go_trafilatura_spark")):
        print("layerbench: go_trafilatura_spark/ not found next to layerbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package, and all scratch stays inside
    # the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    ctx = Context(args)
    # Turn SIGTERM into SystemExit so the JVM is still stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TMPDIR"] = ctx.tmp
    os.environ["SPARK_LOCAL_DIRS"] = ctx.tmp
    # spark-submit's launcher JVM, which builds the driver's command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.tmp}"
    t0 = time.perf_counter()
    try:
        if args.trace:
            metrics, attempted, failures = run_traced(ctx)
        else:
            metrics, attempted, failures = run_untraced(ctx)
    finally:
        try:
            stop_session(ctx)
        finally:
            shutil.rmtree(ctx.work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f} s")

    for f in failures[:20]:
        log(f"FAIL {f}")
    fail_share = len(failures) / attempted
    print(f"workload {ctx.workload} seed {ctx.seed} nproc {ctx.nproc} "
          f"trace {args.trace}")
    for name, (value, unit, count) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (n={count})")
    print(f"fail_share = {fail_share:.6g} share (n={attempted})")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
