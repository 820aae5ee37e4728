"""One benchmark run: set up, measure a timed window of extraction jobs,
check every output, and with tracing on add the per-layer metrics.

Timeline of a run:
1. inputs: the cached page pool and the seed's draw from it, or its WARC
   files (generated once per seed; never timed);
2. set-up (setup_s): start a Spark session with ``session.get_spark``
   (launching the JVM) and run a first small extraction pass, which forks
   the Python workers, imports the kernels and builds the models. Once
   per run: a second set-up in the same process (a new SparkContext in
   the same JVM) costs ~6-9 s, more than a comparison of ~70 runs over
   the three workloads can spend within its hour;
3. the timed window: back-to-back jobs, each through the public job API
   from plan start to sink done, until ``--seconds`` have passed (at least
   one job); CPU time and RSS of the whole process tree are read from
   /proc around and during the jobs;
4. checks of every job's output against the ground truth;
5. with ``--trace 1``: Spark's stage/task/SQL metrics of each timed job,
   the driver-side commit timers (crawl_ingest), and a separate traced job
   whose kernel spans give the per-layer self times.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

from . import procfs
from .inputs import Inputs
from .workloads import WORKLOADS

# name -> unit; the order is the report order
END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_ms_per_doc": "ms",
    "char_accuracy": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
KERNEL_NAMES = (
    "imgio.decode_image", "png.to_grayscale", "binarize.nlbin", "pageseg.segment",
    "recognizer.recognize_page", "blla.segment_blla", "rpred_parity.recognize_lines",
    "htmlparse.seg_from_html", "ro.neural_reading_order", "metrics.cer",
    "lineextract.extract_line",
)
PER_LAYER = {
    "exact_share": "ratio",
    "cer_mean": "ratio",
    "failed_share": "ratio",
    **{f"kernels.{k}.{m}": u for k in KERNEL_NAMES
       for m, u in (("calls", "count"), ("self_ms_per_doc", "ms"))},
    "kernels.lines_per_doc": "lines/doc",
    "stages.extract_document.ms_p50": "ms",
    "stages.extract_document.ms_p99": "ms",
    "stages.extract_document.samples": "count",
    "stages.extract_document.self_ms_per_doc": "ms",
    "pipeline.plan_extraction.tasks": "count",
    "pipeline.plan_extraction.task_s_p50": "s",
    "pipeline.plan_extraction.task_s_max": "s",
    "pipeline.plan_extraction.core_idle_share": "ratio",
    "pipeline.plan_extraction.shuffle_write_mb": "MB",
    "pipeline.plan_extraction.shuffle_read_mb": "MB",
    "pipeline.plan_extraction.arrow_sent_mb": "MB",
    "pipeline.plan_extraction.arrow_recv_mb": "MB",
    "pipeline.plan_extraction.py_init_s": "s",
    "pipeline.plan_extraction.executor_cpu_s": "s",
    "pipeline.plan_extraction.gc_s": "s",
    "sources.warc.explode_warc.busy_s": "s",
    "sources.warc.explode_warc.records_out": "count",
    "sources.warc.explode_warc.mb_in": "MB",
    "sources.icetable.append_s": "s",
    "sources.icetable.commit_s": "s",
    "sources.icetable.read_incremental_s": "s",
    "sources.icetable.files_written": "count",
    "sources.icetable.mb_written": "MB",
    "session.get_spark_s": "s",
    "setup.first_pass_s": "s",
    "trace.overhead_share": "ratio",
    "trace.kernel_share": "ratio",
    "host.steal_share": "ratio",
}


def _configure_env(root: str, cache: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout, and
    let the Python workers import the benchmark's own modules."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _quantile(values, q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return float(v[min(len(v) - 1, int(q * len(v)))])


def run(root: str, workload: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None, inspect=None, log=print) -> dict:
    """One run; returns {correct, attempted, failed, metrics}. `sizes`
    overrides the workload's input sizes and `inspect(spark, wl, jobs)` is
    called before the session stops (both for the self-test)."""
    from kraken_spark.session import get_spark

    cache = os.path.join(root, ".perfbench_cache")
    cores = len(os.sched_getaffinity(0))
    _configure_env(root, cache)
    inputs = Inputs(cache, procs=cores)
    inputs.ensure_pool()
    wl = WORKLOADS[workload](inputs, seed, cores, **(sizes or {}))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{workload}", cores=cores,
                          master=f"local[{cores}]")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl.first_pass(spark)
        setup = (t1 - t0, time.perf_counter() - t1)
        wl.materialize(spark)
        result, jobs = _measure(spark, wl, seconds, trace, setup, log)
        if inspect:
            inspect(spark, wl, jobs)
        return result
    finally:
        if spark is not None:
            _stop_spark(spark)
        wl.close()


def _measure(spark, wl, seconds, trace, setup, log):
    """The timed window, the output checks and the metrics; returns
    (result, jobs)."""
    from .trace import ICETABLE, Tracer

    sc = spark.sparkContext
    commit_timer = Tracer(ICETABLE) if trace else None
    jobs = []
    if commit_timer:
        commit_timer.install()
    try:
        with procfs.PeakRss() as rss:
            start = time.perf_counter()
            while not jobs or time.perf_counter() - start < seconds:
                k = len(jobs)
                sc.setJobGroup(f"perfbench-job{k}", f"timed job {k}")
                n_spans = len(commit_timer.spans) if commit_timer else 0
                rss.take()
                steal0 = procfs.host_ticks()
                cpu0 = procfs.tree_usage()[0]
                t0 = time.perf_counter()
                try:
                    out, err = wl.run_job(spark, k), None
                except Exception:
                    out, err = None, traceback.format_exc()
                wall = time.perf_counter() - t0
                cpu = procfs.tree_usage()[0] - cpu0
                steal = [b - a for a, b in zip(steal0, procfs.host_ticks())]
                job = {"k": k, "wall": wall, "cpu": cpu, "rss": rss.take(),
                       "steal": steal[0] / max(1, steal[1]), "out": out, "err": err}
                if commit_timer:
                    job["spans"] = commit_timer.spans[n_spans:]
                jobs.append(job)
                if err:
                    break
    finally:
        if commit_timer:
            commit_timer.uninstall()
    sc.setJobGroup("perfbench-check", "output checks")

    errors, checks = [], []
    for job in jobs:
        if job["err"]:
            errors.append(f"job {job['k']} raised:\n{job['err']}")
            continue
        c = wl.check(spark, job["k"], wl.output_rows(spark, job["k"], job["out"]))
        errors += [f"job {job['k']}: {e}" for e in c.errors]
        job["check"] = c
        checks.append(c)
    attempted = len(wl.gt) * len(jobs)
    lost = len(wl.gt) * sum(1 for j in jobs if j["err"])
    missing = sum(c.missing for c in checks) + lost
    cer_mean = (sum(c.cer_sum for c in checks) + lost) / attempted
    errors += wl.extra_checks(cer_mean)
    ok_jobs = [j for j in jobs if not j["err"]]

    metrics = {
        "docs_per_s": _median([(j["check"].attempted - j["check"].missing) / j["wall"]
                               for j in ok_jobs]),
        "cpu_ms_per_doc": _median([j["cpu"] * 1e3 / j["check"].attempted
                                   for j in ok_jobs]),
        "char_accuracy": 1.0 - cer_mean,
        "setup_s": setup[0] + setup[1],
        "peak_rss_mb": _median([j["rss"] for j in ok_jobs]),
        "exact_share": sum(c.exact for c in checks) / attempted,
        "cer_mean": cer_mean,
        "failed_share": (sum(c.guard_tripped for c in checks) + missing) / attempted,
        "host.steal_share": _median([j["steal"] for j in jobs]),
        "session.get_spark_s": setup[0],
        "setup.first_pass_s": setup[1],
    }
    walls = [w for c in checks for w in c.wall_ms.values()]
    lines = [n for c in checks for n in c.n_lines]
    metrics["stages.extract_document.ms_p50"] = _quantile(walls, 0.5)
    metrics["stages.extract_document.ms_p99"] = _quantile(walls, 0.99)
    metrics["stages.extract_document.samples"] = len(walls)
    metrics["kernels.lines_per_doc"] = statistics.fmean(lines) if lines else 0.0
    log(f"perfbench: {wl.name}: setup {setup[0]:.2f} + {setup[1]:.2f} s, "
        f"{len(jobs)} timed jobs, {attempted} docs, "
        f"job walls {[round(j['wall'], 3) for j in jobs]}")
    if trace and ok_jobs:
        metrics.update(_per_layer(spark, wl, ok_jobs))
    elif trace:  # every job raised: nothing to attribute
        metrics.update({n: 0.0 for n in PER_LAYER if n not in metrics})
    for e in errors:
        log(f"perfbench: check failed: {e}")
    return {"correct": not errors, "attempted": attempted, "failed": missing,
            "metrics": metrics}, jobs


def _per_layer(spark, wl, jobs) -> dict:
    from .sparkmetrics import SparkMetrics
    from .trace import DOC_SPAN, traced_plan, self_times

    collector = SparkMetrics(spark.sparkContext)
    per_job: dict[str, list] = {}
    for j in jobs:
        got = collector.group(f"perfbench-job{j['k']}", j["wall"])
        spans = j.get("spans", [])
        for name in ("append", "commit", "read_incremental"):
            got[f"sources.icetable.{name}_s"] = sum(
                r[5] - r[4] for r in spans if r[1] == f"sources.icetable.{name}")
        got["sources.icetable.files_written"], got["sources.icetable.mb_written"] = (
            wl.written(j["k"]))
        for name, v in got.items():
            per_job.setdefault(name, []).append(v)
    out = {name: _median(v) for name, v in per_job.items()}

    spark.sparkContext.setJobGroup("perfbench-trace", "traced run")
    spans = [tuple(r) for r in
             traced_plan(wl.traced_frame(spark), **wl.plan_kwargs).collect()]
    self_ms, calls, doc_ms = self_times(spans)
    n_docs = max(1, len(doc_ms))
    for k in KERNEL_NAMES:
        out[f"kernels.{k}.calls"] = calls.get(f"kernels.{k}", 0)
        out[f"kernels.{k}.self_ms_per_doc"] = self_ms.get(f"kernels.{k}", 0.0) / n_docs
    out["stages.extract_document.self_ms_per_doc"] = self_ms.get(DOC_SPAN, 0.0) / n_docs
    # the untraced jobs' own per-document times for the same documents
    untraced: dict[str, list] = {}
    for j in jobs:
        for url, w in j["check"].wall_ms.items():
            if url in doc_ms:
                untraced.setdefault(url, []).append(w)
    urls = [u for u in doc_ms if u in untraced]
    base = statistics.fmean(statistics.fmean(untraced[u]) for u in urls) if urls else 0.0
    traced = statistics.fmean(doc_ms[u] for u in urls) if urls else 0.0
    kernel_ms = sum(v for name, v in self_ms.items() if name != DOC_SPAN) / n_docs
    out["trace.overhead_share"] = traced / base - 1.0 if base else 0.0
    out["trace.kernel_share"] = kernel_ms / base if base else 0.0
    return out


def emit(result: dict, trace: bool, log=print) -> dict:
    """Report every computed metric with its unit, then return the
    contract's result object: end-to-end metrics without tracing, the
    per-layer ones with it."""
    units = {**END_TO_END, **PER_LAYER}
    for name, value in result["metrics"].items():
        log(f"  {name} = {value:.6g} {units.get(name, '')}")
    wanted = PER_LAYER if trace else END_TO_END
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {name: {"value": float(result["metrics"][name]), "unit": unit}
                    for name, unit in wanted.items()},
    }
