"""Traced run: spans around the public kernel functions, recorded inside the
Spark Python workers.

The benchmark wraps the functions from its own files (the program is not
changed): for the duration of one task, each name in ``KERNELS`` is
replaced on its module by a wrapper that records a span (name, start, end,
parent span, url as the trace id). Spans stay in the worker's memory and
leave as the task's output rows, so the traced job runs with exactly the
worker environment of the untraced jobs (``session._PIN_ENV`` through
``spark.executorEnv``). The wrappers are removed when the task ends,
because Python workers are reused by later tasks.

A layer's self time is its span's duration minus the time its direct child
spans cover.
"""

from __future__ import annotations

import importlib
import time
from collections import defaultdict

# (module, attribute path) -> reported span name
KERNELS = {
    ("kraken_spark.stages", "extract_document"): "stages.extract_document",
    ("kraken_spark.kernels.imgio", "decode_image"): "kernels.imgio.decode_image",
    ("kraken_spark.kernels.png", "to_grayscale"): "kernels.png.to_grayscale",
    ("kraken_spark.kernels.binarize", "nlbin"): "kernels.binarize.nlbin",
    ("kraken_spark.kernels.pageseg", "segment"): "kernels.pageseg.segment",
    ("kraken_spark.kernels.recognizer", "recognize_page"): "kernels.recognizer.recognize_page",
    ("kraken_spark.kernels.blla", "segment_blla"): "kernels.blla.segment_blla",
    ("kraken_spark.kernels.rpred_parity", "LoadedRecognizer.recognize_lines"):
        "kernels.rpred_parity.recognize_lines",
    ("kraken_spark.kernels.htmlparse", "seg_from_html"): "kernels.htmlparse.seg_from_html",
    ("kraken_spark.kernels.ro", "neural_reading_order"): "kernels.ro.neural_reading_order",
    ("kraken_spark.kernels.metrics", "cer"): "kernels.metrics.cer",
    ("kraken_spark.kernels.lineextract", "extract_line"): "kernels.lineextract.extract_line",
}
DOC_SPAN = "stages.extract_document"
SPAN_DDL = "trace_id string, name string, span int, parent int, start double, end double"


# driver-side commit path of crawl_ingest (run_extraction's ice sink)
ICETABLE = {
    ("kraken_spark.sources.icetable", "append"): "sources.icetable.append",
    ("kraken_spark.sources.icetable", "_commit_new_files"): "sources.icetable.commit",
    ("kraken_spark.sources.icetable", "read_incremental"): "sources.icetable.read_incremental",
}


class Tracer:
    """In-memory span recorder over the functions named in `targets`."""

    def __init__(self, targets: dict = KERNELS):
        self.targets = targets
        self.spans: list[list] = []  # [trace_id, name, span, parent, start, end]
        self._stack: list[int] = []
        self._trace_id = ""
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if name == DOC_SPAN:
                tracer._trace_id = kwargs.get("url", args[1] if len(args) > 1 else "")
            span = len(tracer.spans)
            rec = [tracer._trace_id, name, span,
                   tracer._stack[-1] if tracer._stack else -1, 0.0, 0.0]
            tracer.spans.append(rec)
            tracer._stack.append(span)
            rec[4] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                rec[5] = time.perf_counter()
                tracer._stack.pop()

        return traced

    def install(self) -> None:
        for (mod_name, attr), name in self.targets.items():
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf]
            self._undo.append((owner, leaf, original))
            setattr(owner, leaf, self._wrap(original, name))

    def uninstall(self) -> None:
        while self._undo:
            owner, leaf, original = self._undo.pop()
            setattr(owner, leaf, original)


def traced_extract_map(plan_kwargs: dict):
    """mapInArrow body: the program's own fused extraction stage
    (stages.make_extract_map) run under a Tracer; emits the spans."""

    def run(batches):
        import pyarrow as pa

        from kraken_spark.stages import make_extract_map

        tracer = Tracer()
        tracer.install()
        try:
            for _ in make_extract_map(**plan_kwargs)(batches):
                pass
        finally:
            tracer.uninstall()
        cols = list(zip(*tracer.spans)) or [[]] * 6
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.string()),
             pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.int32()),
             pa.array(cols[4], pa.float64()), pa.array(cols[5], pa.float64())],
            names=["trace_id", "name", "span", "parent", "start", "end"])

    return run


def traced_plan(documents, **plan_kwargs):
    """The plan shape of pipeline.plan_extraction at its default partition
    count (weight-salted repartition into one fused Arrow stage) with the
    traced stage body; a DataFrame of SPAN_DDL rows."""
    from kraken_spark.pipeline import weight_salt

    spark = documents.sparkSession
    n = spark.sparkContext.defaultParallelism * 4
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang") if c in documents.columns]
    salt, total = weight_salt(n)
    df = documents.select(*cols).repartition(total, salt.alias("salt"))
    return df.mapInArrow(traced_extract_map(plan_kwargs), schema=SPAN_DDL)


def self_times(spans) -> tuple[dict[str, float], dict[str, int], dict[str, float]]:
    """Per name: summed self ms and call count; per trace id: the
    document span's duration in ms. `spans` are rows of SPAN_DDL from one
    or more tasks; span/parent ids are task-local, so children are matched
    within a trace id (each document runs inside one task)."""
    by_doc: dict[str, list] = defaultdict(list)
    for r in spans:
        by_doc[r[0]].append(r)
    self_ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    doc_ms: dict[str, float] = {}
    for trace_id, rows in by_doc.items():
        child_ms: dict[int, float] = defaultdict(float)
        for r in rows:
            if r[3] >= 0:
                child_ms[r[3]] += (r[5] - r[4]) * 1e3
        for r in rows:
            dur = (r[5] - r[4]) * 1e3
            self_ms[r[1]] += dur - child_ms[r[2]]
            calls[r[1]] += 1
            if r[1] == DOC_SPAN:
                doc_ms[trace_id] = dur
    return dict(self_ms), dict(calls), doc_ms
