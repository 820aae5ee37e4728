"""The benchmark's workloads. Each runs the program through its public job
API — ``pipeline.plan_extraction`` / ``pipeline.run_extraction`` and
``sources.warc.explode_warc`` — and checks every output document against
the ground truth the generator kept.

Why these three (see BENCHMARK.json):
- page_scan: image kernels dominate (decode, nlbin, pageseg, template
  recognizer); 1% oversized pages trip pageseg's admission guard and show
  in failed_share.
- neural_ocr: the blla segmenter plus the trained CNN+BiLSTM recognizer;
  the oversized pages are ~10x stragglers, so task skew and idle cores show.
- crawl_ingest: WARC -> DOM boilerplate strip -> ice table commit; the
  kernel is cheap, so Spark transport, shuffle and the commit dominate.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from .inputs import Inputs

ROW_COLS = ("url", "text", "guard_tripped", "cer", "wall_ms", "n_lines")
# the trained recognizer is not byte-exact; tests pin it at CER <= 0.02 on
# held-out lines, so a page mean above this band means broken recognition
NEURAL_CER_BAND = 0.05


def levenshtein(a: str, b: str) -> int:
    """Edit distance, one numpy row per character of `a`. Kept apart from
    kernels.metrics so the gate can check the program's own cer column."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    bb = np.array([ord(c) for c in b], dtype=np.int64)
    idx = np.arange(len(b) + 1, dtype=np.int64)
    prev = idx.copy()
    cur = np.empty_like(prev)
    for ch in a:
        cur[0] = prev[0] + 1
        np.minimum(prev[:-1] + (bb != ord(ch)), prev[1:] + 1, out=cur[1:])
        # insertions: cur[j] = min_k<=j (cur[k] + j - k)
        prev = np.minimum.accumulate(cur - idx) + idx
    return int(prev[-1])


def cer(reference: str, hypothesis: str) -> float:
    """Character error rate: edits / len(reference); an empty reference
    scores 0 against an empty hypothesis and 1 otherwise."""
    if not reference:
        return 0.0 if not hypothesis else 1.0
    return levenshtein(reference, hypothesis) / len(reference)


@dataclass
class JobCheck:
    """Outcome of checking one timed job's output against ground truth."""

    attempted: int = 0
    missing: int = 0
    guard_tripped: int = 0
    exact: int = 0
    cer_sum: float = 0.0
    errors: list[str] = field(default_factory=list)
    wall_ms: dict[str, float] = field(default_factory=dict)
    n_lines: list[int] = field(default_factory=list)


def check_rows(rows, gt: dict[str, str], exact_required: bool,
               program_cer: bool, guard_ok=frozenset()) -> JobCheck:
    """rows: (url, text, guard_tripped, cer, wall_ms, n_lines) tuples.
    Every ground-truth url must appear exactly once. A missing document
    scores CER 1. Only the urls in guard_ok (the oversized pages, whose
    size trips pageseg's admission guard) may come back guard-tripped.
    exact_required: every other document must be byte-identical to its
    ground truth. program_cer: the program's own cer column must equal the
    benchmark's."""
    c = JobCheck(attempted=len(gt))
    seen = set()
    for url, text, guard, p_cer, wall, n_lines in rows:
        if url not in gt or url in seen:
            c.errors.append(f"unexpected or duplicate output row {url}")
            continue
        seen.add(url)
        truth = gt[url]
        score = cer(truth, text or "")
        c.cer_sum += score
        c.wall_ms[url] = wall
        c.n_lines.append(n_lines)
        if guard:
            c.guard_tripped += 1
            if url not in guard_ok:
                c.errors.append(f"{url} is guard-tripped but not an oversized page")
        if text == truth:
            c.exact += 1
        elif exact_required and not guard:
            c.errors.append(f"text of {url} differs from ground truth (cer {score:.4f})")
        if program_cer and (p_cer is None or abs(p_cer - score) > 1e-9):
            c.errors.append(f"cer column of {url} is {p_cer}, expected {score}")
    c.missing = len(gt) - len(seen)
    c.cer_sum += c.missing
    if c.missing:
        c.errors.append(f"{c.missing} documents missing from the output")
    return c


class Workload:
    """One workload; `gt` maps each input url to its ground-truth text.
    The methods below are hooks a workload may leave at their defaults."""

    gt: dict[str, str]
    guard_ok: frozenset = frozenset()  # urls that may come back guard-tripped

    def materialize(self, spark) -> None:
        """Prepare the timed jobs' inputs inside the session."""

    def output_rows(self, spark, k: int, out) -> list[tuple]:
        """Job k's output as ROW_COLS tuples; `out` is what run_job returned."""
        return out

    def extra_checks(self, cer_mean: float) -> list[str]:
        return []

    def written(self, k: int) -> tuple[int, float]:
        """(data files, MB) job k wrote."""
        return 0, 0.0

    def close(self) -> None:
        pass


class PageWorkload(Workload):
    """Page images from the shared pool through plan_extraction, collected
    (url, text, flags, timings) at the driver."""

    docs = 200
    plan_kwargs: dict = {}
    exact_required = True

    def __init__(self, inputs: Inputs, seed: int, cores: int, **sizes):
        self.__dict__.update(sizes)
        self.inputs = inputs
        self.cores = cores
        self.urls = inputs.page_urls(self.name, seed, self.docs)
        self.gt = inputs.ground_truth(self.urls)
        self.guard_ok = frozenset(inputs.oversized_urls() & set(self.urls))
        self.frame = None

    def first_pass(self, spark) -> None:
        from kraken_spark.pipeline import plan_extraction

        docs = self.inputs.pool_frame(spark, self.inputs.warm_urls(self.cores))
        plan_extraction(docs, **self.plan_kwargs).select(*ROW_COLS).collect()

    def materialize(self, spark) -> None:
        """Pin the documents in executor memory, so timed jobs start from
        in-memory documents."""
        self.frame = self.inputs.pool_frame(spark, self.urls).localCheckpoint(eager=True)

    def run_job(self, spark, k: int):
        from kraken_spark.pipeline import plan_extraction

        ext = plan_extraction(self.frame, **self.plan_kwargs)
        return [tuple(r) for r in ext.select(*ROW_COLS).collect()]

    def check(self, spark, k: int, rows) -> JobCheck:
        return check_rows(rows, self.gt, self.exact_required, program_cer=True,
                          guard_ok=self.guard_ok)

    def traced_frame(self, spark):
        return self.frame


class PageScan(PageWorkload):
    name = "page_scan"
    plan_kwargs = {"segmenter": "pageseg"}


class NeuralOcr(PageWorkload):
    name = "neural_ocr"
    docs = 100
    exact_required = False

    def __init__(self, inputs, seed, cores, **sizes):
        from kraken_spark.kernels.rec_train import ASSET

        self.plan_kwargs = {"segmenter": "blla", "kraken_model_path": ASSET}
        super().__init__(inputs, seed, cores, **sizes)

    def extra_checks(self, cer_mean: float) -> list[str]:
        if cer_mean > NEURAL_CER_BAND:
            return [f"neural_ocr cer_mean {cer_mean:.4f} above {NEURAL_CER_BAND}"]
        return []


class CrawlIngest(Workload):
    """Seeded web pages packed into .warc.gz files -> explode_warc ->
    run_extraction(table_format="ice", metrics_path=...), committing a data
    snapshot and a metrics snapshot into fresh tables on every job."""

    name = "crawl_ingest"
    files = 32
    docs_per_file = 120
    plan_kwargs: dict = {}

    def __init__(self, inputs: Inputs, seed: int, cores: int, **sizes):
        self.__dict__.update(sizes)
        crawl = inputs.crawl_files(seed, self.files, self.docs_per_file)
        self.paths, self.gt = crawl["files"], crawl["gt"]
        self.work_dir = os.path.join(inputs.cache_dir, "runs", str(os.getpid()))
        os.makedirs(self.work_dir, exist_ok=True)

    def _docs(self, spark, files):
        from kraken_spark.sources.warc import explode_warc

        return explode_warc(spark.read.format("binaryFile").load(files)
                            .select("path", "content"))

    def _tables(self, tag: str) -> tuple[str, str]:
        return (os.path.join(self.work_dir, f"{tag}-out"),
                os.path.join(self.work_dir, f"{tag}-metrics"))

    def first_pass(self, spark) -> None:
        from kraken_spark.pipeline import run_extraction

        out, metrics = self._tables(f"setup{len(os.listdir(self.work_dir))}")
        run_extraction(self._docs(spark, self.paths[:1]), out_path=out,
                       metrics_path=metrics, run_id="setup", table_format="ice")

    def run_job(self, spark, k: int):
        from kraken_spark.pipeline import run_extraction

        out, metrics = self._tables(f"job{k}")
        run_extraction(self._docs(spark, self.paths),
                       out_path=out, metrics_path=metrics, run_id=f"job{k}",
                       table_format="ice")

    def output_rows(self, spark, k: int, out=None) -> list[tuple]:
        """The rows job k committed, read back from the data table's head
        snapshot."""
        from kraken_spark.pipeline import read_output

        out_path, _ = self._tables(f"job{k}")
        return [tuple(r) for r in
                read_output(spark, out_path, "ice").select(*ROW_COLS).collect()]

    def check(self, spark, k: int, rows) -> JobCheck:
        """Committed rows (none may be guard-tripped) and the metrics
        snapshot's document count."""
        import pyspark.sql.functions as F

        from kraken_spark.sources import icetable

        c = check_rows(rows, self.gt, exact_required=True, program_cer=False)
        _, metrics = self._tables(f"job{k}")
        n_metrics = icetable.read(spark, metrics).agg(F.sum("n_docs")).first()[0]
        if n_metrics != c.attempted:
            c.errors.append(f"metrics snapshot counts {n_metrics} docs, "
                            f"{c.attempted} were packed")
        return c

    def written(self, k: int) -> tuple[int, float]:
        """(data files, MB) the job's two commits wrote."""
        n, size = 0, 0
        for table in self._tables(f"job{k}"):
            for root, _, names in os.walk(table):
                for name in names:
                    if name.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, name))
        return n, size / 1e6

    def traced_frame(self, spark):
        return self._docs(spark, self.paths)

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PageScan, NeuralOcr, CrawlIngest)}
