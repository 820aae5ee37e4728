"""Seeded workload inputs, cached under the checkout's ``.perfbench_cache``.

Page images are expensive to render (~0.35 s per page on one core), so the
benchmark renders one shared page pool once per checkout — a fixed number
of normal and oversized pages, all from corpus seed ``POOL_SEED`` — and the
workload seed then draws each run's documents from that pool. Every draw
holds exactly ``OVERSIZED_SHARE`` of oversized pages (at least one), the
generator's nominal rate, so a run never loses or doubles the straggler
pages by chance and the figures stay comparable across seeds.
The oversized pages are kept as rendered: none is filtered or resized.

crawl_ingest reuses the pool's ground-truth texts: each crawl document
wraps one of them in seeded web chrome (``htmlparse.write_boilerplate_page``)
under its own url, and the documents are packed into ``.warc.gz`` files.
"""

from __future__ import annotations

import functools
import json
import multiprocessing
import os
import zlib

import numpy as np

POOL_SEED = 42
POOL_NORMAL = 400
POOL_OVERSIZED = 6
OVERSIZED_SHARE = 0.01


def _pool_indices() -> tuple[list[int], list[int]]:
    """First POOL_NORMAL normal and POOL_OVERSIZED oversized doc indices of
    the corpus at POOL_SEED. render_document draws the oversized flag first
    from doc_rng, so the split is known without rendering."""
    from kraken_spark.kernels.render import doc_rng

    normal, oversized = [], []
    i = 0
    while len(normal) < POOL_NORMAL or len(oversized) < POOL_OVERSIZED:
        if doc_rng(POOL_SEED, i).random() < 0.01:
            if len(oversized) < POOL_OVERSIZED:
                oversized.append(i)
        elif len(normal) < POOL_NORMAL:
            normal.append(i)
        i += 1
    return normal, oversized


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


class Inputs:
    """The cache directory and the inputs generated into it."""

    def __init__(self, cache_dir: str, procs: int):
        self.cache_dir = cache_dir
        self.procs = max(1, procs)
        os.makedirs(cache_dir, exist_ok=True)
        self.pool_path = os.path.join(
            cache_dir, f"pool-s{POOL_SEED}-n{POOL_NORMAL}-o{POOL_OVERSIZED}.parquet"
        )

    def ensure_pool(self) -> str:
        """Render the page pool once, in spawned worker processes; later
        calls only find the cached parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kraken_spark.corpus import _render_rows

        if os.path.exists(self.pool_path):
            return self.pool_path
        normal, oversized = _pool_indices()
        # oversized pages first: they take ~4x longer, so they start early
        idx = oversized + normal
        n_chunks = self.procs * 4
        chunks = [idx[k::n_chunks] for k in range(n_chunks)]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(self.procs) as pool:
            batches = pool.map(functools.partial(_render_rows, POOL_SEED), chunks)
        table = pa.Table.from_batches(batches)
        # the renderer's oversized flag, from the split _pool_indices knows
        flagged = {f"page-{i:08d}" for i in oversized}
        table = table.append_column("oversized", pa.array(
            [u.rsplit("/", 1)[1] in flagged for u in table.column("url").to_pylist()]))
        table = table.sort_by("url")
        tmp = f"{self.pool_path}.tmp{os.getpid()}"
        pq.write_table(table, tmp, row_group_size=32)
        os.replace(tmp, self.pool_path)
        return self.pool_path

    def _pool_column(self, *names: str) -> dict[str, list]:
        import pyarrow.parquet as pq

        return pq.read_table(self.ensure_pool(), columns=list(names)).to_pydict()

    def page_urls(self, workload: str, seed: int, n_docs: int) -> list[str]:
        """`n_docs` pool pages drawn by `seed`: OVERSIZED_SHARE of them (at
        least one) oversized, the normal ones stratified by line count — one
        page from each stratum of the line-count-sorted pool — so the work
        in a draw (which grows with its lines) varies little across seeds.
        Cached per (workload, seed, size)."""
        path = os.path.join(self.cache_dir, f"{workload}-s{seed}-n{n_docs}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        col = self._pool_column("url", "text", "oversized")
        pages = sorted((t.count("\n") + 1, u, o)
                       for u, t, o in zip(col["url"], col["text"], col["oversized"]))
        over = [u for _, u, o in pages if o]
        normal = [u for _, u, o in pages if not o]
        n_over = max(1, round(n_docs * OVERSIZED_SHARE))
        if n_over > len(over) or n_docs - n_over > len(normal):
            raise ValueError("page pool too small for the requested draw")
        rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
        urls = [str(u) for u in rng.choice(over, n_over, replace=False)]
        bounds = np.linspace(0, len(normal), n_docs - n_over + 1).astype(int)
        urls += [normal[rng.integers(lo, hi)] for lo, hi in zip(bounds[:-1], bounds[1:])]
        urls = [str(u) for u in rng.permutation(urls)]
        _atomic_write(path, json.dumps(urls).encode())
        return urls

    def warm_urls(self, n: int) -> list[str]:
        """The n normal pool pages nearest the median line count: the same
        small first-pass input for every seed."""
        col = self._pool_column("url", "text", "oversized")
        pages = sorted((t.count("\n") + 1, u)
                       for u, t, o in zip(col["url"], col["text"], col["oversized"])
                       if not o)
        mid = len(pages) // 2 - n // 2
        return [u for _, u in pages[mid:mid + n]]

    def pool_frame(self, spark, urls: list[str]):
        """The documents table (url, warc_ts, html, text, lang) of the given
        pool urls."""
        import pyspark.sql.functions as F

        return (spark.read.parquet(self.pool_path)
                .where(F.col("url").isin(urls))
                .select("url", "warc_ts", "html", "text", "lang"))

    def oversized_urls(self) -> set[str]:
        col = self._pool_column("url", "oversized")
        return {u for u, o in zip(col["url"], col["oversized"]) if o}

    def ground_truth(self, urls) -> dict[str, str]:
        col = self._pool_column("url", "text")
        want = set(urls)
        return {u: t for u, t in zip(col["url"], col["text"]) if u in want}

    def crawl_files(self, seed: int, n_files: int, docs_per_file: int) -> dict:
        """`n_files` .warc.gz files holding `docs_per_file` seeded web pages
        each: {"files": [paths], "gt": {url: text}}. Cached per (seed, size)."""
        root = os.path.join(self.cache_dir,
                            f"crawl_ingest-s{seed}-n{n_files}x{docs_per_file}")
        index = os.path.join(root, "index.json")
        if not os.path.exists(index):
            self._write_crawl(root, index, seed, n_files, docs_per_file)
        with open(index) as f:
            crawl = json.load(f)
        crawl["files"] = [os.path.join(root, name) for name in crawl["files"]]
        return crawl

    def _write_crawl(self, root, index, seed, n_files, docs_per_file):
        from kraken_spark.kernels.htmlparse import write_boilerplate_page
        from kraken_spark.sources.warc import write_warc_gz

        os.makedirs(root, exist_ok=True)
        col = self._pool_column("text", "lang", "oversized")
        texts = [(t, l) for t, l, o in zip(col["text"], col["lang"], col["oversized"])
                 if not o]
        rng = np.random.default_rng([seed, zlib.crc32(b"crawl_ingest")])
        order = rng.permutation(len(texts))
        files, gt, j = [], {}, 0
        for fi in range(n_files):
            rows = []
            for _ in range(docs_per_file):
                text, lang = texts[order[j % len(texts)]]
                url = f"https://crawl{seed}.example.net/{lang}/doc-{j:07d}"
                rows.append({
                    "url": url,
                    "warc_ts": f"2026-01-01T00:{j // 60 % 60:02d}:{j % 60:02d}Z",
                    "html": write_boilerplate_page(text, lang, url, seed=seed),
                    "lang": lang,
                })
                gt[url] = text
                j += 1
            name = f"file{fi:03d}.warc.gz"
            _atomic_write(os.path.join(root, name), write_warc_gz(rows))
            files.append(name)
        _atomic_write(index, json.dumps({"files": files, "gt": gt}).encode())
