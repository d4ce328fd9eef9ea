"""The benchmark workloads.

Each workload prepares seeded inputs and its reference answers without
Spark, runs one timed call into the program per iteration, checks that
call's output, and (traced run only) times calls into each layer's public
functions from outside.  Why each workload exists is recorded with it in
``BENCHMARK.json`` and ``WORKLOADS.md``.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing
import os
import shutil
import statistics
import time
from concurrent.futures import ProcessPoolExecutor

import pyarrow.parquet as pq

from manga_translator_spark.corpus import generate_page
from perfbench import inputs

# Input sizes, fixed per workload; the seed changes content and row order.
CRAWL_PAGES = 8000
CRAWL_FILES = 8
# image-dense pages extracted once in the traced run, where the recognize
# kernel outweighs the parse kernel (crawl pages have the opposite mix)
IMAGE_PAGES = 400
DOCS = 1000
VECTORS = 500
# staged tables use small row groups so the DuckDB twins scan them on all
# cores; Spark reads each table as one split either way
TWIN_ROW_GROUP = 64
# pages timed through the parse and recognize kernels in one process
KERNEL_SAMPLE = 300

EMBED_QUERIES = ("embedding_near_dup", "ann_in_bucket_topk", "semantic_dedup")


def text_digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _stage_part(job: tuple) -> dict[str, str]:
    from manga_translator_spark.oracle import extract_page

    make, lo, hi, seed, path, k = job
    rows = [make(i, seed) for i in range(lo, hi)]
    inputs.write_part(rows, path, k)
    return {r["url"]: text_digest(extract_page(r["url"], r["html"]).extracted_text) for r in rows}


def stage_pages(make, n: int, seed: int, path: str) -> dict[str, str]:
    """Pages ``make(i, seed)`` for i < n as CRAWL_FILES parquet files, made
    in parallel over the host's cores; returns url -> sha256 of their oracle
    extracted_text."""
    os.makedirs(path)
    step = -(-n // CRAWL_FILES)
    jobs = [(make, k * step, min(n, (k + 1) * step), seed, path, k) for k in range(CRAWL_FILES)]
    expected: dict[str, str] = {}
    # set-up forks these before the session starts: no JVM, no threads yet
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(len(os.sched_getaffinity(0)), mp_context=ctx) as pool:
        for part in pool.map(_stage_part, jobs):
            expected.update(part)
    return expected


def compare_texts(got: list[tuple[str, str]], expected: dict[str, str]) -> list[str]:
    """Problems with (url, extracted_text) output rows against expected
    url -> sha256(text); empty when every url is present once and
    byte-identical."""
    problems = []
    if len(got) != len(expected):
        problems.append(f"{len(got)} rows out for {len(expected)} pages in")
    seen = set()
    for url, text in got:
        if url in seen:
            problems.append(f"duplicate url {url}")
        seen.add(url)
        want = expected.get(url)
        if want is None:
            problems.append(f"unexpected url {url}")
        elif text_digest(text) != want:
            problems.append(f"extracted_text differs for {url}")
    missing = len(set(expected) - seen)
    if missing:
        problems.append(f"{missing} urls missing")
    return problems[:5]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns by name and rows as a sorted multiset, floats to 9 places —
    the order-insensitive comparison the twins are held to."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    normed = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(normed, key=repr)


def compare_rows(name: str, got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> list[str]:
    gc, gr = normalize(*got)
    if gc != want[0]:
        return [f"{name}: columns {gc} vs twin {want[0]}"]
    if len(gr) != len(want[1]):
        return [f"{name}: {len(gr)} rows vs twin {len(want[1])}"]
    if gr != want[1]:
        return [f"{name}: values differ from twin"]
    return []


def _tree_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Workload:
    """One workload over inputs staged in ``work``.

    ``rows`` input rows complete per timed call.  ``prepare`` stages the
    inputs and computes the expected answers without Spark; ``run`` is the
    timed call; ``check`` returns the problems with one call's output;
    ``layers`` gives the per-layer metrics of calls it times itself.
    Set-up makes ``warm_calls`` checked calls before timing starts; an
    untraced run then times at least ``min_calls`` calls."""

    name = ""
    rows = 0
    warm_calls = 1
    min_calls = 1

    def __init__(self, work: str, seed: int, traced: bool = False):
        self.work = work
        self.seed = seed
        self.traced = traced
        self.expected = None

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self, spark, out: str, tag: str):
        raise NotImplementedError

    def check(self, out: str, result) -> list[str]:
        raise NotImplementedError

    def layers(self, spark, tracer) -> dict[str, float]:
        raise NotImplementedError


class ExtractCrawl(Workload):
    """``sources.lineage.run_extraction`` with ``jobs/extract.py``'s
    defaults (32 buckets, 8 per job) over the program's seeded corpus."""

    name = "extract_crawl"
    rows = CRAWL_PAGES

    @property
    def pages(self) -> str:
        return os.path.join(self.work, "pages")

    @property
    def image_pages(self) -> str:
        return os.path.join(self.work, "image_pages")

    def prepare(self) -> None:
        # the rows sources.pages.corpus_df generates, byte for byte: ~2.9 KB
        # of HTML, 0-2 glyph PNGs per page, Zipf hosts
        self.expected = stage_pages(generate_page, self.rows, self.seed, self.pages)
        if self.traced:
            self.image_expected = stage_pages(inputs.image_page, IMAGE_PAGES, self.seed, self.image_pages)

    def run(self, spark, out, tag):
        from manga_translator_spark.sources.lineage import run_extraction
        from manga_translator_spark.sources.pages import read_pages

        run_extraction(
            spark,
            read_pages(spark, self.pages),
            os.path.join(out, "extracted"),
            os.path.join(out, "lineage"),
            n_buckets=32,
            buckets_per_job=8,
            run_id=tag,
        )

    @staticmethod
    def check_extracted(path: str, expected: dict[str, str]) -> list[str]:
        t = pq.read_table(path, columns=["url", "extracted_text"])
        return compare_texts(list(zip(t["url"].to_pylist(), t["extracted_text"].to_pylist())), expected)

    def check(self, out, result):
        problems = self.check_extracted(os.path.join(out, "extracted"), self.expected)
        lin = pq.read_table(os.path.join(out, "lineage"), columns=["status", "rows_out"])
        statuses = set(lin["status"].to_pylist())
        if statuses != {"done"}:
            problems.append(f"lineage statuses {sorted(statuses)}")
        if sum(lin["rows_out"].to_pylist()) != self.rows:
            problems.append("lineage rows_out does not sum to the input count")
        return problems

    @staticmethod
    def lineage_stages(out: str) -> dict[str, float]:
        """The fused stage accumulators and group walls one run recorded in
        its lineage table (one row per bucket, repeated per group)."""
        t = pq.read_table(os.path.join(out, "lineage"), columns=["wall_ms", "stage_ms"]).to_pylist()
        groups = {(r["wall_ms"], tuple(sorted(r["stage_ms"]))) for r in t}
        ms = {"parse_ms": 0, "recognize_ms": 0, "assemble_ms": 0}
        for _, stage in groups:
            for k, v in stage:
                ms[k] += v
        return {**ms, "groups": len(groups), "group_s_max": max(w for w, _ in groups) / 1000}

    def kernel_sample(self) -> dict[str, float]:
        """Parse and recognize kernels timed in this process on the first
        KERNEL_SAMPLE staged pages."""
        from manga_translator_spark.functions.blocks import CLS_EMBEDDED_IMG, extract_blocks
        from manga_translator_spark.functions.normalize import is_blank
        from manga_translator_spark.functions.recognize_kernel import recognize_batch

        pages = inputs.read_pages_local(self.pages)[:KERNEL_SAMPLE]
        t0 = time.perf_counter()
        blocks = [extract_blocks(p["html"]) for p in pages]
        parse_s = time.perf_counter() - t0
        payloads = [
            b.img_payload
            for bl in blocks
            for b in bl
            if b.cls == CLS_EMBEDDED_IMG and b.img_payload is not None
        ]
        recognize_batch(payloads[:1])  # model weights load once per process
        t0 = time.perf_counter()
        texts = recognize_batch(payloads)
        rec_s = time.perf_counter() - t0
        return {
            "functions.blocks.ms_per_page": parse_s * 1000 / len(pages),
            "functions.recognize_kernel.images": len(payloads),
            "functions.recognize_kernel.ms_per_image": rec_s * 1000 / max(len(payloads), 1),
            "functions.recognize_kernel.nonblank_ratio": sum(not is_blank(t) for t in texts) / max(len(texts), 1),
        }

    def layers(self, spark, tracer):
        from manga_translator_spark.operators.fused import create_stage_metrics
        from manga_translator_spark.plans.pipeline import extract
        from manga_translator_spark.sources.pages import read_pages, write_extracted

        out = os.path.join(self.work, "layers")
        with tracer.span("pages.scan") as scan:
            read_pages(spark, self.pages).write.format("noop").mode("overwrite").save()
        # the same pages through the fused pipeline with no lineage: what
        # run_extraction adds on top of a bare extract -> write
        with tracer.span("bare") as bare:
            write_extracted(extract(read_pages(spark, self.pages)), os.path.join(out, "bare"))
        tracer.record("bare", self.check_extracted(os.path.join(out, "bare"), self.expected))
        stages = create_stage_metrics(spark)
        with tracer.span("image_pages"):
            img_out = os.path.join(out, "images")
            write_extracted(extract(read_pages(spark, self.image_pages), metrics=stages), img_out)
        tracer.record("image_pages", self.check_extracted(img_out, self.image_expected))
        shutil.rmtree(out, ignore_errors=True)
        return {
            "operators.fused.image_pages.parse_ms": stages["parse_ms"].value,
            "operators.fused.image_pages.recognize_ms": stages["recognize_ms"].value,
            "sources.pages.scan_s": scan.wall,
            "sources.pages.input_mb": _tree_mb(self.pages),
            "sources.lineage.overhead_s": statistics.median(tracer.main_walls) - bare.wall,
            **self.kernel_sample(),
        }


class DedupTrain(Workload):
    """``operators.training.training_corpus`` over a seeded sample of the
    sf0.1 documents, checked against its ``oracle_sql()`` DuckDB twin.  The
    traced run also runs the three embedding queries over a seeded sample of
    the sf0.1 embeddings, checked the same way."""

    name = "dedup_train"
    rows = DOCS
    # The JIT keeps making this call cheaper for many calls.  Measured on a
    # 4-core host, CPU seconds per call (JVM plus Python workers) were
    # 61.3, 15.2, 11.4, 9.6, 8.6, 7.2, 6.5, 7.0, 6.1, 6.2, 7.2 for calls
    # 0-10, a third of it in the JIT compiler threads.  So the untraced run
    # times a fixed number of calls, calls 3-7 whatever the host's speed,
    # and reports their median; a time-boxed count would sample an earlier,
    # dearer part of that curve whenever the host is slow.  extract_crawl's
    # second call is within about 10% of its third (10.9 and 9.5 s at
    # 8,000 pages), and one 8,000-page call is about 40 CPU seconds of
    # parsing, so it times one call.
    warm_calls = 3
    min_calls = 5

    def __init__(self, work: str, seed: int, traced: bool = False):
        super().__init__(work, seed, traced)
        self.tables = ("documents", "embeddings") if traced else ("documents",)
        self.queries = ("training_corpus",) + (EMBED_QUERIES if traced else ())

    def path(self, table: str) -> str:
        return os.path.join(self.work, f"{table}.parquet")

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        sizes = {"documents": DOCS, "embeddings": VECTORS}
        for t in self.tables:
            pq.write_table(inputs.sample_table(t, sizes[t], self.seed), self.path(t), row_group_size=TWIN_ROW_GROUP)
        # twins that pin data-derived literals (the IVF centroids) read the
        # staged copy
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.work
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.path(t)}')")
            expected = {}
            for q in self.queries:
                rel = con.execute(sql[q])
                expected[q] = normalize([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        self.expected = expected

    def query(self, spark, q: str) -> tuple[list[str], list[tuple], float]:
        """One ``__spark_entry__.queries()`` query, collected: (columns, rows,
        wall_s)."""
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        df = entry.queries()[q](spark, self.work)
        rows = [tuple(r) for r in df.collect()]
        return df.columns, rows, time.perf_counter() - t0

    def run(self, spark, out, tag):
        return self.query(spark, "training_corpus")

    def check(self, out, result):
        return compare_rows("training_corpus", result[:2], self.expected["training_corpus"])

    def layers(self, spark, tracer):
        from pyspark.sql import functions as F

        from manga_translator_spark.operators import dedup, similarity
        from manga_translator_spark.operators.text_analysis import quality_repetition_signals

        out = os.path.join(self.work, "layers")
        docs = spark.read.parquet(self.path("documents"))
        # each stage of training_corpus on its own, over the previous
        # stage's materialized output
        with tracer.span("text_analysis.gate") as gate:
            (
                quality_repetition_signals(docs)
                .filter((F.col("gq_keep") == 1) & (F.col("rep_keep") == 1))
                .select("doc_id")
                .write.parquet(os.path.join(out, "kept_ids"))
            )
        kept = docs.join(spark.read.parquet(os.path.join(out, "kept_ids")), "doc_id")
        with tracer.span("dedup.exact") as exact:
            canon = dedup.dedup_exact(kept).select(F.col("canonical_id").alias("doc_id"))
            kept.join(canon, "doc_id", "left_semi").write.parquet(os.path.join(out, "survivors"))
        survivors = spark.read.parquet(os.path.join(out, "survivors"))
        with tracer.span("dedup.lsh"):
            lsh_pairs = dedup.lsh_candidate_pairs(survivors).count()
        with tracer.span("dedup.verify"):
            verified = dedup.jaccard_verified_pairs(survivors).count()
        with tracer.span("dedup.clusters") as clusters:
            dedup.dedup_clusters(survivors).collect()
        n_kept = pq.read_table(os.path.join(out, "kept_ids")).num_rows
        shutil.rmtree(out, ignore_errors=True)

        # the embedding queries: a first round warms their code paths, the
        # second is timed; both are checked against the twins
        walls = {}
        for rnd in range(2):
            for q in EMBED_QUERIES:
                with tracer.span(f"similarity.{q}.{rnd}"):
                    res = self.query(spark, q)
                tracer.record(q, compare_rows(q, res[:2], self.expected[q]))
                walls[q] = res[2]
                if q == "embedding_near_dup":
                    near = len(res[1])
        with tracer.span("similarity.candidates"):
            cand = similarity.lsh_candidate_pairs(spark.read.parquet(self.path("embeddings"))).count()
        return {
            "operators.text_analysis.gate_s": gate.wall,
            "operators.text_analysis.keep_ratio": n_kept / DOCS,
            "operators.dedup.exact_s": exact.wall,
            "operators.dedup.lsh_pairs": lsh_pairs,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.pair_yield": verified / max(lsh_pairs, 1),
            "operators.dedup.clusters_s": clusters.wall,
            "operators.similarity.near_dup_s": walls["embedding_near_dup"],
            "operators.similarity.in_bucket_s": walls["ann_in_bucket_topk"],
            "operators.similarity.semantic_s": walls["semantic_dedup"],
            "operators.similarity.candidate_pairs": cand,
            "operators.similarity.near_dup_pairs": near,
            "operators.similarity.pair_yield": near / max(cand, 1),
        }


WORKLOADS = {w.name: w for w in (ExtractCrawl, DedupTrain)}
