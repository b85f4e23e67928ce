"""The two workloads, driven only through the program's public calls.

A workload opens its input on a session, runs a warm-up pass, then
timed batches one after another (the loop is closed), names a
directory whose input is fully committed (for the resume no-op) and
checks its outputs against ground truth.
"""
from __future__ import annotations

import contextlib
import os
import shutil
import time

import pandas as pd

from document_extractor_spark.checkpoint import run_and_commit
from document_extractor_spark.config import PipelineConfig
from document_extractor_spark.pipeline import run_extraction

import check
from inputs import ARCHIVE_CLASSES, CRAWL_CLASSES

_EXTRACTED_COLS = ["url", "page", "text", "method", "status",
                   "used_fallback", "reliability", "fmt"]


def config(run_id: str) -> PipelineConfig:
    # the generator's pdf_big documents have 8 pages and its ground
    # truth expects them per page: switch to per-page rows above 6
    return PipelineConfig(run_id=run_id, bigdoc_page_limit=6)


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


class Workload:
    name = ""
    classes: tuple[str, ...] = ()
    n_generated = 0      # generate_corpus rows before the class filter
    slices = 1           # parts the input arrives in
    settle = 0           # untimed batches before a traced run's ones
    batches = 10         # timed batches in a run, at least
    scaling_batches = 3  # per session of a traced run's scaling leg
    noops_per_batch = 2  # resume no-ops timed after each timed batch
    verify_each_session = False  # else only in the untimed first one

    def __init__(self, inputs, workdir: str):
        self.inputs = inputs
        self.workdir = workdir

    def cores(self, nproc: int) -> int:
        """Task slots of the local[...] sessions that time the load."""
        return nproc

    def open(self, spark) -> None:
        self.full = spark.read.parquet(self.inputs.path("pages"))

    def warmup(self, spark) -> None:
        """The set-up pass every new session runs before timing."""
        self.batch(spark)

    def batch(self, spark, tracer=None) -> tuple[int, float]:
        """One timed unit of work: (documents, seconds)."""
        raise NotImplementedError

    def has_more(self) -> bool:
        return True

    def next_rows(self) -> pd.DataFrame:
        """The input rows the next batch extracts."""
        raise NotImplementedError

    def pending(self, spark):
        """(input, output dir) whose uncommitted rows are next_rows()."""
        raise NotImplementedError

    def committed(self, spark):
        """(input, output dir) where every input url is committed."""
        raise NotImplementedError

    def verify(self, spark) -> tuple[set[str], set[str], int]:
        """(urls checked, urls that failed, extracted rows)."""
        raise NotImplementedError


class CrawlExtract(Workload):
    """Web pages through run_extraction to the noop sink."""
    name = "crawl_extract"
    classes = CRAWL_CLASSES
    n_generated = 4000

    def __init__(self, inputs, workdir):
        super().__init__(inputs, workdir)
        # a private copy: a resume that wrongly commits must not
        # change the cached input
        self._committed = os.path.join(workdir, "committed")
        shutil.copytree(os.path.join(inputs.dir, "committed"),
                        self._committed)

    def batch(self, spark, tracer=None):
        t0 = time.perf_counter()
        # persist=False: a persisted branch stream would serve the next
        # batch from cache (identical plans match in the CacheManager)
        with _span(tracer, "pipeline.run_extraction"):
            res = run_extraction(spark, self.full, config("bench"),
                                 persist=False)
        with _span(tracer, "sink.noop"):
            res.extracted.write.format("noop").mode("overwrite").save()
        return len(self.inputs.pages), time.perf_counter() - t0

    def next_rows(self):
        return self.inputs.pages

    def pending(self, spark):
        return self.full, os.path.join(self.workdir, "uncommitted")

    def committed(self, spark):
        return self.full, self._committed

    def verify(self, spark):
        res = run_extraction(spark, self.full, config("check"))
        try:
            ext = res.extracted.select(*_EXTRACTED_COLS).toPandas()
            quar = res.quarantine.select("url", "reason").toPandas()
        finally:
            res.unpersist()
        checked, bad = check.failed_docs(self.inputs, ext, quar)
        return checked, bad, len(ext)


class ArchiveCommit(Workload):
    """An archive folder that grows run by run: each run passes the
    whole folder so far to run_and_commit, which extracts only the
    slice not yet committed."""
    name = "archive_commit"
    classes = ARCHIVE_CLASSES
    n_generated = 10700  # slices of about 410 docs
    # the first commit after a session's warm-up still runs slow: a
    # traced run leaves it out of its traced-vs-untraced comparison
    settle = 1
    batches = 6
    scaling_batches = 2
    # slice 0 warms a session up, then at least six timed runs, a
    # seventh if --seconds has not passed (a traced run: the settling
    # run, two untraced and two traced)
    slices = 1 + settle + 6
    verify_each_session = True  # reads back parquet: cheap

    def __init__(self, inputs, workdir):
        super().__init__(inputs, workdir)
        self._out: str | None = None
        self._runs = 0
        self._k = 0      # slices committed into self._out

    def cores(self, nproc):
        # a commit is latency-bound: its kernels need 1-4% of its core
        # time, the rest is job scheduling and five small writes.
        # At local[nproc // 2] a commit ran faster than at local[nproc]
        # and varied less under outside load, the spare cores taking
        # the JVM's own threads
        return max(1, nproc // 2)

    def open(self, spark) -> None:
        self._paths = [self.inputs.path(f"slice{i}")
                       for i in range(self.slices)]
        self.full = spark.read.parquet(*self._paths)

    def _commit(self, spark, tracer):
        self._runs += 1
        run_id = f"bench-{self._runs}"
        pages = spark.read.parquet(*self._paths[:self._k + 1])
        with _span(tracer, "checkpoint.run_and_commit", run_id=run_id):
            res = run_and_commit(spark, pages, self._out, config(run_id))
        if res is None:
            raise RuntimeError(f"{run_id}: run_and_commit found nothing "
                               "to commit in uncommitted input")
        res.unpersist()  # caller-owned branch cache, as cli.main does
        self._k += 1

    def warmup(self, spark) -> None:
        """A fresh output directory and its first run (slice 0)."""
        if self._out:
            shutil.rmtree(self._out, ignore_errors=True)
        self._out = os.path.join(self.workdir, f"out{self._runs}")
        self._k = 0
        self._commit(spark, None)

    def batch(self, spark, tracer=None):
        docs = len(self.next_rows())
        t0 = time.perf_counter()
        self._commit(spark, tracer)
        return docs, time.perf_counter() - t0

    def has_more(self) -> bool:
        return self._k < self.slices

    def next_rows(self):
        return self.inputs.slice_pages(self._k)

    def pending(self, spark):
        return spark.read.parquet(*self._paths[:self._k + 1]), self._out

    def committed(self, spark):
        return spark.read.parquet(*self._paths[:self._k]), self._out

    def verify(self, spark):
        ext = pd.read_parquet(os.path.join(self._out, "extracted"),
                              columns=_EXTRACTED_COLS)
        quar = pd.read_parquet(os.path.join(self._out, "quarantine"),
                               columns=["url", "reason"])
        manifest = pd.read_parquet(os.path.join(self._out, "_manifest"),
                                   columns=["url"])
        inputs = pd.concat([pd.read_parquet(p, columns=["url"])
                            for p in self._paths[:self._k]])
        checked, bad = check.failed_docs(self.inputs, ext, quar,
                                         set(inputs.url))
        bad_commits = check.failed_commits(inputs.url, manifest)
        return checked | bad_commits, bad | bad_commits, len(ext)


WORKLOADS = {w.name: w for w in (CrawlExtract, ArchiveCommit)}
