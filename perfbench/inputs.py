"""Seeded benchmark inputs, generated before any timing starts.

Every table the program reads is written here from
``corpus.generate_corpus(n, seed)`` and cached on disk by
``(workload, n, slices, seed)``, so the same seed gives the same bytes
and a repeated seed skips generation. The ground truth (expected rows,
expected quarantine, noise urls) is kept next to the pages for the
output checker; the program never sees it.
"""
from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from document_extractor_spark.corpus import generate_corpus

# Web-shaped traffic (the Common-Crawl mix): html_extract and the
# Python stage's fixed costs; no pdf, ocr, container or writes.
CRAWL_CLASSES = (
    "html_clean", "html_noisy", "html_garbage", "dup", "gzip_html",
    "plaintext", "pretext", "noise", "unsupported",
)
# Document-archive traffic: pdf_mini, ocr, container, doc_mini and
# docx_mini kernels, the per-page explode and the commit path.
ARCHIVE_CLASSES = (
    "pdf_text", "pdf_big", "pdf_scanonly", "pdf_scanned", "container",
    "docx", "doc", "img_scan",
)

# fixture class -> the kernel format key used by the per-format
# kernel timings (container rows sniff as pdf but cost differently)
KERNEL_FORMAT = {
    "html_clean": "html", "html_noisy": "html", "html_garbage": "html",
    "dup": "html", "plaintext": "txt", "pretext": "txt",
    "gzip_html": "gzip", "pdf_text": "pdf", "pdf_big": "pdf",
    "pdf_scanonly": "pdf", "pdf_scanned": "pdf", "docx": "docx",
    "doc": "doc", "img_scan": "img", "container": "container",
}
KERNEL_FORMATS = ("html", "txt", "gzip", "pdf", "docx", "doc", "img",
                  "container")
KERNEL_SAMPLE_PER_FORMAT = 48

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def fixture_class(url: str) -> str:
    """Generator urls are ``https://<domain>/<class>/<index>``."""
    return url.split("/")[3]


@dataclass
class Inputs:
    dir: str
    pages: pd.DataFrame          # the workload's input rows
    expected: pd.DataFrame       # ground-truth extracted rows
    expected_quarantine: pd.DataFrame
    noise_urls: list[str]
    kernel_sample: pd.DataFrame  # up to N rows per kernel format, full mix
    slices: list[tuple[int, int]]  # [lo, hi) rows of each input slice

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")

    def slice_pages(self, i: int) -> pd.DataFrame:
        lo, hi = self.slices[i]
        return self.pages.iloc[lo:hi]


def _write_pages(df: pd.DataFrame, path: str) -> None:
    # 1024-row row groups, as corpus.write_corpus lays them out
    pq.write_table(
        pa.Table.from_pandas(df, schema=_PAGES_SCHEMA, preserve_index=False),
        path, row_group_size=1024)


def _slices(n_rows: int, k: int) -> list[tuple[int, int]]:
    return [(n_rows * i // k, n_rows * (i + 1) // k) for i in range(k)]


def make_inputs(cache_root: str, workload: str, classes: tuple[str, ...],
                n: int, seed: int, slices: int) -> Inputs:
    """`slices`: the input is also written as that many consecutive
    parts, slice0..slice<k-1>, for inputs that arrive run by run."""
    out = os.path.join(cache_root, f"{workload}_n{n}_k{slices}_s{seed}")
    done = os.path.join(out, "DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        corpus = generate_corpus(n, seed=seed)
        cls = corpus.pages.url.map(fixture_class)
        pages = corpus.pages[cls.isin(classes)].reset_index(drop=True)
        _write_pages(pages, os.path.join(out, "pages.parquet"))
        for i, (lo, hi) in enumerate(_slices(len(pages), slices)):
            _write_pages(pages.iloc[lo:hi],
                         os.path.join(out, f"slice{i}.parquet"))
        # a manifest holding every input url: the resume-noop input
        manifest = os.path.join(out, "committed", "_manifest")
        os.makedirs(manifest, exist_ok=True)
        pq.write_table(pa.table({
            "url": pages.url.tolist(),
            "run_id": ["bench-prior"] * len(pages)}),
            os.path.join(manifest, "part-0.parquet"))
        kfmt = corpus.pages.url.map(fixture_class).map(KERNEL_FORMAT)
        sample = (corpus.pages.assign(kfmt=kfmt)
                  .groupby("kfmt", sort=True)
                  .head(KERNEL_SAMPLE_PER_FORMAT)
                  .reset_index(drop=True))
        pq.write_table(pa.Table.from_pandas(sample, preserve_index=False),
                       os.path.join(out, "kernel_sample.parquet"))
        corpus.expected[corpus.expected.fixture_class.isin(classes)] \
            .to_parquet(os.path.join(out, "expected.parquet"), index=False)
        eq = corpus.expected_quarantine
        eq[eq.fixture_class.isin(classes)].to_parquet(
            os.path.join(out, "expected_quarantine.parquet"), index=False)
        noise = [u for u in corpus.noise_urls if fixture_class(u) in classes]
        with open(os.path.join(out, "noise.json"), "w") as f:
            json.dump(noise, f)
        with open(done, "w") as f:
            f.write("ok\n")
    with open(os.path.join(out, "noise.json")) as f:
        noise = json.load(f)
    pages = pd.read_parquet(os.path.join(out, "pages.parquet"))
    return Inputs(
        dir=out,
        pages=pages,
        expected=pd.read_parquet(os.path.join(out, "expected.parquet")),
        expected_quarantine=pd.read_parquet(
            os.path.join(out, "expected_quarantine.parquet")),
        noise_urls=noise,
        kernel_sample=pd.read_parquet(
            os.path.join(out, "kernel_sample.parquet")),
        slices=_slices(len(pages), slices),
    )

