"""Per-layer numbers: from status-store executions and from calling the
extraction kernels in-process, on pandas batches, with no Spark."""
from __future__ import annotations

import os
import statistics
import time

import pandas as pd

from document_extractor_spark.functions.pdf_mini import parse_pdf
from document_extractor_spark.functions.textnorm import decode_detect
from document_extractor_spark.operators import html_extract
from document_extractor_spark.operators.extract_branches import (
    make_extract_any, sniff_bytes)

from inputs import KERNEL_FORMATS, fixture_class
from workloads import config

MIB = float(1 << 20)
WRITE_TABLES = ("extracted", "quarantine", "metrics", "_manifest",
                "job_params")
_KERNEL_COLS = ["url", "warc_ts", "lang", "fmt", "html", "text"]
_BATCH_ROWS = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch
_REPS = 3


def execution_layers(execs) -> dict[str, float]:
    """Layer metrics of the SQL executions one batch ran."""
    d: dict[str, float] = {
        "scan.time_s": 0.0, "scan.mb": 0.0,
        "pipeline.exchange_mb": 0.0, "pipeline.exchange_count": 0.0,
        "extract_branches.py_start_s": 0.0,
        "extract_branches.py_init_s": 0.0,
        "extract_branches.py_run_s": 0.0,
        "extract_branches.arrow_to_py_mb": 0.0,
        "extract_branches.arrow_from_py_mb": 0.0,
        "io_tables.files_written": 0.0, "io_tables.write_mb": 0.0,
    }
    skew = []
    for ex in execs:
        d["scan.time_s"] += ex.total("Scan", "scan time")
        d["scan.mb"] += ex.total("Scan", "size of files read") / MIB
        d["pipeline.exchange_mb"] += \
            ex.total("Exchange", "shuffle bytes written") / MIB
        d["pipeline.exchange_count"] += len(ex.kind("Exchange"))
        for key, metric in (
                ("py_start_s", "time to start Python workers"),
                ("py_init_s", "time to initialize Python workers"),
                ("py_run_s", "time to run Python workers")):
            d[f"extract_branches.{key}"] += ex.total("MapInPandas", metric)
        d["extract_branches.arrow_to_py_mb"] += \
            ex.total("MapInPandas", "data sent to Python workers") / MIB
        d["extract_branches.arrow_from_py_mb"] += \
            ex.total("MapInPandas", "data returned from Python workers") / MIB
        for n in ex.kind("MapInPandas"):
            _total, med, mx = n.metrics["time to run Python workers"]
            if med:
                skew.append((_total, mx / med))
        for n in ex.kind("Write"):
            d["io_tables.files_written"] += \
                n.metrics["number of written files"][0]
            d["io_tables.write_mb"] += n.metrics["written output"][0] / MIB
            table = _written_table(n.desc)
            if table:
                key = f"io_tables.write_s.{table}"
                d[key] = d.get(key, 0.0) + ex.duration_s
    # skew of the Python stage that ran longest (single-task stages
    # report no per-task median and count as 1.0)
    d["extract_branches.task_skew"] = max(skew)[1] if skew else 1.0
    return d


def _written_table(desc: str) -> str | None:
    # "Execute InsertIntoHadoopFsRelationCommand file:/.../<table>, ..."
    path = desc.split(" ")[2].rstrip(",") if desc.count(" ") >= 2 else ""
    name = os.path.basename(path.rstrip("/"))
    return name if name in WRITE_TABLES else None


def median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for d in dicts for k in d})
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}


def _kernel_rows(pages: pd.DataFrame) -> pd.DataFrame:
    fmt = [sniff_bytes(h, t) for h, t in zip(pages.html, pages.text)]
    return pages.assign(fmt=fmt)[_KERNEL_COLS]


def _run_kernel(extract_any, rows: pd.DataFrame) -> tuple[float, pd.DataFrame]:
    batches = [rows.iloc[i:i + _BATCH_ROWS]
               for i in range(0, len(rows), _BATCH_ROWS)]
    t0 = time.perf_counter()
    outs = list(extract_any(iter(batches)))
    dt = time.perf_counter() - t0
    return dt, pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def kernel_layers(inputs, batches: list[pd.DataFrame]) -> dict[str, float]:
    """make_extract_any on one core: per format over the full-mix
    sample; over each of `batches`, the rows a traced batch extracted
    (kernel_s, the median); and over the workload's whole input, for
    the ratios."""
    extract_any = make_extract_any(config("kernel"))
    d: dict[str, float] = {}
    sample = inputs.kernel_sample
    sample_out = []
    for fmt in KERNEL_FORMATS:
        rows = _kernel_rows(sample[sample.kfmt == fmt])
        runs = [_run_kernel(extract_any, rows) for _ in range(_REPS)]
        d[f"extract_branches.kernel_us_per_doc.{fmt}"] = \
            statistics.median(t for t, _ in runs) / len(rows) * 1e6
        sample_out.append(runs[0][1])
    sample_out = pd.concat(sample_out, ignore_index=True)

    d["extract_branches.kernel_s"] = statistics.median(
        _run_kernel(extract_any, _kernel_rows(b))[0] for b in batches)
    own_rows = _kernel_rows(inputs.pages)
    _, own_out = _run_kernel(extract_any, own_rows)

    # ratios come from the workload's own rows where it has that kind
    # of document, else from the full-mix sample
    def _pick(has) -> tuple[pd.DataFrame, pd.DataFrame]:
        if has(own_out).any():
            return own_out, inputs.pages
        return sample_out, sample

    out, _ = _pick(lambda o: o.fmt == "html")
    html = out[out.fmt == "html"]
    d["html_extract.strict_accept_frac"] = \
        float((html.method == "html_text").mean())

    ocr_m = ("ocr_a", "ocr_b")
    out, _ = _pick(lambda o: o.method.isin(ocr_m))
    ocr = out[out.method.isin(ocr_m)]
    d["ocr.fallback_frac"] = float((ocr.method == "ocr_b").mean())

    out, src = _pick(lambda o: o.url.str.contains("::", regex=False))
    parents = src.url.map(fixture_class).eq("container").sum()
    d["container.children_per_parent"] = \
        float(out.url.str.contains("::", regex=False).sum() / parents)

    html_src = own_rows[own_rows.fmt == "html"]
    if html_src.empty:
        html_src = _kernel_rows(sample[sample.kfmt == "html"])
    docs = [decode_detect(h)[0] for h in html_src.html]
    d["html_extract.fast_path_frac"] = statistics.fmean(
        html_extract._fast_blocks(s) is not None for s in docs)

    pdfs = [h for h, f in zip(sample.html, sample.kfmt)
            if f in ("pdf", "container")]
    times = []
    for _ in range(_REPS):
        t0 = time.perf_counter()
        for h in pdfs:
            parse_pdf(h)
        times.append(time.perf_counter() - t0)
    d["pdf_mini.parse_us_per_doc"] = statistics.median(times) / len(pdfs) * 1e6
    return d
