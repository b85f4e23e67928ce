#!/usr/bin/env python3
"""Extraction benchmark: one command per workload.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout (any cwd works: the script finds the
checkout from its own path). Workloads: crawl_extract, archive_commit;
see perfbench/README.md for what each measures and why.

--trace 0 prints every end-to-end metric; --trace 1 prints every
per-layer metric and writes a span file under .perfbench/traces/.
The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything the run reads or writes stays inside the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))
# untimed resume no-ops before the timed ones: the crawl warm-up never
# takes the resume path, and its first few no-ops still run slow
NOOP_WARMUP = 3
# untraced (0) and traced (1) batches of a traced run: each side goes
# first once, because archive commits alternate slower and faster
TRACE_ORDER = (0, 1, 1, 0)


def _launcher_env() -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: the import path (so workers find the package from any cwd)
    and scratch locations inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["LOG_LEVEL"] = "WARN"  # the program's phase log is stdout
    # no hsperfdata files in /tmp: spark-submit's launcher JVM, the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell")
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)


def _session(cores: int):
    from document_extractor_spark.session import build_session

    spark = build_session(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _resume_noop(spark, wl) -> tuple[float, bool]:
    """run_and_commit over an input that is fully committed: must find
    nothing to do."""
    from document_extractor_spark.checkpoint import run_and_commit

    from workloads import config

    pages, out = wl.committed(spark)
    t0 = time.perf_counter()
    res = run_and_commit(spark, pages, out, config("bench-noop"))
    dt = time.perf_counter() - t0
    if res is not None:
        res.unpersist()
    return dt, res is None


def _start(wl, cores: int):
    """A fresh session with the workload's warm-up pass done:
    (spark, set-up seconds)."""
    t0 = time.perf_counter()
    spark = _session(cores)
    wl.open(spark)
    wl.warmup(spark)
    return spark, time.perf_counter() - t0


def _settle(wl, spark) -> None:
    """The workload's untimed batches between warm-up and timing."""
    for _ in range(wl.settle):
        wl.batch(spark)


def _branch_cache_mb(spark, tracer, wl) -> float:
    """Cached MiB of the branch stream while a commit holds it: the
    extraction run_and_commit would run next, over the uncommitted
    rows, forced by a noop write and read before it is released."""
    from document_extractor_spark.checkpoint import filter_uncommitted
    from document_extractor_spark.pipeline import run_extraction

    from workloads import config

    pages, out = wl.pending(spark)
    with tracer.span("pipeline.branch_cache"):
        res = run_extraction(spark, filter_uncommitted(spark, pages, out),
                             config("bench-cache"))
        try:
            res.extracted.write.format("noop").mode("overwrite").save()
            # memory plus disk held by cached RDDs
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() + i.diskSize()
                       for i in infos) / (1 << 20)
        finally:
            res.unpersist()


def _timed(wl, spark, least: int, seconds: float, between=None):
    """Batches for `seconds` and at least `least` of them (fewer only when
    the input runs out), calling `between()` after each: (documents,
    seconds) per batch."""
    docs, secs = [], []
    t0 = time.perf_counter()
    while wl.has_more() and (len(secs) < least
                             or time.perf_counter() - t0 < seconds):
        n, dt = wl.batch(spark)
        docs.append(n)
        secs.append(dt)
        if between:
            between()
    return docs, secs


def _check(wl, spark) -> tuple[int, int]:
    urls, bad, _rows = wl.verify(spark)
    return len(urls), len(bad)


def run_e2e(wl, seconds: float) -> dict:
    """Two fresh sessions, each built and warmed by one pass. The first
    starts the JVM and checks the outputs; its pass also lets the JIT
    settle. The second is timed: after untimed resume no-ops, timed
    batches, each followed by timed resume no-ops, so that both kinds
    of sample are spread over the whole timed stretch."""
    import procs

    def peak_rss() -> float:
        # the Python daemon and workers; read before the output check,
        # whose collect is the benchmark's, not the load's
        by_exe = procs.tree_peak_rss_mb()
        print(f"# peak rss MiB {({k: round(v) for k, v in by_exe.items()})}")
        return sum(v for k, v in by_exe.items() if k.startswith("python"))

    cores = wl.cores(NPROC)
    spark, first = _start(wl, cores)
    rss = peak_rss()
    checked, failed = _check(wl, spark)
    spark.stop()

    spark, second = _start(wl, cores)
    noop = []

    def noops(reps: int) -> list[float]:
        nonlocal checked, failed
        out = []
        for _ in range(reps):
            dt, ok = _resume_noop(spark, wl)
            out.append(dt)
            checked += 1
            failed += not ok
        return out

    noops(NOOP_WARMUP)
    docs, secs = _timed(wl, spark, wl.batches, seconds,
                        lambda: noop.extend(noops(wl.noops_per_batch)))
    rss = max(rss, peak_rss())
    if wl.verify_each_session:
        c, f = _check(wl, spark)
        checked += c
        failed += f
    spark.stop()
    print(f"# local[{cores}]; set-ups {first:.2f} s, {second:.2f} s; "
          f"batches {[round(b, 2) for b in secs]} s; no-ops "
          f"{[round(b, 3) for b in noop]} s")

    setup = [first, second]
    samples = {"setup_s": len(setup), "docs_per_s": len(secs),
               "resume_noop_s": len(noop), "py_peak_rss_mb": 2}
    metrics = _with_units("end_to_end", {
        "setup_s": statistics.median(setup),
        "docs_per_s": statistics.median(n / s for n, s in zip(docs, secs)),
        "resume_noop_s": statistics.median(noop),
        "py_peak_rss_mb": rss,
    })
    for k, (v, unit) in metrics.items():
        print(f"# {k} = {v:.4f} {unit} (n={samples[k]})")
    print(f"# failed_frac = {failed / checked:.6f} ({failed}/{checked})")
    return _result(metrics, checked, failed)


def run_traced(wl, seed: int) -> dict:
    """A session sized as the timed one: after warm-up and settling,
    the branch cache probe, then untraced and traced batches in turn
    (for the tracing overhead), then one probe per layer. Then the
    scaling leg: fresh local[1] and local[nproc] sessions, timed the
    same way. Last, the kernels in-process, over the rows the traced
    batches extracted."""
    from pyspark.sql import functions as F

    from document_extractor_spark.checkpoint import (
        filter_uncommitted, run_and_commit)
    from document_extractor_spark.functions.sniff import sniff_format

    import layers
    import statusstore
    from spans import Tracer
    from workloads import config

    cores = wl.cores(NPROC)
    t0 = time.perf_counter()
    spark = _session(cores)
    start_s = time.perf_counter() - t0
    store = statusstore.StatusStore(spark)
    statusstore.self_test(spark, os.path.join(wl.workdir, "selftest"))
    tracer = Tracer(f"{wl.name}-s{seed}-{os.getpid()}", store)
    wl.open(spark)
    wl.warmup(spark)
    _settle(wl, spark)
    cache_mb = _branch_cache_mb(spark, tracer, wl)

    plain, traced, traced_s, traced_rows, per_batch = [], [], [], [], []
    for traced_turn in TRACE_ORDER:
        # both sides start with Spark's listener bus drained, as a span
        # start drains it: the traced side pays only the tracing
        store.last_id()
        if not traced_turn:
            docs, dt = wl.batch(spark)
            plain.append(docs / dt)
            continue
        traced_rows.append(wl.next_rows())
        with tracer.span(f"{wl.name}.batch") as sp:
            docs, _ = wl.batch(spark, tracer)
        traced_s.append(sp.end - sp.start)
        traced.append(docs / traced_s[-1])
        per_batch.append(layers.execution_layers(tracer.executions(sp)))
    d = layers.median_of(per_batch)
    d["pipeline.branch_cache_mb"] = cache_mb
    d["session.start_s"] = start_s
    # 1 - docs_per_s traced / docs_per_s untraced
    d["trace_overhead_frac"] = \
        1.0 - statistics.median(traced) / statistics.median(plain)
    print(f"# docs/s untraced {[round(r) for r in plain]}, "
          f"traced {[round(r) for r in traced]}")
    d["scan.splits"] = float(wl.full.rdd.getNumPartitions())

    sniff_s = []
    for _ in range(3):
        with tracer.span("functions.sniff") as sp:
            wl.full.select(sniff_format(F.col("html"), F.col("text"))) \
                .write.format("noop").mode("overwrite").save()
        sniff_s.append(sp.end - sp.start)
    d["sniff.scan_sniff_s"] = statistics.median(sniff_s)

    resume_s = []
    pages, out = wl.committed(spark)
    for _ in range(3):
        with tracer.span("checkpoint.filter_uncommitted") as sp:
            filter_uncommitted(spark, pages, out).take(1)
        resume_s.append(sp.end - sp.start)
    d["checkpoint.resume_filter_s"] = statistics.median(resume_s)

    if not tracer.named("checkpoint.run_and_commit"):
        # crawl batches never commit: commit the input once so the
        # commit path's layers are measured on crawl rows too
        with tracer.span("checkpoint.run_and_commit"):
            res = run_and_commit(spark, wl.full,
                                 os.path.join(wl.workdir, "crawl_commit"),
                                 config("bench-commit"))
        res.unpersist()
    commits = tracer.named("checkpoint.run_and_commit")
    per_commit = [layers.execution_layers(tracer.executions(c))
                  for c in commits]
    d.update({k: v for k, v in layers.median_of(per_commit).items()
              if k.startswith("io_tables.")})
    d["checkpoint.commit_s"] = statistics.median(
        c.end - c.start for c in commits)

    checked, bad, rows = wl.verify(spark)
    d["pipeline.rows_per_doc"] = rows / pages.count()
    tracer.store = None  # the spans below read no status store
    spark.stop()

    rates = {}
    for slots in (1, NPROC):
        with tracer.span("scaling.session", cores=slots):
            spark, _ = _start(wl, slots)
            _settle(wl, spark)
            n, secs = _timed(wl, spark, wl.scaling_batches, 0)
            spark.stop()
        rates[slots] = sum(n) / sum(secs)
    d["scaling_eff"] = rates[NPROC] / (NPROC * rates[1])

    with tracer.span("extract_branches.kernels"):
        d.update(layers.kernel_layers(wl.inputs, traced_rows))
    # both per traced batch, over the same rows
    d["extract_branches.py_overhead_ratio"] = (
        d["extract_branches.py_run_s"] / d["extract_branches.kernel_s"])
    batch_s = statistics.median(traced_s)
    d["extract_branches.kernel_share"] = \
        d["extract_branches.kernel_s"] / (cores * batch_s)
    print(f"# split per traced batch: kernel_s "
          f"{d['extract_branches.kernel_s']:.3f} s on one core, batch "
          f"{batch_s:.3f} s wall on {cores} cores")

    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{wl.name}_s{seed}.json")
    tracer.write(path)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")
    for name, s in sorted(tracer.self_times().items()):
        print(f"# self_s {name} = {s:.4f}")
    metrics = _with_units("per_layer", d)
    for k, (v, unit) in metrics.items():
        print(f"# {k} = {v:.6g} {unit}")
    return _result(metrics, len(checked), len(bad))


def _with_units(kind: str, values: dict[str, float]) -> dict:
    """Every metric BENCHMARK.json lists under `kind`, with its unit;
    a missing value raises."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: (values[m["name"]], m["unit"]) for m in spec}


def _result(metrics: dict, attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM and wait for every child to end."""
    from pyspark import SparkContext

    import procs

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    alive = procs.wait_for_children(30)
    if alive:
        raise RuntimeError(f"child processes still running: {alive}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "document_extractor_spark")):
        print("perfbench: document_extractor_spark/ is not in this checkout",
              file=sys.stderr)
        return 2
    _launcher_env()
    from inputs import make_inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    inputs = make_inputs(os.path.join(WORK, "inputs"), cls.name,
                         cls.classes, cls.n_generated, args.seed, cls.slices)
    print(f"# inputs: {len(inputs.pages)} docs, "
          f"{time.perf_counter() - t0:.1f} s", flush=True)
    workdir = os.path.join(WORK, "runs", f"{cls.name}-{os.getpid()}")
    os.makedirs(workdir)
    wl = cls(inputs, workdir)
    try:
        if args.trace:
            result = run_traced(wl, args.seed)
        else:
            result = run_e2e(wl, args.seconds)
    finally:
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
