"""Per-operator SQL metrics read back from Spark's own status store.

After a job ends, ``spark._jsparkSession.sharedState().statusStore()``
holds every SQL execution with its plan graph and its metric values
as Spark formats them for the UI (``"5.7 s (214 ms, 544 ms, 1.6 s
(stage 9.0: task 23))"``). This works with ``spark.ui.enabled=false``.
Nothing in the program is instrumented.

Spark prints times with 1 ms resolution below a second and 0.1 s
above, and sizes with one decimal, so values read here are as precise
as the UI's, no more.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

# the metrics layers.execution_layers reads, by plan-node kind; a Spark
# upgrade that renames one must fail the self-test, not read back as 0
REQUIRED = {
    "MapInPandas": (
        "time to start Python workers", "time to initialize Python workers",
        "time to run Python workers", "data sent to Python workers",
        "data returned from Python workers"),
    "Scan": ("scan time", "size of files read"),
    "Exchange": ("shuffle bytes written",),
    "Write": ("number of written files", "written output"),
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_value(text: str) -> tuple[float, float | None, float | None]:
    """(total, median, max) of one formatted metric. Sizes come back in
    bytes, times in seconds, counts as counts. Per-task median and max
    exist only for metrics Spark aggregates per task."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    body = lines[-1]
    vals = []
    for num, unit in _VALUE.findall(body.split("(stage")[0]):
        v = float(num.replace(",", ""))
        if unit:
            if unit not in _UNITS:
                raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
            v *= _UNITS[unit]
        vals.append(v)
    if not vals:
        raise ValueError(f"unparseable metric value {text!r}")
    if len(vals) >= 4:  # total (min, med, max ...)
        return vals[0], vals[2], vals[3]
    return vals[0], None, None


def node_kind(name: str) -> str | None:
    name = name.strip()
    if name == "MapInPandas":
        return "MapInPandas"
    if name.startswith("Scan"):
        return "Scan"
    if name in ("Exchange", "ShuffleExchange"):
        return "Exchange"
    if name.startswith("Execute InsertInto"):
        return "Write"
    return None


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[float, float | None, float | None]]


@dataclass
class Execution:
    id: int
    description: str
    duration_s: float
    nodes: list[Node] = field(default_factory=list)

    def kind(self, kind: str) -> list[Node]:
        return [n for n in self.nodes if node_kind(n.name) == kind]

    def total(self, kind: str, metric: str) -> float:
        return sum(n.metrics[metric][0] for n in self.kind(kind)
                   if metric in n.metrics)


class StatusStore:
    """Reads finished SQL executions of one SparkSession."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the SQL listener runs on the async listener bus: wait until it
        # has seen the end of the job that just returned
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def last_id(self) -> int:
        self._drain()
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def since(self, last_id: int) -> list[Execution]:
        """Every execution with id > last_id, oldest first."""
        self._drain()
        out = []
        execs = self._store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > last_id:
                out.append(self._read(e))
        return out

    def _read(self, e) -> Execution:
        eid = e.executionId()
        done = e.completionTime()
        end = done.get().getTime() if done.isDefined() else e.submissionTime()
        values = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid)
        nodes = []
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            jn = all_nodes.apply(i)
            metrics = {}
            jms = jn.metrics()
            for j in range(jms.size()):
                jm = jms.apply(j)
                v = values.get(jm.accumulatorId())
                if v.isDefined():
                    metrics[jm.name()] = parse_value(v.get())
            nodes.append(Node(jn.name(), jn.desc(), metrics))
        return Execution(eid, e.description(),
                         (end - e.submissionTime()) / 1000.0, nodes)


def self_test(spark, scratch_dir: str) -> None:
    """Run one tiny job with every node kind the benchmark reads (scan,
    mapInPandas, exchange, write) and fail loudly if a required metric
    name is missing."""
    import pandas as pd
    from pyspark.sql import functions as F

    store = StatusStore(spark)
    last = store.last_id()
    src = f"{scratch_dir}/selftest_src"
    spark.range(2000).withColumn("k", F.col("id") % 7) \
        .write.mode("overwrite").parquet(src)

    def _identity(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"], "k": b["k"]})

    (spark.read.parquet(src)
     .mapInPandas(_identity, "id long, k long")
     .repartition(3, "k")
     .write.mode("overwrite").parquet(f"{scratch_dir}/selftest_out"))
    seen: dict[str, set[str]] = {}
    for ex in store.since(last):
        for n in ex.nodes:
            k = node_kind(n.name)
            if k:
                seen.setdefault(k, set()).update(n.metrics)
    missing = [f"{k}: {m}" for k, ms in REQUIRED.items() for m in ms
               if m not in seen.get(k, ())]
    if missing:
        raise RuntimeError(
            "Spark status store lacks metrics this benchmark reads "
            f"(renamed in this Spark version?): {missing}")
