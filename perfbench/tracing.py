"""Per-layer measurement from outside the program.

Two sources, both read over py4j after the fact, neither adding a Spark
job:

* Spark's SQL status store (populated with ``spark.ui.enabled=false``):
  each SQL execution's jobs and per-plan-node metrics — Python worker
  time and Arrow bytes, shuffle bytes written, spill size.
* the status tracker: the jobs of a job group, which the benchmark sets
  around each call it makes into a layer. Iterative operators run one
  ``localCheckpoint`` job per round, so counting those jobs gives the
  round count.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}

# SQL metric name -> benchmark name (seconds or bytes once parsed)
SQL_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("1,234", "2.6 s", "86.5 KiB", or a
    "total (min, med, max ...)" block) as seconds, bytes or a count."""
    total = text.rsplit("\n", 1)[-1].split("(", 1)[0].split()
    value = float(total[0].replace(",", ""))
    return value * _SCALE[total[1]] if len(total) > 1 else value


def sink(df: DataFrame) -> None:
    """Run a plan to completion and discard its rows."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Execution:
    id: int
    submitted_ms: int
    jobs: int
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Span:
    """One benchmark call into a layer."""
    name: str
    seconds: float
    jobs: int
    checkpoint_jobs: int
    metrics: dict[str, float]
    result: object = None
    executions: list[Execution] = field(default_factory=list)


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return int(self.store.executionsCount())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def executions(self, since: int) -> list[Execution]:
        """SQL executions started after ``mark()`` returned ``since``."""
        self.settle()
        n = int(self.store.executionsCount()) - since
        out = []
        it = self.store.executionsList(since, max(n, 0)).iterator()
        while it.hasNext():
            e = it.next()
            out.append(Execution(int(e.executionId()), int(e.submissionTime()),
                                 int(e.jobs().size()),
                                 self._metrics(int(e.executionId()))))
        return out

    def _metrics(self, eid: int) -> dict[str, float]:
        values = self.store.executionMetrics(eid)
        out: dict[str, float] = {}
        nodes = self.store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            ms = nodes.next().metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                name = SQL_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if name and v.isDefined():
                    out[name] = out.get(name, 0.0) + parse_metric(v.get())
        return out

    def jobs(self, group: str) -> tuple[int, int]:
        """(all jobs, localCheckpoint jobs) of a job group."""
        self.settle()
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        ckpt = 0
        for j in ids:
            info = st.getJobInfo(j)
            names = [st.getStageInfo(s).name for s in info.stageIds] if info else []
            ckpt += any(n and n.startswith("localCheckpoint") for n in names)
        return len(ids), ckpt

    def call(self, name: str, fn) -> Span:
        """Time ``fn()`` under its own job group and collect its metrics."""
        self.sc.setJobGroup(name, name)
        since = self.mark()
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs, ckpt = self.jobs(name)
        execs = self.executions(since)
        return Span(name, seconds, jobs, ckpt, sum_metrics(execs), result, execs)


def sum_metrics(execs: list[Execution]) -> dict[str, float]:
    out = {k: 0.0 for k in SQL_METRICS.values()}
    for e in execs:
        for k, v in e.metrics.items():
            out[k] += v
    return out


def attribute(execs: list[Execution],
              windows: dict[str, tuple[int, int]]) -> dict[str, list[Execution]]:
    """Assign each execution to the stage whose [start, end] wall window
    (ms, from the lineage table) holds its submission time; the rest is
    the pipeline's own bookkeeping, ``overhead``."""
    out: dict[str, list[Execution]] = {s: [] for s in windows}
    out["overhead"] = []
    for e in execs:
        stage = next((s for s, (a, b) in windows.items()
                      if a <= e.submitted_ms <= b), "overhead")
        out[stage].append(e)
    return out
