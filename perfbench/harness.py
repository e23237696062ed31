"""One benchmark run in its own process: ``python3 -m perfbench.harness``.

``perfbench/run.py`` starts this module with the workload, seed, run
length and trace flag, in a fresh work directory, and reaps every process
it leaves. The load is a closed loop with one client: one pipeline run at
a time, on ``local[nproc]``.

Set-up starts the Spark session and writes the seeded input table (three
times; the median counts). The timed call is the first pipeline run of
the Spark application, as for a release job submitted on its own: the
JVM's and the Python workers' warm-up is part of what a user waits for.
Set-up and the timed call are measured in CPU seconds of this process and
its descendants (``cpu_s``), which leave out the time the host lends this
machine's cores to others, scaled to the baseline host's speed by a probe
loop timed meanwhile (``HostSpeed``); their raw CPU seconds and walls are
printed beside them.
Its committed outputs must pass the workload's checks and become the
digest reference for any later run of the process.

* untraced (``--trace 0``): the one cold run. A cold run lasts longer
  than any ``--seconds`` the benchmark is run with (10), so the run
  length sets no loop. Reports the end-to-end metrics, whose time is the
  scaled CPU time the run costs; its wall is printed as a note.
* traced (``--trace 1``): the cold run under a job group whose SQL
  executions are attributed to stages; then one untraced and one traced
  warm run, whose walls give the tracing overhead; then the layer replay.
  Reports the per-layer metrics.

The last line of standard output is the JSON result; lines before it
starting with ``#`` carry the host record, the digests and, traced, the
per-stage trace table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from . import host
from .gate import digest_diff
from .tracing import Span, Tracer, attribute, sum_metrics
from .workloads import WORKLOADS, stage_walls, stage_windows

END_TO_END = {"cpu_s": "s", "pages_per_cpu_s": "pages/cpu_s", "setup_s": "s"}
# input generation is repeated and its median counts in setup_s; the
# session starts once per process
SETUP_REPEATS = 3

PER_LAYER = {
    "sources.scan_s": "s",
    "functions.wikitext.parse_self_s": "s",
    "functions.wikitext.python_worker_s": "s",
    "functions.wikitext.arrow_bytes_sent": "B",
    "functions.wikitext.arrow_bytes_returned": "B",
    "functions.wikitext.rows": "count",
    "operators.extractors.extract_self_s": "s",
    "operators.extractors.quads_out": "count",
    "operators.extractors.quads_per_page": "quads/page",
    "operators.disambiguations.s": "s",
    "operators.redirects.closure_s": "s",
    "operators.redirects.closure_rounds": "count",
    "operators.redirects.closure_pairs": "count",
    "operators.redirects.resolve_s": "s",
    "operators.redirects.resolved_ratio": "ratio",
    "operators.canonicalize.cc_s": "s",
    "operators.canonicalize.cc_rounds": "count",
    "operators.canonicalize.rewrite_s": "s",
    "operators.linking.link_s": "s",
    "operators.linking.python_worker_s": "s",
    "operators.linking.mentions": "count",
    "operators.linking.linked_ratio": "ratio",
    "operators.scrub.latest_capture_s": "s",
    "operators.scrub.shuffle_write_bytes": "B",
    "operators.structured_data.triples_s": "s",
    "operators.structured_data.python_worker_s": "s",
    "operators.structured_data.triples_out": "count",
    "plans.materialize.export_s.nt_gz": "s",
    "plans.materialize.export_s.ttl_gz": "s",
    "plans.materialize.export_s.nq_gz": "s",
    "plans.materialize.export_bytes": "B",
    "plans.materialize.graph_tables_s": "s",
    **{f"plans.pipeline.stage_s.{s}": "s" for s in WORKLOADS["wiki_cold"].STAGES},
    "plans.pipeline.overhead_s": "s",
    "plans.pipeline.resume_s": "s",
    "plans.pipeline.jobs": "count",
    "plans.pipeline.shuffle_write_bytes": "B",
    "plans.pipeline.spill_bytes": "B",
    **{f"plans.webkg.stage_s.{s}": "s" for s in WORKLOADS["web_cold"].STAGES},
    "trace.overhead_pct": "%",
    "bench.wall_s": "s",
    "bench.docs_per_s": "pages/s",
    "bench.peak_rss_mb": "MB",
    "bench.failed_ratio": "ratio",
}


TICK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name, so that
    ``[1]`` is the parent pid and ``[11:15]`` the CPU times."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def descendants() -> list[int]:
    """Live descendants of this process: the driver JVM, the Python
    workers' daemon and the workers."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            kids.setdefault(int(proc_stat(int(d))[1]), []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants, those
    that have exited and been reaped included. The kernel leaves out the
    time the host gave this machine's cores to others (steal)."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in descendants():
        try:
            total += sum(int(x) for x in proc_stat(pid)[11:15]) / TICK
        except (OSError, IndexError, ValueError):
            pass
    return total


# median thread CPU time of HostSpeed.probe on the baseline host while a
# cold wiki_cold run kept it busy (README.md)
REF_PROBE_S = 1.5e-3


class HostSpeed:
    """Samples, every 100 ms while active, the thread CPU time of a fixed
    pure-Python loop. Its median tells how fast the host runs this
    machine's code meanwhile: it slows when other machines share the
    host's cores and caches."""

    def __init__(self):
        self.samples: list[float] = []
        self._stop = threading.Event()

    @staticmethod
    def probe() -> float:
        t0 = time.thread_time()
        x = 0
        for i in range(20000):
            x += i * i
        return time.thread_time() - t0

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.samples.append(self.probe())

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        if not self.samples:
            self.samples.append(self.probe())


@dataclass
class Cost:
    """What one call cost: CPU seconds of this process and its
    descendants (the probe's own left out), wall seconds, and the median
    probe time meanwhile."""
    cpu: float
    wall: float
    probe: float

    @property
    def ref_cpu(self) -> float:
        """``cpu`` at the baseline host's speed."""
        return self.cpu * REF_PROBE_S / self.probe


class Meter:
    """Measures the cost of the code inside ``with``; ``cost`` is set on
    exit."""

    def __enter__(self):
        self._hs = HostSpeed().__enter__()
        self._c0, self._t0 = cpu_s(), time.perf_counter()
        return self

    def __exit__(self, *exc):
        wall = time.perf_counter() - self._t0
        cpu = cpu_s() - self._c0 - sum(self._hs.samples)
        self._hs.__exit__(*exc)
        self.cost = Cost(cpu, wall, statistics.median(self._hs.samples))


def timed(fn):
    """``(fn(), its Cost)``."""
    with Meter() as m:
        out = fn()
    return out, m.cost


class RssPeak:
    """High-water resident memory of this process's descendants (the
    driver JVM and its Python workers), sampled every 50 ms while active."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_bytes(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.peak = max(self.peak, self._tree_bytes())

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_bytes())


def session(work: str):
    from distributed_extraction_framework_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{host.nproc()}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def stop(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        proc.wait(timeout=60)


class Gate:
    """The correctness gate: the first run's outputs must pass the
    workload's checks, and every later run's content digest must equal
    theirs."""

    def __init__(self, wl):
        self.wl = wl
        self.ref: dict | None = None
        self.problems: list[str] = []

    def passes(self, wh: str) -> bool:
        got = self.wl.digest(wh)
        if self.ref is None:
            self.ref = got
            print("# digest " + json.dumps(got, sort_keys=True))
            self.problems = self.wl.check(wh)
            for p in self.problems:
                print(f"# {self.wl.name}: {p}", file=sys.stderr)
            return not self.problems
        diff = digest_diff(self.ref, got)
        if diff:
            print(f"# {self.wl.name}: digest differs from the first run "
                  f"in {diff}", file=sys.stderr)
        return not (diff or self.problems)


class Runs:
    """Pipeline runs, each into a fresh warehouse, gated one by one."""

    def __init__(self, wl):
        self.wl, self.gate = wl, Gate(wl)
        self.walls: list[float] = []
        self.costs: list[Cost] = []
        self.failed = 0

    def one(self, keep: bool = False, tracer: Tracer | None = None
            ) -> tuple[float, object, Span | None]:
        """One gated run: (wall seconds, the pipeline or None if it raised,
        the run's span when ``tracer`` is given). ``keep`` leaves its
        warehouse in place."""
        wl = self.wl
        wh = wl.warehouse(len(self.walls))
        wl.before(wh)
        pipe = span = None
        with Meter() as meter:
            try:
                if tracer is None:
                    pipe = wl.run(wh)
                else:
                    span = tracer.call(f"e2e{len(self.walls)}", lambda: wl.run(wh))
                    pipe = span.result
            except Exception:
                traceback.print_exc()
        # a span's wall leaves out the tracer's reads after the run
        wall = span.seconds if span else meter.cost.wall
        self.costs.append(meter.cost)
        self.walls.append(wall)
        self.failed += not (pipe is not None and self.gate.passes(wh))
        if not keep:
            wl.drop(wh)
        return wall, pipe, span


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def untraced(wl, setup_s: float) -> dict:
    runs = Runs(wl)
    wall, _, _ = runs.one()
    cost = runs.costs[0]
    print(f"# wall_s {wall:.4f} docs_per_s {wl.n_pages / wall:.4f} "
          f"raw_cpu_s {cost.cpu:.4f} probe_ms {cost.probe * 1e3:.4f} "
          f"cpu_s {cost.ref_cpu:.4f}")
    return result(runs, {
        "cpu_s": cost.ref_cpu,
        "pages_per_cpu_s": wl.n_pages / cost.ref_cpu,
        "setup_s": setup_s,
    }, END_TO_END)


def traced(wl) -> dict:
    runs = Runs(wl)
    tr = Tracer(wl.spark)
    with RssPeak() as rss:
        wall, pipe, span = runs.one(keep=True, tracer=tr)
    wh = wl.warehouse(0)
    m = {k: 0.0 for k in PER_LAYER}
    m["bench.peak_rss_mb"] = rss.peak / 2 ** 20
    m["bench.wall_s"] = wall
    m["bench.docs_per_s"] = wl.n_pages / wall
    if pipe is not None:
        lineage = wl.read(wh, "lineage")
        walls = stage_walls(lineage, pipe.run_id)
        for s in wl.STAGES:
            m[wl.stage_prefix + s] = walls.get(s, 0.0)
        m.update({
            "plans.pipeline.overhead_s": wall - sum(walls.values()),
            "plans.pipeline.jobs": span.jobs,
            "plans.pipeline.shuffle_write_bytes": span.metrics["shuffle_write_bytes"],
            "plans.pipeline.spill_bytes": span.metrics["spill_bytes"],
        })
        print(f"# wall_s {wall:.4f}")
        print_stage_table({**walls, "overhead": m["plans.pipeline.overhead_s"]},
                          attribute(span.executions, stage_windows(lineage, pipe.run_id)))
        # tracing overhead: a warm untraced run against a warm traced one
        base, _, _ = runs.one()
        warm, _, _ = runs.one(tracer=tr)
        m["trace.overhead_pct"] = (warm / base - 1.0) * 100.0
        print(f"# warm wall_s untraced {base:.4f} traced {warm:.4f}")
        m.update(wl.layers(tr, wh))
    m["bench.failed_ratio"] = runs.failed / len(runs.walls)
    return result(runs, m, PER_LAYER)


def print_stage_table(walls: dict, by_stage: dict) -> None:
    cols = ("jobs", "python_worker_s", "python_bytes_sent",
            "python_bytes_returned", "shuffle_write_bytes", "spill_bytes")
    print("# stage wall_s " + " ".join(cols))
    for stage, execs in by_stage.items():
        tot = sum_metrics(execs)
        cells = [str(sum(e.jobs for e in execs))] + [f"{tot[c]:.6g}" for c in cols[1:]]
        print(f"# {stage} {walls.get(stage, float('nan')):.3f} {' '.join(cells)}")


def result(runs: Runs, values: dict, units: dict) -> dict:
    return {
        "correct": runs.failed == 0,
        "attempted": len(runs.walls),
        "failed": runs.failed,
        "metrics": {k: metric(values[k], u) for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # run_seconds of BENCHMARK.json; the one cold run outlasts it (see above)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    spark, sess = timed(lambda: session(args.work))
    try:
        wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.smoke)
        gen = [timed(lambda: wl.make_inputs(k))[1] for k in range(SETUP_REPEATS)]
        _, prep = timed(wl.prepare)
        setup_s = (sess.ref_cpu + statistics.median([g.ref_cpu for g in gen])
                   + prep.ref_cpu)
        print("# host " + json.dumps(host.record(spark, args.seed)))
        for field in ("ref_cpu", "cpu", "wall"):
            print(f"# setup {field} session {getattr(sess, field):.4f} inputs "
                  f"{json.dumps([round(getattr(g, field), 4) for g in gen])} "
                  f"prepare {getattr(prep, field):.4f}")
        out = traced(wl) if args.trace else untraced(wl, setup_s)
    finally:
        stop(spark)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
