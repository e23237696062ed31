"""Endurance pass (VERDICT r4 #9): a memory-cliff canary, NOT a gate.

One order of magnitude above the per-round bench: synthesize N pages
(default 10M, ~10× the flagship corpus), run the full fused extraction,
then MinHash+LSH fuzzy dedup over the page texts — at local[32], recording
wall per phase and the PEAK RSS of the whole process tree (python driver +
JVM + pandas-UDF workers). The point is to catch memory cliffs (executor
OOM, driver materialization, unbounded buffers) that sf0.1 never
approaches; there is no oracle — completion without OOM is the result.

Prints ONE JSON line and appends it to ENDURANCE.json at the repo root.
A missing corpus is written by a child process before this process starts
Spark, so every run times ``extract_full`` on a cold JVM.

Usage: python scripts/bench_endurance.py
  SPARK_GRAFT_ENDURANCE_PAGES (default 10_000_000)
  SPARK_GRAFT_CPUS            (default 32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("SPARK_GRAFT_ENDURANCE_PAGES", "10000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _tree_rss_kb(root_pid: int) -> int:
    """Sum VmRSS over the process tree rooted at root_pid (/proc walk)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{pid}/status") as f:
                ppid = r = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        r = int(line.split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(pid)
        rss[pid] = r
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total


class PeakSampler(threading.Thread):
    def __init__(self, interval: float = 2.0):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()
        self._interval = interval

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._halt.wait(self._interval)

    def stop(self):
        self._halt.set()


def _session(app_name: str):
    from distributed_extraction_framework_spark.session import get_spark

    return get_spark(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 2, 64),
        extra_conf={"spark.ui.enabled": "false"},
    )


def _write_corpus(path: str) -> None:
    """Synthesize the N-page corpus into ``path`` (the child process)."""
    from distributed_extraction_framework_spark.sources.synth import write_pages

    write_pages(_session("defs-endurance-corpus"), N_PAGES, path,
                partitions=max(CPUS * 8, 256))


def main() -> None:
    from distributed_extraction_framework_spark.operators import dedup as D
    from distributed_extraction_framework_spark.operators.extractors import extract

    sampler = PeakSampler()
    sampler.start()

    phases: dict[str, float] = {}
    path = f"/tmp/defs_endurance_pages_{N_PAGES}"

    t0 = time.time()
    if not os.path.exists(path + "/_SUCCESS"):
        # in a child process: writing it in this JVM would warm the JIT
        # for the extract_full timed below
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--write-corpus", path], check=True)
    phases["synthesize_write"] = round(time.time() - t0, 1)

    spark = _session("defs-endurance")

    import pyspark.sql.functions as F

    pages = spark.read.parquet(path)

    t0 = time.time()
    quads = extract(pages)
    quads.write.format("noop").mode("overwrite").save()
    phases["extract_full"] = round(time.time() - t0, 1)

    t0 = time.time()
    # fuzzy dedup over the PROSE pages (id = url). The corpus's templated
    # stubs (redirects, category/file boilerplate) are near-identical by
    # construction — deduping them is a quadratic pair explosion with no
    # real-world analogue (production pipelines dedup documents, not
    # 3-word redirect markers), so the canary measures the honest shape:
    # signatures over every prose doc + the banded self-join.
    docs = pages.filter(F.length("text") > 200).select(
        F.col("url").alias("doc_id"), "text"
    )
    pairs = D.minhash_lsh_pairs(docs, threshold=0.8)
    n_pairs = pairs.count()
    phases["fuzzy_dedup"] = round(time.time() - t0, 1)

    sampler.stop()
    sampler.join(timeout=5)

    out = {
        "metric": "endurance",
        "pages": N_PAGES,
        "cpus": CPUS,
        "phases_sec": phases,
        "total_sec": round(sum(phases.values()), 1),
        "near_dup_pairs": n_pairs,
        "peak_rss_gb": round(sampler.peak_kb / 1024 / 1024, 2),
        "oom": False,
        "docs_per_sec_extract": round(N_PAGES / phases["extract_full"], 1),
    }
    line = json.dumps(out)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "ENDURANCE.json"), "a"
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line, flush=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--write-corpus"]:
        _write_corpus(sys.argv[2])
    else:
        main()
