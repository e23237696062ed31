"""KG-release benchmark: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

Runs one workload (see ``perfbench/README.md``) in a child process
(``perfbench.harness``) inside a fresh work directory under
``.bench_work/``, so Spark's scratch files, the shipped package zip and
every temporary file stay inside the checkout. The child runs in its own
session; when it ends, any process left in that session is killed and
awaited, and the work directory is removed. The child's standard output
ends with the one-line JSON result.

Exits non-zero without a result when the program's sources are missing,
when the run fails, or when it exceeds ``CHILD_TIMEOUT_S``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "distributed_extraction_framework_spark"
CHILD_TIMEOUT_S = 160
# the driver JVM's heap; the program's own default is 8g, which the small
# benchmark inputs never need
DEFAULT_DRIVER_MEM = "2g"


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def reap(sid: int, grace_s: float = 5.0) -> None:
    """Stop every process of session ``sid`` and wait until none is left."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files under the system /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    child = subprocess.Popen(
        [sys.executable, "-m", "perfbench.harness", *argv, "--work", work],
        cwd=ROOT, env=env, start_new_session=True,
    )
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        rc = 124
    finally:
        reap(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
