"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {search,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The engine (``picdexer_spark``) is
imported from the checkout itself. Everything the run writes goes under
``<checkout>/.perfbench_work/``: inputs, indexes, Spark local dirs and the
warehouse in ``run-<pid>/`` (deleted when the run ends) and, for traced
runs, the span file ``spans-<workload>-seed<N>.json``.

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exit code 0 means every operation returned the
reference answer; 1 means a wrong or failed operation (the result line is
still printed) or a failed run (no result line); 2 means the engine could
not be imported; 143 means the run was stopped by SIGTERM. In every case
the run stops Spark and waits until no process it started is left.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.dont_write_bytecode = True   # nothing written into the checkout

from perfbench import procs  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


#: the keys of workloads.WORKLOADS, named here so that arguments parse
#: before the engine (which that module imports) is looked for
WORKLOAD_NAMES = ("search", "ingest")
#: bound on the wait for the JVM to exit once its stdin is closed
JVM_EXIT_S = 30.0


class Terminated(BaseException):
    """SIGTERM arrived; unwinds through every ``finally`` to the teardown."""


def stop_spark() -> None:
    """Stop the Spark context if one is up, close the py4j gateway and wait
    (bounded) for the JVM to exit; the JVM exits once its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    try:
        if gateway is not None:
            gateway.shutdown()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(JVM_EXIT_S)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(5)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _environment(work: str) -> None:
    """Deployment settings for this run, set before the JVM starts."""
    from perfbench.workloads import DRIVER_MEM

    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM that spark-submit runs to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no bytecode caches written into the checkout by the Python workers
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="raise right after set-up (process self-test)")
    args = ap.parse_args(argv)

    procs.become_subreaper()
    # a handler's exception can land where a library swallows it (a
    # __del__, say); the flag keeps the exit code honest either way
    terminated = []

    def on_sigterm(signum, frame):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        terminated.append(signum)
        raise Terminated()

    signal.signal(signal.SIGTERM, on_sigterm)
    # the engine under test is the checkout's own copy, never another one
    if not os.path.isfile(os.path.join(ROOT, "picdexer_spark", "__init__.py")):
        print(f"perfbench: no engine (picdexer_spark/) in {ROOT}",
              file=sys.stderr)
        return 2
    try:
        import picdexer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    tracer = Tracer(bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, tracer, work,
              args.inject_failure)
    result, rc = None, 1
    try:
        metrics = WORKLOADS[args.workload](run)
        correct = run.failed == 0
        result = {
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        rc = 0 if correct else 1
    except Terminated:
        pass
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rc = 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_spark()
        left = procs.stop_tree()
        if left:
            print(f"perfbench: processes left running: {left}",
                  file=sys.stderr)
            rc = rc or 1
        if tracer.enabled:
            tracer.write(os.path.join(
                WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    if terminated:
        print("perfbench: terminated", file=sys.stderr)
        return 143
    if result is not None:
        print(json.dumps(result), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
