"""Process self-test of the benchmark.

    python3 perfbench/selftest.py        # from the root of a checkout

Runs the benchmark four ways and, after each, walks ``/proc`` for any
process the run left behind (this test is a child subreaper, so orphans of
the run re-parent to it and stay visible):

- a normal run: exit 0, a result line;
- a failed run (``--inject-failure`` raises after set-up, with Spark up):
  exit 1, no result line;
- a run stopped with SIGTERM while Spark is working: exit 143, no result;
- a directory holding only ``BENCHMARK.json`` and ``perfbench/``: a
  non-zero exit within 180 s and no result line.

Exit code 0 when every case passes.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

RUN = [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "1",
       "--seconds", "1"]


def _has_result(out: str) -> bool:
    lines = out.strip().splitlines()
    if not lines:
        return False
    try:
        return "metrics" in json.loads(lines[-1])
    except ValueError:
        return False


def _run(args: list[str], cwd: str = ROOT, term_after_s: float | None = None):
    """Run the benchmark; optionally SIGTERM it ``term_after_s`` seconds
    after its JVM has appeared. Returns (exit code, stdout, survivors)."""
    p = subprocess.Popen(RUN + args, cwd=cwd, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    if term_after_s is not None:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and p.poll() is None:
            if any(_is_java(c) for c in procs.descendants(p.pid)):
                break
            time.sleep(0.2)
        time.sleep(term_after_s)
        p.send_signal(signal.SIGTERM)
    out, err = p.communicate(timeout=300)
    procs.reap()
    return p.returncode, out, err, procs.descendants()


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def main() -> int:
    procs.become_subreaper()
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    cases = [
        ("normal run", ["--workload", "ingest"], {}, 0, True),
        ("failed run", ["--workload", "ingest", "--inject-failure"], {},
         1, False),
        ("SIGTERM'd run", ["--workload", "search"], {"term_after_s": 10.0},
         143, False),
        ("bare directory", ["--workload", "search"], {"cwd": bare}, None,
         False),
    ]
    failures = 0
    try:
        for name, args, kw, want_rc, want_result in cases:
            t = time.monotonic()
            rc, out, err, left = _run(args, **kw)
            took = time.monotonic() - t
            ok = (not left and _has_result(out) == want_result
                  and (rc == want_rc if want_rc is not None
                       else rc != 0 and took < 180))
            failures += not ok
            print(f"{'PASS' if ok else 'FAIL'} {name}: exit {rc}, "
                  f"result line {_has_result(out)}, {took:.0f} s, "
                  f"survivors {left}", flush=True)
            if not ok:
                print("\n".join(err.splitlines()[-30:]), flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        procs.stop_tree()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
