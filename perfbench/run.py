#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload load_cycle|query_iterative|query_scan
                             --seed N --seconds S --trace 0|1

Builds the program from source if needed (perfbench/build.py), then runs
the workload in one JVM. A table of every metric goes to stderr and the
full record to perfbench/out/; the last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`.

`--workload record` rewrites perfbench/expected.json, the fingerprints
every later run checks results against. Record only on a commit whose
results are known good.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "3g"


def commit():
    """The checkout's git commit, if it is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.REPO,
                           capture_output=True, text=True, timeout=10,
                           env=dict(os.environ,
                                    GIT_CEILING_DIRECTORIES=str(build.REPO.parent)))
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    cp = build.ensure()
    work = build.HOME / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + build.JAVA_OPTS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--home", str(build.HOME), "--commit", commit()])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish in {TIMEOUT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stderr.write(out)
        sys.exit(proc.returncode)
    if lines:
        print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
