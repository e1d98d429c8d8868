"""Benchmark entry point for shc_spark.

    python3 shcbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each run measures one workload in a
fresh Python process with its own JVM (workloads.py), under a work
directory ``.shcbench_work/`` in the checkout that holds the tables,
Spark's local dirs, temp files and, with ``--trace 1``, Spark's event
log; it is removed after the run. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). With ``--trace 1`` the span self-time table is printed
above it. ``--detail PATH`` also writes the measured process's full
result (both metric sets, per-class op counts, steal) to PATH.

The run fails (non-zero exit, no result line) if the checkout has no
``shc_spark`` package, if the answer-check self-test fails, if the
measured process fails or times out, or if its JVM or a Python worker
is still alive after it has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

from metrics import END_TO_END, PER_LAYER
from selftest import selftest
from tracing import pids_with_token

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CHILD_TIMEOUT_S = 160  # leaves the exit grace and clean-up inside 180 s
EXIT_GRACE_S = 10


def fail(msg: str, code: int):
    print(f"shcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_conf(work: str, traced: bool) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        # uncompressed, single-file log: Python reads it back without zstandard
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # pyspark splits this variable with shlex
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def measure(args, detail_path: str | None) -> dict:
    work = os.path.join(ROOT, ".shcbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    run_id = uuid.uuid4().hex
    token = f"SHCBENCH_RUN={run_id}"  # inherited by the JVM and every Python worker
    env = dict(os.environ)
    env.update({
        "SHCBENCH_RUN": run_id,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SHC_SPARK_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": spark_conf(work, bool(args.trace)),
    })
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out]
    # the measured process's own output goes to stderr: stdout carries only the result
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        code = None
    deadline = time.monotonic() + EXIT_GRACE_S
    left = pids_with_token(token)
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = pids_with_token(token)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while pids_with_token(token):
        time.sleep(0.1)
    result = None
    if code == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if code is None:
        fail(f"measured process exceeded {CHILD_TIMEOUT_S} s", 5)
    if code != 0 or result is None:
        fail(f"measured process failed with exit code {code}", 6)
    if left:
        fail(f"{len(left)} process(es) of the run (JVM or Python worker) outlived it", 7)
    if detail_path:
        with open(detail_path, "w") as fh:
            json.dump(result, fh, indent=1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the full result of the run to this file")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "shc_spark", "sources", "api.py")):
        fail(f"no shc_spark package under {ROOT}: run from a checkout of the repository", 2)
    problems = selftest()
    if problems:
        fail("answer-check self-test failed: " + "; ".join(problems), 3)

    result = measure(args, args.detail)
    if args.trace:
        print(result["span_table"])
        for note in result["notes"]:
            print(note)
    names, values = (PER_LAYER, result["layers"]) if args.trace else (END_TO_END, result["e2e"])
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, (u, _) in names.items()},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
