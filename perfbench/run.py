"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds (or reuses) the seeded inputs
for the workload, then measures it in a fresh child process
(``measure.py``) and prints, as the last line of standard output, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Lines
before it hold the run report (host record, pass walls, checks) and,
for traced runs, the per-layer ledger. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# session build and warm pass, the pass loop (which starts no pass
# that would end past twice the window), then the output checks
SETUP_ALLOWANCE_S = 80
CHECK_ALLOWANCE_S = 30


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process the child started (JVM, Python workers) and
    wait until they are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 5
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break
    proc.wait()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    # a SIGTERM must still stop the child's process group (finally below)
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size preset (tiny is for the self-test)")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import inputs
    except ImportError as e:
        print(f"perfbench: engine sources not found next to perfbench/ "
              f"({e}); run from the root of a full checkout",
              file=sys.stderr)
        return 2

    if args.workload not in inputs.SIZES[args.size]:
        ap.error(f"unknown workload {args.workload!r}; choose from "
                 f"{', '.join(inputs.SIZES[args.size])}")
    input_dir = inputs.ensure_inputs(args.workload, args.seed, args.size)
    results = os.path.join(inputs.CACHE_DIR, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}-"
                 f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")

    timeout = SETUP_ALLOWANCE_S + 2 * args.seconds + CHECK_ALLOWANCE_S
    env = {k: v for k, v in os.environ.items() if not k.startswith("PDFX_")}
    tmp = os.path.join(inputs.CACHE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch files inside the checkout; the launcher JVM
    # of spark-submit would otherwise write perf data under /tmp
    env.update(PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", args.workload, "--inputs", input_dir,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cache", inputs.CACHE_DIR, "--out", out,
           "--started", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout:.0f}s", file=sys.stderr)
        code = None
    finally:
        _stop_group(proc)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: measurement failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)["result"]
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
