"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (gen.py) and computes
   the reference results apart from the engine (refs.py);
2. starts child.py, which builds a fresh SparkSession through
   ``fireworks_spark.session.get_spark`` (master ``local[K]`` only, so the
   program's own defaults are measured), runs the workload once cold and
   then in warm passes for ``--seconds``, and checks every output;
3. stops every process the run started and removes its scratch
   directory;
4. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (the per-operation table then goes to
   ``perfbench/traces/<workload>-seed<seed>.json``).

Everything the run writes stays under ``perfbench/.scratch`` (inputs, Spark
local dirs, temp files, checkpoints) or ``perfbench/traces``. The exit code
is not 0, and no JSON line is printed, when the engine cannot run at all.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import OPS, TABLES  # noqa: E402

# a run must end within this many seconds of its start
DEADLINE_S = 170
# environment that would change the program's defaults
_DROP_ENV = ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS",
             "_JAVA_OPTIONS")


def _tagged_pids(token: str) -> "list[int]":
    """Live processes whose environment carries this run's token: the
    child, the Spark JVM, the Python worker daemon and its workers (the
    daemon leaves the child's process group, so a group kill misses it)."""
    needle = f"PERFBENCH_RUN={token}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def _stop_all(token: str, wait_s: float = 30.0) -> "list[int]":
    """Kill whatever is left of the run and wait until it has exited.
    Returns the pids still alive at the end (empty on success)."""
    deadline = time.time() + wait_s
    sig = signal.SIGTERM
    while True:
        pids = _tagged_pids(token)
        if not pids or time.time() > deadline:
            return pids
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        sig = signal.SIGKILL
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM unwinds through the cleanup below instead of skipping it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    token = uuid.uuid4().hex
    scratch = os.path.join(HERE, ".scratch", f"run-{token[:12]}")
    dirs = {k: os.path.join(scratch, k) for k in ("data", "local", "tmp", "fw", "io", "work")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        return _run(args, token, scratch, dirs)
    finally:
        left = _stop_all(token)
        if left:
            print(f"processes still running: {left}", file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass


def _run(args, token: str, scratch: str, dirs: dict) -> int:
    import gen
    import refs

    t = time.time()
    planted = gen.generate(args.seed, dirs["data"], TABLES[args.workload])
    ref_path = os.path.join(scratch, "refs.pkl")
    with open(ref_path, "wb") as fh:
        pickle.dump(refs.build(OPS[args.workload], dirs["data"], planted), fh)
    inputs_s = time.time() - t

    env = {k: v for k, v in os.environ.items()
           if k not in _DROP_ENV and not k.startswith("FIREWORKS_")}
    env.update(
        PERFBENCH_RUN=token,
        # the Python workers import fireworks_spark and the benchmark's own
        # modules; nothing ships them, so both go on the inherited path
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        FIREWORKS_SCRATCH_DIR=dirs["fw"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']}",
    )
    result_path = os.path.join(scratch, "result.json")
    cfg = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "data": dirs["data"],
        "io_dir": dirs["io"],
        "refs": ref_path,
        "result": result_path,
        "t_spawn": time.time(),
    }
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), json.dumps(cfg)],
        cwd=dirs["work"],
        env=env,
        stdout=sys.stderr,  # keep stdout for the result line
        start_new_session=True,
    )
    try:
        code = child.wait(timeout=max(1.0, DEADLINE_S - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        print(f"run exceeded {DEADLINE_S}s; stopping it", file=sys.stderr)
        _stop_all(token)
        child.wait()
        return 4
    if code != 0 or not os.path.exists(result_path):
        print(f"engine run failed with exit code {code}", file=sys.stderr)
        return code or 5
    with open(result_path) as fh:
        res = json.load(fh)

    # the metrics of this mode, with their units, as BENCHMARK.json lists them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else res["metrics"]
    out = {"correct": res["correct"], "attempted": res["attempted"],
           "failed": res["failed"],
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in listed}}
    if args.trace:
        trace_dir = os.path.join(HERE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "warm_passes": res["warm_passes"], "layers": res["layers"],
                       "ops": res["trace_rows"]}, fh, indent=1)
    timeline = {"start_s": t - T_START, "inputs_s": inputs_s, **res["timeline"],
                "end_s": time.time() - T_START}
    print("timeline: " + " ".join(f"{k}={v:.2f}" for k, v in timeline.items()), file=sys.stderr)
    print(f"warm passes: {[round(p, 3) for p in res['warm_passes']]}", file=sys.stderr)
    for op, times in res["op_times"].items():
        print(f"  {op}: {[round(s, 3) for s in times]}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
