"""Engine side of one benchmark run: start the session, run the
workload's operations once cold and then in warm passes, check every
output, and write the measurements to a JSON file.

Started by run.py with the run's configuration as one JSON argument; see
run.py for the environment it sets.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

from workloads import CORES, FORMATS, OPS, WARM, Ctx, is_write, release, run_op

# The first warm pass also collects every output for the checks instead of
# writing it to noop; it is always a settling pass.


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> "list[int]":
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """VmHWM summed over this driver, the Spark JVM and Python workers."""
    return sum(_vm_hwm_kb(p) for p in _descendants(os.getpid())) / 1024.0


def _cpu_jiffies() -> "tuple[int, int]":
    """(steal, total) jiffies of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _check(op, out, ctx, refs_mod, refs):
    if is_write(op):
        fmt = op.split(".")[0]
        refs_mod.check_written(fmt, ctx.written[fmt], refs)
    else:
        refs_mod.check(op, out, refs)


def _stop(spark) -> None:
    """Stop the session, then close the py4j gateway and wait for the
    JVM to exit (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    cfg = json.loads(sys.argv[1])
    workload = cfg["workload"]
    ops = OPS[workload]
    settling, least = WARM[workload]
    try:
        from fireworks_spark.session import get_spark
    except Exception as exc:
        for op in ops:
            print(f"FAILED {op}: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 3
    t = time.time()
    spark = get_spark(master=f"local[{min(CORES, os.cpu_count() or 1)}]")
    get_spark_s = time.time() - t
    t = time.time()
    spark.read.parquet(os.path.join(cfg["data"], "region.parquet")).count()
    first_action_s = time.time() - t
    setup_s = time.time() - cfg["t_spawn"]

    import refs as refs_mod

    with open(cfg["refs"], "rb") as fh:
        refs = pickle.load(fh)

    tracer = None
    if cfg["trace"]:
        from layers import Tracer

        tracer = Tracer(spark)
    ctx = Ctx(spark=spark, data=cfg["data"], io_dir=cfg["io_dir"], written={})
    attempted = failed = mismatched = 0
    pass_times: "list[float]" = []
    op_times: dict = {op: [] for op in ops}  # seconds per pass, cold first
    untimed = {"check_s": 0.0, "release_s": 0.0}  # wall outside timed sections

    def one_pass(pass_no: int, check: bool) -> float:
        nonlocal attempted, failed, mismatched
        total = 0.0
        for op in ops:
            attempted += 1
            df = out = None
            try:
                if tracer is not None:
                    s, df = tracer.op(pass_no, op, ctx, run_op, is_write(op))
                    t0 = time.perf_counter()
                    if check and df is not None:
                        out = df.toPandas()
                    untimed["check_s"] += time.perf_counter() - t0
                else:
                    # the check pass collects the output as its action, so
                    # it runs once; every other pass writes it to noop
                    t0 = time.perf_counter()
                    df = run_op(op, ctx)
                    if df is not None and check:
                        out = df.toPandas()
                    elif df is not None:
                        df.write.format("noop").mode("overwrite").save()
                    s = time.perf_counter() - t0
                total += s
                op_times[op].append(s)
                if check:
                    t0 = time.perf_counter()
                    _check(op, out, ctx, refs_mod, refs)
                    untimed["check_s"] += time.perf_counter() - t0
            except refs_mod.CheckFailed:
                mismatched += 1
                print(f"WRONG {op} (pass {pass_no}):", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            except Exception:
                failed += 1
                print(f"FAILED {op} (pass {pass_no}):", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            finally:
                t0 = time.perf_counter()
                release(spark, df)
                if op.endswith(".read"):
                    path = ctx.written.pop(op.split(".")[0], None)
                    if path:
                        shutil.rmtree(path, ignore_errors=True)
                untimed["release_s"] += time.perf_counter() - t0
        return total

    steal0, total0 = _cpu_jiffies()
    t_cold = time.perf_counter()
    first_pass_s = one_pass(0, check=False)
    t_warm = time.perf_counter()
    while len(pass_times) < least or time.perf_counter() - t_warm < cfg["seconds"]:
        pass_times.append(one_pass(len(pass_times) + 1, check=not pass_times))
    t_warm_end = time.perf_counter()
    steal1, total1 = _cpu_jiffies()
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": mismatched == 0,
        "warm_passes": pass_times,
        "op_times": op_times,
        "timeline": {
            "get_spark_s": get_spark_s,
            "first_action_s": first_action_s,
            "cold_pass_s": t_warm - t_cold,
            "warm_s": t_warm_end - t_warm,
            **untimed,
            # CPU time the hypervisor gave to others while the passes ran:
            # a slow run with high steal is the host, not the program
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        },
    }
    if tracer is None:
        result["metrics"] = {
            "setup_s": setup_s,
            "first_pass_s": first_pass_s,
            "pass_s": statistics.median(pass_times[settling:]),
            "peak_rss_mb": peak_rss_mb(),
        }
    else:
        settled = range(settling + 1, len(pass_times) + 1)  # 1-based
        layers = tracer.summary(list(settled), FORMATS)
        layers["session.get_spark_s"] = get_spark_s
        layers["session.first_action_s"] = first_action_s
        result["layers"] = layers
        result["trace_rows"] = tracer.rows
    t = time.perf_counter()
    _stop(spark)
    result["timeline"]["stop_s"] = time.perf_counter() - t
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
