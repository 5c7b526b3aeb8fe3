"""Outside-in layer trace for the traced run (``--trace 1``).

Spans are taken around the benchmark's own calls into each layer; nothing
inside the program is instrumented. Per operation:

- construct: the query function call (Python, py4j and every Spark job it
  starts before the final write — routing probes, eager checkpoints,
  whole stream replays);
- plan: ``queryExecution().executedPlan()`` forced before the write, with
  Catalyst's own phase split from ``tracker().phases()``;
- exec: the final ``noop`` write (or the writer call of a format write);
  task, CPU, GC, shuffle, input and spill totals come from Spark's status
  store for every job the operation ran, job ids bracketed by the DAG
  scheduler's job counter;
- stream: micro-batch progress from a ``StreamingQueryListener``;
- io: files and bytes a format write left, and the read-back's tasks.

The traced pass is slower than an untraced one by the plan span and the
py4j reads; README.md gives that overhead.
"""

from __future__ import annotations

import os
import statistics
import time

from py4j.protocol import Py4JJavaError

LAYER_KEYS = [
    "construct.s",
    "construct.eager_jobs",
    "construct.eager_job_s",
    "plan.analysis_ms",
    "plan.optimization_ms",
    "plan.planning_ms",
    "exec.s",
    "exec.jobs",
    "exec.tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.shuffle_read_mb",
    "exec.input_mb",
    "exec.spill_mb",
    "pyworker.task_s",
    "stream.triggers",
    "stream.input_rows",
    "stream.planning_ms",
    "stream.get_batch_ms",
    "stream.add_batch_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.state_commit_ms",
    "stream.state_rows",
    "stream.state_mb",
    "io.files_written",
    "io.bytes_written",
    "io.read_tasks",
]

_MB = 1024.0 * 1024.0


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            st = p.stateOperators or []
            sink.append(
                {
                    "trigger_ms": d.get("triggerExecution", 0),
                    "planning_ms": d.get("queryPlanning", 0),
                    "get_batch_ms": d.get("getBatch", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "commit_offsets_ms": d.get("commitOffsets", 0),
                    "input_rows": p.numInputRows,
                    "state_commit_ms": sum(s.commitTimeMs for s in st),
                    "state_rows": sum(s.numRowsTotal for s in st),
                    "state_mb": sum(s.memoryUsedBytes for s in st) / _MB,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


class Tracer:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._progress: list = []
        spark.streams.addListener(_progress_listener(self._progress))
        self.rows: list = []

    # -- status store -------------------------------------------------------

    def _jobs(self, lo: int, hi: int) -> dict:
        out = dict.fromkeys(
            ("jobs", "job_s", "tasks", "run_s", "cpu_s", "gc_s", "sw_mb", "sr_mb",
             "input_mb", "spill_mb"), 0.0
        )
        for j in range(lo, hi):
            try:
                jd = self._store.job(j)
            except Py4JJavaError:  # evicted from the store, or never listed
                continue
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = jd.stageIds()
            for k in range(ids.size()):
                try:
                    sd = self._store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["sw_mb"] += sd.shuffleWriteBytes() / _MB
                out["sr_mb"] += sd.shuffleReadBytes() / _MB
                out["input_mb"] += sd.inputBytes() / _MB
                out["spill_mb"] += sd.diskBytesSpilled() / _MB
        return out

    # -- one operation ------------------------------------------------------

    def op(self, pass_no: int, op: str, ctx, run_op, is_write: bool):
        """Run ``op`` with spans around each layer; return (elapsed, df)."""
        row = dict.fromkeys(LAYER_KEYS, 0.0)
        n_events = len(self._progress)
        j0 = self._dag.numTotalJobs()
        df = None
        t0 = time.perf_counter()
        if is_write:
            run_op(op, ctx)
            t1 = t2 = t0
            t3 = time.perf_counter()
            j1 = j0
        else:
            df = run_op(op, ctx)
            t1 = time.perf_counter()
            j1 = self._dag.numTotalJobs()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            phases = qe.tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                if phases.contains(name):
                    row[f"plan.{name}_ms"] = float(phases.apply(name).durationMs())
        j2 = self._dag.numTotalJobs()
        self._bus.waitUntilEmpty()
        eager = self._jobs(j0, j1)
        every = self._jobs(j0, j2)
        row["construct.s"] = t1 - t0
        row["construct.eager_jobs"] = eager["jobs"]
        row["construct.eager_job_s"] = eager["job_s"]
        row["exec.s"] = t3 - t2
        row["exec.jobs"] = every["jobs"]
        row["exec.tasks"] = every["tasks"]
        row["exec.task_run_s"] = every["run_s"]
        row["exec.task_cpu_s"] = every["cpu_s"]
        row["exec.gc_s"] = every["gc_s"]
        row["exec.shuffle_write_mb"] = every["sw_mb"]
        row["exec.shuffle_read_mb"] = every["sr_mb"]
        row["exec.input_mb"] = every["input_mb"]
        row["exec.spill_mb"] = every["spill_mb"]
        row["pyworker.task_s"] = max(0.0, every["run_s"] - every["cpu_s"])
        triggers = self._progress[n_events:]
        row["stream.triggers"] = len(triggers)
        for key in ("input_rows", "planning_ms", "get_batch_ms", "add_batch_ms",
                    "wal_commit_ms", "commit_offsets_ms", "state_commit_ms",
                    "state_rows", "state_mb"):
            row[f"stream.{key}"] = float(sum(t[key] for t in triggers))
        if is_write:
            path = ctx.written[op.split(".")[0]]
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith((".", "_"))
            ]
            row["io.files_written"] = len(files)
            row["io.bytes_written"] = sum(os.path.getsize(f) for f in files)
        elif op.endswith(".read"):
            row["io.read_tasks"] = every["tasks"]
        row["trigger_ms"] = [t["trigger_ms"] for t in triggers]
        elapsed = t3 - t0
        self.rows.append({"pass": pass_no, "op": op, "s": elapsed, **row})
        return elapsed, df

    # -- summary ------------------------------------------------------------

    def summary(self, passes: "list[int]", formats: "list[str]") -> dict:
        """Per-layer metrics: the median over ``passes`` of each metric's
        per-pass sum; the trigger median over every trigger in them."""
        rows = [r for r in self.rows if r["pass"] in passes]

        def per_pass(pred, key):
            return statistics.median(
                sum(r[key] for r in rows if r["pass"] == p and pred(r))
                for p in passes
            )

        out = {k: per_pass(lambda r: True, k) for k in LAYER_KEYS}
        trig = [t for r in rows for t in r["trigger_ms"]]
        out["stream.trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
        for side in ("write", "read"):
            out[f"io.{side}_s"] = per_pass(lambda r: r["op"].endswith(side), "s")
            for fmt in formats:
                out[f"io.{side}_s.{fmt}"] = per_pass(
                    lambda r: r["op"] == f"{fmt}.{side}", "s"
                )
        return out
