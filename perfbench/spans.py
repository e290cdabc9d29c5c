"""Outside-in measurement: op timing, spans and layer counters.

Everything here observes the engine from the caller's side. ``Recorder``
times ops and, in a traced run, keeps spans (name, start, end, parent,
op id) in memory. ``SparkCounters`` reads Spark's ``AppStatusStore`` for
the jobs each op submitted, ``StreamProgress`` collects
``StreamingQueryListener`` events, and ``Py4jCounter`` counts py4j round
trips by wrapping the gateway client's ``send_command``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


@dataclass
class Recorder:
    """Times ops; in a traced run also records spans and layer counters.

    ``layer[name]`` accumulates per-run totals that the workloads and
    the counters add to; ``samples[name]`` keeps lists for medians."""

    traced: bool
    ops: list[Op] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    check_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    # traced runs: callables run after each op, and a py4j call counter
    after_op: list = field(default_factory=list)
    count_calls: object = None

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span in a traced run; a no-op otherwise."""
        if not self.traced:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            {
                "op": len(self.ops),
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
            }
        )
        self._stack.append(idx)
        calls0 = self.count_calls() if self.count_calls else 0
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()
            if self.count_calls:
                self.spans[idx]["py4j_calls"] = self.count_calls() - calls0

    def span_seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one op. An exception inside counts the op as failed and is
        reported on stderr; the loop goes on with the next op."""
        t0 = time.perf_counter()
        ok = False
        try:
            with self.span(f"op:{name}"):
                yield
            ok = True
        except Exception:  # an op failure is a measured outcome, not a crash
            traceback.print_exc(file=sys.stderr)
        finally:
            seconds = time.perf_counter() - t0
            self.ops.append(Op(name, seconds, ok))
            print(f"perfbench: op {name} {seconds:.2f}s", file=sys.stderr, flush=True)
        if self.traced:
            t1 = time.perf_counter()
            for hook in self.after_op:
                hook(len(self.ops) - 1, self)
            self.add("trace.counter_read_s", time.perf_counter() - t1)

    @contextlib.contextmanager
    def checking(self):
        """Time the benchmark's own output checks, so throughput can leave
        them out."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0


class Py4jCounter:
    """Counts py4j commands sent by this process (all threads)."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._count = itertools.count()
        self.n = 0

        def send_command(*args, **kwargs):
            self.n = next(self._count) + 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


# spans around the call that makes Spark execute an op's plan
ACTION_SPANS = ("spark_sql.action", "mapreduce.pull")


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """After each op, reads the Spark jobs submitted since the previous op
    from the driver's ``AppStatusStore`` (works with the UI disabled).
    Jobs are attributed by job-id window rather than job group, because
    the MapReduce result pull submits its jobs from a thread pool that
    does not inherit the caller's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def __call__(self, op_id: int, rec: Recorder) -> None:
        jobs = self.store.jobsList(None)
        new = [jobs.apply(i) for i in range(jobs.size())]
        new = [j for j in new if j.jobId() > self.last_job]
        if not new:
            return
        self.last_job = max(j.jobId() for j in new)
        intervals = []
        stage_ids: set[int] = set()
        for j in new:
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None:
                intervals.append((start, end if end is not None else start))
                rec.spans.append(
                    {"op": op_id, "name": f"spark_sql.job:{j.jobId()}", "start": start,
                     "end": intervals[-1][1], "parent": self._op_span(rec, op_id)}
                )
            seq = j.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        rec.add("spark_sql.jobs", len(new))
        rec.add("spark_sql.exec_ms", 1000.0 * _union_seconds(intervals))
        # plan time: from the call that triggers execution to its first job
        action = [s["start"] for s in rec.spans if s["op"] == op_id and s["name"] in ACTION_SPANS]
        if action:
            first = min((a for a, _ in intervals if a >= action[0]), default=None)
            if first is not None:
                rec.add("spark_sql.plan_ms", 1000.0 * (first - action[0]))
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # py4j raises for a stage the store evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec.add("spark_sql.stages", 1)
            rec.add("spark_sql.tasks", st.numTasks())
            rec.add("spark_sql.failed_tasks", st.numFailedTasks())
            rec.add("spark_sql.task_run_ms", st.executorRunTime())
            rec.add("spark_sql.task_cpu_ms", st.executorCpuTime() / 1e6)
            rec.add("spark_sql.gc_ms", st.jvmGcTime())
            rec.add("spark_sql.input_bytes", st.inputBytes())
            rec.add("spark_sql.shuffle_write_bytes", st.shuffleWriteBytes())
            rec.add("spark_sql.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        rec.add("memo.persisted_rdds", len(self.sc._jsc.getPersistentRDDs()))

    @staticmethod
    def _op_span(rec: Recorder, op_id: int) -> int | None:
        for i, s in enumerate(rec.spans):
            if s["op"] == op_id and s["name"].startswith("op:"):
                return i
        return None


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StreamProgress:
    """Collects streaming progress events and turns them into child spans
    of the op that ran the query. Listener events arrive asynchronously,
    so ``__call__`` waits for every query started during the op to report
    termination before reading its batches."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.cond = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list = []
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.cond:
                    outer.started.append(str(event.id))

            def onQueryProgress(self, event):
                with outer.cond:
                    outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.terminated.add(str(event.id))
                    outer.cond.notify_all()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def __call__(self, op_id: int, rec: Recorder) -> None:
        with self.cond:
            self.cond.wait_for(
                lambda: all(q in self.terminated for q in self.started), timeout=60
            )
            progress, self.progress, self.started = self.progress, [], []
        trigger_s = 0.0
        state_rows: dict[str, int] = {}
        parent = SparkCounters._op_span(rec, op_id)
        for p in progress:
            d = p.durationMs
            trig = d.get("triggerExecution", 0) / 1000.0
            trigger_s += trig
            end = _iso_seconds(p.timestamp) + trig
            rec.spans.append(
                {"op": op_id, "name": f"streaming.batch:{p.batchId}", "start": end - trig,
                 "end": end, "parent": parent}
            )
            state_rows[str(p.id)] = sum(s.numRowsTotal for s in p.stateOperators)
            if p.numInputRows <= 0:
                continue
            rec.add("streaming.batches", 1)
            rec.sample("streaming.batch_s", trig)
            rec.add("streaming.add_batch_ms", d.get("addBatch", 0))
            rec.add("streaming.query_planning_ms", d.get("queryPlanning", 0))
            rec.add("streaming.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
            rec.add("streaming.latest_offset_ms", d.get("latestOffset", 0))
        if progress:
            rec.add("streaming.state_rows", sum(state_rows.values()))
            op_s = rec.ops[op_id].seconds
            rec.add("streaming.outside_batch_ms", 1000.0 * max(0.0, op_s - trigger_s))


def _iso_seconds(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and its JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
