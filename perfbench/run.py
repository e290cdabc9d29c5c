"""Repository benchmark: end-to-end and per-layer metrics of the engine's
user-facing paths, measured from outside the package.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 12 --trace 0

Workloads (closed loop, one client, ``local[<cores>]``; see workloads.py):

- ``analytics_mix``: bench.py headline queries at sf0.1, written to the
  noop sink, data cache cleared before each query.
- ``mr_stream``: store a seeded text corpus in the warehouse, run the
  ``examples/inverted_index.py`` plugin with per-reducer result files,
  retrieve and delete the stored file (store, job and retrieve are ops);
  beside it a registry ``*_live`` query running several micro-batches
  through the streaming engine.

Inputs are generated from ``--seed`` inside a fresh work directory under
``.perfbench/`` in the checkout; every engine path that writes (derived
tables, warehouse, Spark local dirs, temp files) points there, and the
directory is removed at the end. The run measures whole passes of its op
mix until ``--seconds`` have elapsed, checks the outputs, and prints one
JSON line: ``--trace 0`` gives the end-to-end metrics, ``--trace 1`` the
per-layer metrics from a traced run (spans are written to
``.perfbench/traces/``). See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_BASE = os.path.join(ROOT, ".perfbench")
# a run writes nothing into the checkout's source tree, bytecode included
sys.dont_write_bytecode = True

from workloads import WORKLOADS  # noqa: E402


def process_start() -> float:
    """Epoch time this process was started (from /proc when available)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return T_START


def tree_state(root: str) -> dict:
    """Every path of the checkout outside the benchmark's own work dir,
    with size and mtime for files: two equal states mean the run left the
    tree as it found it."""
    skip = {os.path.basename(WORK_BASE), ".bench_build", ".git"}
    state = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel == ".":
            dirnames[:] = [d for d in dirnames if d not in skip]
        state[rel] = "dir"
        for f in filenames:
            st = os.lstat(os.path.join(dirpath, f))
            state[os.path.join(rel, f)] = (st.st_size, st.st_mtime_ns)
    return state


def isolate(work: str) -> None:
    """Point every writing path of the engine, Spark and Python into
    ``work`` before anything imports pyspark."""
    for sub in ("derived", "spark-warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_GRAFT_DERIVED_DIR=os.path.join(work, "derived"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "spark-warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # one CPU is left to the benchmark's Python process and the JVM's
        # own threads (py4j, JIT, GC): with a task slot on every CPU, runs
        # spread wider (README.md, "Host noise")
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) - 1)),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    os.chdir(work)
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(1, p)


def _children(pid: int) -> list[int]:
    """All descendants of ``pid`` (from /proc)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in parents.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # subprocess.TimeoutExpired: force it
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def measure(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    import metrics
    from spans import Py4jCounter, Recorder, SparkCounters, StreamProgress, dir_bytes, peak_rss_mb

    wl = WORKLOADS[workload](ROOT, work)
    t = time.time()
    wl.prepare(seed)
    inputs_s = time.time() - t

    from go_dfs_mapreduce_spark.session import get_spark

    t = time.time()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        },
    )
    get_spark_s = time.time() - t
    try:
        t = time.time()
        import __spark_entry__

        queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        registry_s = time.time() - t
        wl.start(spark, queries)
        t = time.time()
        wl.warm()
        warm_s = time.time() - t
        derived_dir = os.environ["SPARK_GRAFT_DERIVED_DIR"]
        derived_setup = dir_bytes(derived_dir)

        rec = Recorder(traced=traced)
        cores = spark.sparkContext.defaultParallelism
        tracers = []
        if traced:
            py4j, progress = Py4jCounter(spark), StreamProgress(spark)
            rec.count_calls = lambda: py4j.n
            rec.after_op = [SparkCounters(spark), progress]
            tracers = [py4j, progress]
        rng = random.Random(seed)
        t_first = time.time()
        setup_s = t_first - process_start() - inputs_s
        # whole passes; stop once the next one would end more than half a
        # pass past ``seconds``, so the loop lasts ``seconds`` give or take
        # half a pass
        for n_pass in itertools.count(1):
            wl.run_pass(rec, rng)
            elapsed = time.time() - t_first
            if n_pass >= wl.min_passes and elapsed * (1 + 0.5 / n_pass) >= seconds:
                break
        loop_s = time.time() - t_first - rec.check_s
        for tracer in tracers:
            tracer.close()
        wl.check(oracles)
        derived_timed = dir_bytes(derived_dir) - derived_setup
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss_mb = peak_rss_mb(jvm.pid if jvm is not None else None)
    finally:
        stop_spark(spark)

    failed = sum(1 for o in rec.ops if not o.ok or o.name in wl.bad)
    attempted = len(rec.ops)
    if traced:
        values = metrics.per_layer(
            rec, workload=wl, cores=cores,
            setup={"session.get_spark_s": get_spark_s, "registry.collect_s": registry_s,
                   "session.warmup_s": warm_s, "session.peak_rss_mb": rss_mb,
                   "derived.bytes_written_setup": derived_setup,
                   "derived.bytes_written_timed": derived_timed},
        )
        os.makedirs(os.path.join(WORK_BASE, "traces"), exist_ok=True)
        with open(os.path.join(WORK_BASE, "traces", f"{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"ops": [o.__dict__ for o in rec.ops], "spans": rec.spans}, fh)
    else:
        values = metrics.end_to_end(rec, setup_s, loop_s, failed)
    declared = metrics.PER_LAYER if traced else metrics.END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics.with_units(values, declared),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "go_dfs_mapreduce_spark"))
        and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))
    ):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    before = tree_state(ROOT)
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if tree_state(ROOT) != before:
        print("the run changed files of the checkout", file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
