"""A/B of the Python worker daemon: time from task launch to user code.

Two arms, each run in its own child process (fresh JVM, fresh workers),
alternating and with the order flipped every pair:

- ``daemon``: ``session.get_spark`` defaults, so workers fork from
  ``mincemeatpy_spark.worker_daemon``;
- ``stock``: ``get_spark(extra_conf={"spark.python.daemon.module":
  "pyspark.daemon"})``, PySpark's own daemon.

Each child warms up, then runs ``--jobs`` rounds of two job kinds:

- ``trivial``: a 6-task identity ``map`` over six ints;
- ``wordcount``: the ``mr_wordcount`` job of ``perfbench`` — the reference
  word count through ``compat.mapreduce()`` on 5000 Zipf documents of 200
  words, with ``collectfn = reducefn``.  Every result is checked against a
  ``collections.Counter``.

For every task it records the time from the task's launch (AppStatusStore
``launchTime``) to the first call of the user function (``map``'s lambda,
``mapfn`` or ``reducefn``; reported through an accumulator), and the wall
time of every job.  Both clocks are the host's wall clock, in milliseconds
on the JVM side.

Usage (from the repository root)::

    python probes/r15/worker_task_overhead.py [--pairs 5] [--jobs 8]
        [--out probes/r15/worker_task_overhead.json]

The parent prints one summary line per child and writes the JSON record:
per-child medians, the median over children per arm, and the per-pair
differences (daemon minus stock).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from collections import Counter

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, ROOT)

ARMS = {
    "daemon": None,
    "stock": {"spark.python.daemon.module": "pyspark.daemon"},
}
KINDS = ("trivial", "wordcount")
WARMUP_ROUNDS = 3


def _first_call_recorder(fn, acc):
    """Wrap ``fn`` so each task reports (task id, time of its first call)."""
    seen = set()

    def wrapped(*args):
        from pyspark import TaskContext

        tid = TaskContext.get().taskAttemptId()
        if tid not in seen:
            seen.add(tid)
            acc.add([(tid, time.time())])
        return fn(*args)

    return wrapped


def _task_launches(sc, group: str) -> dict[int, float]:
    """Task id -> launch time (s) of every task in the group's jobs."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    out = {}
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(job_id).stageIds()
        for i in range(stage_ids.size()):
            sid = int(stage_ids.apply(i))
            for attempt in range(store.lastStageAttempt(sid).attemptId() + 1):
                tasks = store.taskList(sid, attempt, 2**31 - 1)
                for j in range(tasks.size()):
                    t = tasks.apply(j)
                    out[t.taskId()] = t.launchTime().getTime() / 1000.0
    return out


def child(arm: str, jobs: int, seed: int) -> dict:
    from pyspark.accumulators import AccumulatorParam

    from mincemeatpy_spark.compat import mapreduce
    from mincemeatpy_spark.session import get_spark
    from perfbench.inputs import ZipfCorpus
    from perfbench.workloads import MR_DOCS, MR_VOCAB, MR_WORDS, wc_mapfn, wc_reducefn

    class ListParam(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            a.extend(b)
            return a

    spark = get_spark(f"worker-overhead-{arm}", extra_conf=ARMS[arm])
    sc = spark.sparkContext
    source = dict(ZipfCorpus(seed, MR_DOCS, MR_WORDS, MR_VOCAB).items())
    want = dict(Counter(w for text in source.values() for w in text.split()))

    def run(kind: str, n: int) -> tuple[float, list[float]]:
        acc = sc.accumulator([], ListParam())
        group = f"overhead-{kind}-{n}"
        sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        if kind == "trivial":
            sc.parallelize(range(6), 6).map(_first_call_recorder(lambda x: x, acc)).collect()
        else:
            got = mapreduce(
                spark,
                source,
                _first_call_recorder(wc_mapfn, acc),
                _first_call_recorder(wc_reducefn, acc),
                collectfn=wc_reducefn,
            )
        wall = time.perf_counter() - t0
        sc._jsc.clearJobGroup()
        if kind == "wordcount" and got != want:
            raise AssertionError("wordcount result differs from Counter")
        launches = _task_launches(sc, group)
        return wall, [t - launches[tid] for tid, t in acc.value]

    n = 0
    for _ in range(WARMUP_ROUNDS):
        for kind in KINDS:
            n += 1
            run(kind, n)
    walls = {k: [] for k in KINDS}
    delays = {k: [] for k in KINDS}
    for _ in range(jobs):
        for kind in KINDS:
            n += 1
            wall, d = run(kind, n)
            walls[kind].append(wall)
            delays[kind].extend(d)
    conf = sc.getConf()
    rec = {
        "arm": arm,
        "daemon_module": conf.get("spark.python.daemon.module", "pyspark.daemon"),
        "cores": sc.defaultParallelism,
        "tasks": {k: len(delays[k]) for k in KINDS},
    }
    for k in KINDS:
        rec[f"launch_to_user_s.{k}"] = statistics.median(delays[k])
        rec[f"job_s.{k}"] = statistics.median(walls[k])
    spark.stop()
    return rec


def parent(pairs: int, jobs: int, seed: int, out: str) -> None:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    runs = []
    for p in range(pairs):
        order = ("daemon", "stock") if p % 2 == 0 else ("stock", "daemon")
        for arm in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--child", arm,
                   "--jobs", str(jobs), "--seed", str(seed)]
            res = subprocess.run(cmd, env=env, cwd=ROOT, capture_output=True, text=True)
            if res.returncode != 0:
                sys.exit(f"{arm} child failed:\n{res.stderr[-4000:]}")
            rec = json.loads(res.stdout.strip().splitlines()[-1])
            rec["pair"] = p
            runs.append(rec)
            print(json.dumps(rec), flush=True)
    metrics = [f"{m}.{k}" for m in ("launch_to_user_s", "job_s") for k in KINDS]
    summary = {
        arm: {m: statistics.median(r[m] for r in runs if r["arm"] == arm) for m in metrics}
        for arm in ARMS
    }
    by_pair = {(r["pair"], r["arm"]): r for r in runs}
    diffs = {
        m: [round(by_pair[p, "daemon"][m] - by_pair[p, "stock"][m], 4) for p in range(pairs)]
        for m in metrics
    }
    record = {
        "host": {
            "nproc": os.cpu_count(),
            "python": platform.python_version(),
            "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
            "driver_memory": env["SPARK_DRIVER_MEMORY"],
        },
        "pairs": pairs,
        "jobs_per_kind": jobs,
        "seed": seed,
        "median_over_children": summary,
        "daemon_minus_stock_per_pair": diffs,
        "runs": runs,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(json.dumps(summary))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--jobs", type=int, default=8)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(__file__),
                                                  "worker_task_overhead.json"))
    ap.add_argument("--child", choices=sorted(ARMS))
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(args.child, args.jobs, args.seed)))
    else:
        parent(args.pairs, args.jobs, args.seed, args.out)


if __name__ == "__main__":
    main()
