"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run:

1. generates the workload's inputs from ``--seed`` (untimed);
2. sets up: ``get_spark`` + ``load_all_queries`` + one warm-up job (timed);
3. runs untimed warm-up rounds, so lazy set-up and most JIT compilation are
   done;
4. runs jobs closed-loop, one at a time, in whole rounds, for at least
   ``--seconds`` and at least ``MIN_JOBS`` jobs, checking every result
   outside the timed region;
5. sets up twice more in a fresh SparkContext and fresh registry import,
   so ``setup_s`` is a median of three;
6. stops Spark and waits for every process it started.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced rounds and prints the per-layer metrics; spans go to
``perfbench/out/``.  The last stdout line is one JSON object.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
MIN_JOBS = 11  # the tail needs ten samples beyond it

END_TO_END = {
    "setup_s": "s",
    "job_s.p50": "s",
    "job_s.tail": "s",
    "records_per_s": "records/s",
    "peak_rss_mb": "MB",
}

def per_layer_units() -> dict[str, str]:
    from perfbench.probe import COUNTERS, LAYERS, SPARK_TOTALS
    from perfbench.workloads import CORPUS_QUERIES

    units = {
        "session.get_spark_s": "s",
        "registry.load_all_queries_s": "s",
        "session.first_job_s": "s",
        "compat.mapreduce_s": "s",
        "compat.driver_s": "s",
    }
    units.update({f"compat.{k}": "s" if k.endswith("_s") else "count" for k in COUNTERS})
    units.update({"compat.combine_pairs_out": "count", "compat.combine_ratio": "ratio"})
    units.update({f"spark.{k}": u for k, u in SPARK_TOTALS.items()})
    units.update({
        "registry.build_s": "s", "registry.build_jobs": "count",
        "spark.action_s": "s", "spark.action_jobs": "count",
        "spark.sql.analysis_s": "s", "spark.sql.optimization_s": "s",
        "spark.sql.planning_s": "s",
        "spark.python.boot_s": "s", "spark.python.init_s": "s",
        "spark.python.total_s": "s", "spark.python.bytes_sent": "bytes",
        "spark.python.bytes_received": "bytes",
    })
    for q in CORPUS_QUERIES:
        units.update({
            f"registry.build_s.{q}": "s",
            f"registry.build_jobs.{q}": "count",
            f"spark.action_s.{q}": "s",
        })
    units.update({f"self.{layer}_s": "s" for layer in LAYERS if layer not in ("bench", "session")})
    units["trace.overhead_s"] = "s"
    return units


# --------------------------------------------------------------------------
# environment and host facts
# --------------------------------------------------------------------------


def prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    Python workers import the checkout's packages."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    # One core stays free for the driver, the JVM's compiler and GC threads
    # and the memory sampler; with every core running tasks, job times
    # were slower and spread more between runs.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    # A bounded heap keeps the JVM's resident size, and with it the run's
    # memory use and timing, from depending on when G1 grows the heap.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)


def git_revision() -> str | None:
    """HEAD's commit, read from ``.git`` without running git; None when the
    tree is not a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def host_facts(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "git_revision": git_revision(),
    }


# --------------------------------------------------------------------------
# set-up, teardown
# --------------------------------------------------------------------------


def _identity(x):
    return x


def setup(tracer) -> tuple[object, dict[str, float]]:
    """get_spark + load_all_queries + one warm-up job that starts the
    Python workers; returns the session and each step's seconds."""
    from mincemeatpy_spark.session import get_spark

    with tracer.span("setup") as root:
        with tracer.span("session") as s1:
            spark = get_spark("perfbench")
        with tracer.span("registry.load") as s2:
            from mincemeatpy_spark.registry import load_all_queries

            load_all_queries()
        with tracer.span("session.first_job") as s3:
            sc = spark.sparkContext
            sc.parallelize(range(64), sc.defaultParallelism).map(_identity).count()
    return spark, {
        "setup_s": root.end - root.start,
        "session.get_spark_s": s1.end - s1.start,
        "registry.load_all_queries_s": s2.end - s2.start,
        "session.first_job_s": s3.end - s3.start,
    }


def fresh_setup(spark, tracer):
    """Stop the SparkContext, forget the imported package, set up again.
    The JVM stays up, so this times everything but its launch."""
    spark.stop()
    for mod in [m for m in sys.modules if m.split(".")[0] == "mincemeatpy_spark"]:
        del sys.modules[mod]
    return setup(tracer)


def teardown(spark) -> None:
    """Stop Spark, then the JVM, then anything left below this process."""
    from pyspark import SparkContext

    from perfbench.probe import descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, 15)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
    if left:
        raise RuntimeError(f"processes still running after teardown: {left}")


# --------------------------------------------------------------------------
# the measured loop
# --------------------------------------------------------------------------


def measure(jobs, spark, seconds: float, trace=None) -> list[dict]:
    """Run ``jobs`` round-robin in whole rounds, closed-loop, until
    ``seconds`` have passed and at least ``MIN_JOBS`` untraced jobs ran.
    With ``trace``, rounds alternate untraced and traced (and the loop
    ends on a traced round).  Each result is checked after its job's
    clock stops; a job that raises or fails its check is failed."""
    samples: list[dict] = []
    start = time.perf_counter()
    rnd = 0
    while True:
        traced = trace is not None and rnd % 2 == 1
        for job in jobs:
            t0 = time.perf_counter()
            if traced:
                trace.job = {}
            try:
                if traced:
                    with trace.tracer.span("job") as root:
                        result = job.run(spark, trace)
                else:
                    result = job.run(spark, None)
                dt = time.perf_counter() - t0
                if traced:
                    for layer, v in trace.tracer.self_by_layer(root).items():
                        trace.job[f"self.{layer}_s"] = v
                job.check(result)
                ok = True
            except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                dt = time.perf_counter() - t0
                traceback.print_exc()
                ok = False
            samples.append(
                {"kind": job.kind, "s": dt, "ok": ok, "traced": traced,
                 "records": job.records, "layers": dict(trace.job) if traced else None}
            )
        rnd += 1
        untraced = sum(1 for s in samples if not s["traced"])
        done = time.perf_counter() - start >= seconds and untraced >= MIN_JOBS
        if done and (trace is None or rnd % 2 == 0):
            return samples


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples
    beyond it: the 11th-largest time."""
    xs = sorted(times)
    k = len(xs) - MIN_JOBS
    return xs[k], 100.0 * (k + 1) / len(xs)


def end_to_end(samples, setups, peak_rss) -> tuple[dict, dict]:
    times = [s["s"] for s in samples]
    t_val, t_pct = tail(times)
    values = {
        "setup_s": statistics.median(x["setup_s"] for x in setups),
        "job_s.p50": statistics.median(times),
        "job_s.tail": t_val,
        "records_per_s": sum(s["records"] for s in samples) / sum(times),
        "peak_rss_mb": peak_rss / 2**20,
    }
    return values, {"tail_percentile": round(t_pct, 1), "jobs": len(times)}


def per_layer(samples, setups) -> dict:
    units = per_layer_units()
    traced = [s for s in samples if s["traced"]]
    plain = [s["s"] for s in samples if not s["traced"]]
    values = dict.fromkeys(units, 0.0)
    for name in units:
        got = [s["layers"][name] for s in traced if name in s["layers"]]
        got = got or [x[name] for x in setups if name in x]
        if got:
            values[name] = statistics.median(got)
    values["trace.overhead_s"] = statistics.median(s["s"] for s in traced) - statistics.median(plain)
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not __debug__:
        print("perfbench: the result checks use assert; run without -O", file=sys.stderr)
        return 2
    prepare_env()
    try:
        import mincemeatpy_spark  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    from perfbench import probe
    from perfbench.workloads import WORKLOADS, Trace

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    phases = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    workload = WORKLOADS[args.workload](args.seed, OUT)
    phase("inputs")
    tracer = probe.Tracer()
    spark = None
    try:
        spark, first = setup(tracer)
        facts = host_facts(spark)
        phase("setup")
        for _ in range(workload.warmup_rounds):  # untimed: JIT, caches, imports
            for job in workload.jobs:
                job.check(job.run(spark, None))
        phase("warmup")
        trace = None
        if args.trace:
            trace = Trace(tracer, probe.SparkCalls(spark), probe.Counters(spark.sparkContext))
        with probe.RssSampler() as rss:
            samples = measure(workload.jobs, spark, args.seconds, trace)
        phase("measure")
        setups = [first]
        for _ in range(2):
            spark, again = fresh_setup(spark, tracer)
            setups.append(again)
        phase("setup_again")
    finally:
        teardown(spark)
    phase("teardown")

    untraced = [s for s in samples if not s["traced"]]
    failed = sum(1 for s in samples if not s["ok"])
    e2e, shape = end_to_end(untraced, setups, rss.peak)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts, "inputs": workload.inputs,
        "job_s.tail": shape, "failed_frac": failed / len(samples),
        "setups_s": [round(x["setup_s"], 4) for x in setups],
        "phases_s": phases,
        "jobs": {
            kind: {"p50_s": statistics.median(ts), "s": [round(t, 4) for t in ts]}
            for kind in dict.fromkeys(s["kind"] for s in untraced)
            for ts in [[s["s"] for s in untraced if s["kind"] == kind]]
        },
        "end_to_end": e2e,
    }
    if args.trace:
        layers = per_layer(samples, setups)
        metrics = {k: (layers[k], u) for k, u in per_layer_units().items()}
        record["per_layer"] = layers
        spans = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        with open(spans, "w") as f:
            json.dump(tracer.dump(), f)
        record["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    with open(os.path.join(OUT, f"record-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)

    for k, (v, u) in metrics.items():
        print(f"{k:44s} {v:14.6g} {u}")
    print(f"{'failed_frac':44s} {failed / len(samples):14.6g} ratio")
    print(f"{'job_s.tail is p' + str(shape['tail_percentile']) + ' of':44s} {shape['jobs']:14d} jobs")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
