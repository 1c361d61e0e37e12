"""Task-retry fault tolerance, DEMONSTRATED rather than claimed.

SURVEY §2a rows O9-O11 map the reference's straggler re-issue and
worker-churn handling (mincemeat.py:317-333) to Spark's task retry +
speculation.  This test injects a real task failure — the first
attempt of one partition raises — and proves the scheduler retries the
task and the query completes with CORRECT results, not just without
error.  Local mode only allows retries with the ``local[N, maxFailures]``
master form, which the shared test session does not use, so the probe
runs in a subprocess with its own ``local[4, 2]`` session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

_PROBE = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[4, 2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def flaky(it):
        from pyspark import TaskContext
        tc = TaskContext.get()
        # first attempt of partition 0 dies mid-stream, after yielding
        # some rows — the retry must NOT double-count them
        rows = list(it)
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            for r in rows[: len(rows) // 2]:
                pass  # consumed but never emitted: simulate partial work
            raise RuntimeError("injected failure on first attempt")
        for r in rows:
            yield r

    df = spark.range(0, 10000, 1, 4)
    out = df.rdd.mapPartitions(flaky).map(lambda r: r.id).sum()
    expected = 10000 * 9999 // 2
    assert out == expected, f"retry corrupted the result: {out} != {expected}"
    print("RETRY_OK", out)
    """
)


def test_task_retry_recovers_with_correct_results():
    r = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RETRY_OK" in r.stdout, (
        f"stdout={r.stdout[-2000:]}\nstderr={r.stderr[-2000:]}"
    )


def test_task_failure_without_retries_fails_the_job():
    """The control: with maxFailures=1 the same injection kills the
    job — proving the first test exercises the retry path, not a
    no-op."""
    probe = _PROBE.replace("local[4, 2]", "local[4, 1]").replace(
        'print("RETRY_OK", out)',
        'print("UNEXPECTED_SUCCESS")',
    )
    # the dedented _PROBE has no indentation — assert both surgeries bit
    assert "local[4, 1]" in probe and "UNEXPECTED_SUCCESS" in probe
    assert "RETRY_OK" not in probe
    r = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "UNEXPECTED_SUCCESS" not in r.stdout
    assert "injected failure" in (r.stdout + r.stderr)


# The same contract through mapreduce() itself (PAPER.md O9-O11: task
# re-execution and duplicate-result suppression).  One partition's first
# attempt raises inside the named user function; mapfn raises only after
# yielding its record's pairs, so a retry that kept partial output would
# over-count.  argv: master, then the functions to break, one job each.
_MR_PROBE = textwrap.dedent(
    """
    import sys
    from collections import Counter

    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    sys.path.insert(0, REPO_ROOT)
    from mincemeatpy_spark.compat import mapreduce

    master, broken = sys.argv[1], sys.argv[2:]
    spark = (SparkSession.builder.master(master)
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    corpus = {i: " ".join(f"w{(i * 7 + j) % 40}" for j in range(50))
              for i in range(8)}
    expected = dict(Counter(w for text in corpus.values() for w in text.split()))

    def first_attempt_of_partition_0():
        tc = TaskContext.get()
        return tc.partitionId() == 0 and tc.attemptNumber() == 0

    def job(name):
        def mapfn(k, v):
            for w in v.split():
                yield w, 1
            if name == "mapfn" and first_attempt_of_partition_0():
                raise RuntimeError("injected mapfn failure")

        def collectfn(k, vs):
            if name == "collectfn" and first_attempt_of_partition_0():
                raise RuntimeError("injected collectfn failure")
            return sum(vs)

        def reducefn(k, vs):
            if name == "reducefn" and first_attempt_of_partition_0():
                raise RuntimeError("injected reducefn failure")
            return sum(vs)

        return mapreduce(spark, corpus, mapfn, reducefn, collectfn=collectfn,
                         num_partitions=4)

    for name in broken:
        try:
            out = job(name)
        except Exception as ex:
            print("JOB_FAILED", name, f"injected {name} failure" in str(ex))
        else:
            print("RESULT", name, out == expected)
    """
).replace("REPO_ROOT", repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

_USER_FNS = ("mapfn", "collectfn", "reducefn")


def _run_mr_probe(master: str, *broken: str) -> str:
    r = subprocess.run(
        [sys.executable, "-c", _MR_PROBE, master, *broken],
        capture_output=True,
        text=True,
        timeout=300,
    )
    return r.stdout + f"\nstderr={r.stderr[-2000:]}"


@pytest.mark.parametrize("broken", _USER_FNS)
def test_mapreduce_retry_matches_fault_free_wordcount(broken):
    out = _run_mr_probe("local[4, 2]", broken)
    assert f"RESULT {broken} True" in out, out[-3000:]


def test_mapreduce_failure_without_retries_fails_the_job():
    """The control: with maxFailures=1 each injection kills its job, so
    the retry test above exercises re-execution, not a no-op."""
    out = _run_mr_probe("local[4, 1]", *_USER_FNS)
    for broken in _USER_FNS:
        assert f"JOB_FAILED {broken} True" in out, out[-3000:]
