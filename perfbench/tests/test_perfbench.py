"""The benchmark's own tests.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pickle

import pytest

from perfbench import probe, run
from perfbench.inputs import ZipfCorpus, documents_rows
from perfbench.workloads import (
    CORPUS_QUERIES,
    Job,
    Mismatch,
    Trace,
    df_corpus,
    df_vorbis,
    mr_inverted_index,
    mr_wordcount,
)

run.prepare_env()


# --------------------------------------------------------------------------
# without Spark
# --------------------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    a, b, c = ZipfCorpus(7, 50, 30, 1000), ZipfCorpus(7, 50, 30, 1000), ZipfCorpus(8, 50, 30, 1000)
    assert dict(a.items()) == dict(b.items())
    assert dict(a.items()) != dict(c.items())
    assert pickle.loads(pickle.dumps(a))[13] == a[13]
    assert documents_rows(7, 200) == documents_rows(7, 200)
    assert documents_rows(7, 200)["text"] != documents_rows(8, 200)["text"]


def test_wrong_results_are_counted_as_failed(tmp_path):
    workload = mr_wordcount(3, str(tmp_path), n_docs=20, words=10, vocab=50)
    check = workload.jobs[0].check
    right = dict(__import__("collections").Counter(
        w for _, t in ZipfCorpus(3, 20, 10, 50).items() for w in t.split()
    ))
    check(right)
    wrong = {**right, next(iter(right)): -1}
    with pytest.raises(Mismatch):
        check(wrong)

    def boom(spark, trace):
        raise RuntimeError("job died")

    jobs = [Job("wrong", 1, lambda spark, trace: wrong, check), Job("raises", 1, boom, check)]
    samples = run.measure(jobs, None, 0.0)
    assert len(samples) >= run.MIN_JOBS
    assert not any(s["ok"] for s in samples)


def test_self_time_subtracts_covered_children():
    t = probe.Tracer()
    root = t.add("job", 0.0, 10.0, None)
    call = t.add("compat.mapreduce", 1.0, 9.0, root.id)
    t.add("spark.job.0", 2.0, 5.0, call.id)
    t.add("spark.job.1", 4.0, 6.0, call.id)
    assert t.self_time(call) == pytest.approx(4.0)  # 8 s minus the union [2, 6]
    layers = t.self_by_layer(root)
    assert layers["bench"] == pytest.approx(2.0)
    assert layers["compat"] == pytest.approx(4.0)
    assert layers["spark"] == pytest.approx(5.0)


def test_tail_has_ten_samples_beyond_it():
    value, pct = run.tail([float(i) for i in range(40)])
    assert value == 29.0 and sum(1 for i in range(40) if i > value) == 10
    assert pct == pytest.approx(75.0)


def test_benchmark_json_names_every_metric_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


# --------------------------------------------------------------------------
# with Spark
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.session import get_spark

    session = get_spark("perfbench-tests", cores=2)
    load_all_queries()
    yield session
    session.stop()


@pytest.fixture()
def trace(spark):
    return Trace(probe.Tracer(), probe.SparkCalls(spark), probe.Counters(spark.sparkContext))


def test_status_delta_counts_only_the_wrapped_call(spark, trace):
    sc = spark.sparkContext
    grouped = sc.parallelize(range(100), 4).map(lambda x: (x % 7, x)).groupByKey(3)
    grouped.count()  # not wrapped: a map stage and a result stage
    with trace.calls.call("reuse") as reused:
        grouped.mapValues(len).collect()  # reuses the map output
    with trace.calls.call("fresh") as fresh:
        sc.parallelize(range(10), 5).count()
    assert (reused.jobs, reused.stages, reused.tasks) == (1, 1, 3)
    assert (fresh.jobs, fresh.stages, fresh.tasks) == (1, 1, 5)
    assert reused.shuffle_read_bytes > 0 and reused.shuffle_write_bytes == 0


def _traced(workload, spark, trace) -> list[dict]:
    out = []
    for job in workload.jobs:
        trace.job = {}
        job.check(job.run(spark, trace))
        out.append(dict(trace.job))
    return out


def test_combine_counters(tmp_path, spark, trace):
    (wc,) = _traced(mr_wordcount(1, str(tmp_path), n_docs=200, words=50, vocab=500), spark, trace)
    assert wc["compat.map_pairs"] == 200 * 50
    assert 0 < wc["compat.combine_ratio"] < 1
    assert wc["compat.reduce_values_in"] == wc["compat.combine_pairs_out"]
    (ii,) = _traced(mr_inverted_index(1, str(tmp_path), n_docs=200, words=50, vocab=500), spark, trace)
    assert ii["compat.collectfn_calls"] == ii["compat.combine_pairs_out"] == 0
    assert ii["compat.combine_ratio"] == 0
    assert ii["compat.getitem_calls"] == 200
    assert ii["compat.reduce_values_in"] == ii["compat.map_pairs"]


def test_build_jobs_on_corpus_but_not_vorbis(tmp_path, spark, trace):
    corpus = _traced(df_corpus(1, str(tmp_path), n_docs=100), spark, trace)
    for q, layers in zip(CORPUS_QUERIES, corpus):
        assert layers[f"registry.build_jobs.{q}"] > 0
    workload = df_vorbis(1, str(tmp_path), n_docs=40)
    _traced(workload, spark, trace)  # the first read of a table infers its schema
    (vorbis,) = _traced(workload, spark, trace)
    assert vorbis["registry.build_jobs"] == 0
    assert vorbis["spark.python.total_s"] > 0
