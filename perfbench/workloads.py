"""The benchmark's workloads: seeded inputs, the jobs run on them, and the
independent check of every job's result.

A workload is a list of job kinds run round-robin.  A job is one
``mapreduce()`` call, or one registry query built with ``Query.fn`` and
collected.  ``run(spark, trace)`` returns the complete result; with a
``Trace`` it also records spans, Spark status deltas and counters into
``trace.job``.  ``check(result)`` raises when the result is wrong.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from perfbench import probe
from perfbench.inputs import ZipfCorpus, write_documents

# Input sizes.  A job takes 1-2 s on a 4-core host, so one run of
# ``--seconds`` gives enough jobs for a median and a tail.
MR_DOCS, MR_WORDS, MR_VOCAB = 5000, 200, 50_000
DF_DOCS = 500

CORPUS_QUERIES = ("dedup_minhash_lsh", "pipeline_training_corpus", "bpe_train_3merges")
PIPELINE_QUERIES = ("pipeline_training_corpus",)
VORBIS_QUERIES = ("multimodal_decode_vorbis_real",)

# Untimed jobs before measuring: jobs keep speeding up for several runs
# while the JVM compiles Spark's code paths and the query's generated code.
MR_WARMUP, DF_WARMUP_JOBS = 5, 6


class Mismatch(AssertionError):
    """A job's result differs from the independent computation."""


@dataclass
class Job:
    kind: str
    records: int  # input records one job processes
    run: Callable[[Any, "Trace | None"], Any]
    check: Callable[[Any], None]


@dataclass
class Workload:
    name: str
    jobs: list[Job]
    inputs: dict  # sizes of the generated inputs
    warmup_rounds: int


@dataclass
class Trace:
    """Per-run tracing state; ``job`` collects one traced job's metrics."""

    tracer: probe.Tracer
    calls: probe.SparkCalls
    counters: probe.Counters
    job: dict[str, float] = field(default_factory=dict)

    def attach(self, span: probe.Span, stats: probe.CallStats) -> None:
        """Add the call's Spark jobs and stages as child spans."""
        ids = {}
        for job_id, a, b in stats.job_spans:
            ids[job_id] = self.tracer.add(f"spark.job.{job_id}", a, b, span.id).id
        for job_id, stage_id, a, b in stats.stage_spans:
            self.tracer.add(f"spark.stage.{stage_id}", a, b, ids.get(job_id, span.id))

    def spark_totals(self, stats: probe.CallStats) -> None:
        for k in probe.SPARK_TOTALS:
            self.job[f"spark.{k}"] = getattr(stats, k)


# --------------------------------------------------------------------------
# mapreduce() jobs
# --------------------------------------------------------------------------


def wc_mapfn(k, v):
    for w in v.split():
        yield w, 1


def wc_reducefn(k, vs):
    return sum(vs)


def ii_mapfn(k, v):
    for w in set(v.split()):
        yield w, k


def ii_reducefn(k, vs):
    return sorted(vs)


def _mapreduce_job(spark, trace, source, mapfn, reducefn, collectfn=None):
    from mincemeatpy_spark.compat import mapreduce

    if trace is None:
        return mapreduce(spark, source, mapfn, reducefn, collectfn=collectfn)
    acc = trace.counters.acc
    before = trace.counters.snapshot()
    mapfn = probe.count_mapfn(mapfn, acc)
    reducefn = probe.count_reducefn(reducefn, acc)
    if collectfn is not None:
        collectfn = probe.count_collectfn(collectfn, acc)
    if isinstance(source, ZipfCorpus):
        source = probe.CountingSource(source, acc)
    with trace.calls.call("compat.mapreduce") as stats:
        with trace.tracer.span("compat.mapreduce") as span:
            result = mapreduce(spark, source, mapfn, reducefn, collectfn=collectfn)
    trace.attach(span, stats)
    trace.spark_totals(stats)
    after = trace.counters.snapshot()
    c = {k: after[k] - before[k] for k in probe.COUNTERS}
    wall = span.end - span.start
    stages = [(a, b) for _, _, a, b in stats.stage_spans]
    trace.job.update({f"compat.{k}": v for k, v in c.items()})
    trace.job.update(
        {
            "compat.mapreduce_s": wall,
            "compat.driver_s": wall - probe.union_s(stages, span.start, span.end),
            "compat.combine_pairs_out": c["collectfn_calls"],
            "compat.combine_ratio": (
                c["collectfn_calls"] / c["map_pairs"] if c["map_pairs"] else 0.0
            ),
        }
    )
    return result


def _mismatch(kind: str, got: dict, want: dict) -> None:
    if got != want:
        wrong = sum(1 for k in want.keys() | got.keys() if got.get(k) != want.get(k))
        raise Mismatch(f"{kind}: {wrong} of {len(want)} keys differ")


def mr_wordcount(seed: int, out_dir: str, n_docs: int = MR_DOCS, words: int = MR_WORDS,
                 vocab: int = MR_VOCAB) -> Workload:
    """The reference example.py job on a plain dict: the driver ships the
    source and the per-partition combine collapses the shuffle."""
    corpus = ZipfCorpus(seed, n_docs, words, vocab)
    source = dict(corpus.items())
    want = dict(Counter(w for text in source.values() for w in text.split()))

    def run(spark, trace):
        return _mapreduce_job(spark, trace, source, wc_mapfn, wc_reducefn, wc_reducefn)

    inputs = corpus.size(distinct_keys=len(want), nbytes=sum(len(t) for t in source.values()))
    return Workload(
        "mr_wordcount",
        [Job("wordcount", corpus.n_docs * words, run, lambda r: _mismatch("wordcount", r, want))],
        inputs,
        MR_WARMUP,
    )


def mr_inverted_index(seed: int, out_dir: str, n_docs: int = MR_DOCS, words: int = MR_WORDS,
                      vocab: int = MR_VOCAB) -> Workload:
    """Posting lists from a lazy source: only keys pass the driver; the
    shuffle, the skewed reduce groups and the collected result carry the
    load."""
    corpus = ZipfCorpus(seed, n_docs, words, vocab)
    want: dict[str, list[int]] = {}
    nbytes = 0
    for k, text in corpus.items():
        nbytes += len(text)
        for w in set(text.split()):
            want.setdefault(w, []).append(k)

    def run(spark, trace):
        return _mapreduce_job(spark, trace, corpus, ii_mapfn, ii_reducefn)

    inputs = corpus.size(distinct_keys=len(want), nbytes=nbytes)
    return Workload(
        "mr_inverted_index",
        [Job("inverted_index", n_docs * words, run, lambda r: _mismatch("inverted_index", r, want))],
        inputs,
        MR_WARMUP,
    )


# --------------------------------------------------------------------------
# registry query jobs
# --------------------------------------------------------------------------


class FrozenFrame:
    """The collected result of a DataFrame, shaped for
    ``tests.oracle_utils.compare_to_oracle`` (schema, columns, collect)."""

    def __init__(self, schema, rows: list) -> None:
        self.schema, self._rows = schema, rows
        self.columns = list(schema.names)

    def collect(self) -> list:
        return self._rows


class OracleCache:
    """DuckDB connection stand-in that runs each oracle once per run; the
    tables do not change between jobs."""

    class _Result:
        def __init__(self, description, rows) -> None:
            self.description, self._rows = description, rows

        def fetchall(self) -> list:
            return self._rows

    def __init__(self, con) -> None:
        self.con = con
        self._cache: dict[str, OracleCache._Result] = {}

    def execute(self, sql: str) -> "_Result":
        if sql not in self._cache:
            rel = self.con.execute(sql)
            self._cache[sql] = self._Result(rel.description, rel.fetchall())
        return self._cache[sql]


def _query_job(name: str, data_dir: str, oracle: OracleCache, rows: int) -> Job:
    def run(spark, trace):
        from mincemeatpy_spark.registry import QUERIES

        q = QUERIES[name]
        if trace is None:
            df = q.fn(spark, data_dir)
            return df.schema, df.collect()
        with trace.calls.call("registry.build") as build:
            with trace.tracer.span("registry.build") as bspan:
                df = q.fn(spark, data_dir)
        trace.attach(bspan, build)
        with trace.calls.call("spark.action") as action:
            with trace.tracer.span("spark.action") as aspan:
                got = df.schema, df.collect()
        trace.attach(aspan, action)
        total = probe.CallStats()
        total.add(build)
        total.add(action)
        trace.spark_totals(total)
        trace.job.update(
            {
                "registry.build_s": bspan.end - bspan.start,
                "registry.build_jobs": build.jobs,
                "spark.action_s": aspan.end - aspan.start,
                "spark.action_jobs": action.jobs,
                f"registry.build_s.{name}": bspan.end - bspan.start,
                f"registry.build_jobs.{name}": build.jobs,
                f"spark.action_s.{name}": aspan.end - aspan.start,
            }
        )
        trace.job.update({f"spark.sql.{k}_s": v for k, v in probe.sql_phases(df).items()})
        trace.job.update({f"spark.python.{k}": v for k, v in probe.python_metrics(df).items()})
        return got

    def check(result) -> None:
        from mincemeatpy_spark.registry import QUERIES
        from tests.oracle_utils import compare_to_oracle

        schema, collected = result
        compare_to_oracle(FrozenFrame(schema, collected), oracle, QUERIES[name].oracle)

    return Job(name, rows, run, check)


def _df_workload(name: str, queries: tuple[str, ...], seed: int, out_dir: str,
                 n_docs: int) -> Workload:
    import duckdb

    data_dir = os.path.join(out_dir, f"documents-{n_docs}-seed{seed}")
    inputs = write_documents(data_dir, seed, n_docs)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/documents.parquet'"
    )
    oracle = OracleCache(con)
    jobs = [_query_job(q, data_dir, oracle, n_docs) for q in queries]
    return Workload(name, jobs, inputs, -(-DF_WARMUP_JOBS // len(jobs)))


def df_corpus(seed: int, out_dir: str, n_docs: int = DF_DOCS) -> Workload:
    """Corpus-prep queries whose *build* launches Spark jobs."""
    return _df_workload("df_corpus", CORPUS_QUERIES, seed, out_dir, n_docs)


def df_pipeline(seed: int, out_dir: str, n_docs: int = DF_DOCS) -> Workload:
    """The composite corpus-prep query alone: quality gate, exact dedup and
    MinHash-LSH near-dup removal, with Spark jobs at build."""
    return _df_workload("df_pipeline", PIPELINE_QUERIES, seed, out_dir, n_docs)


def df_vorbis(seed: int, out_dir: str, n_docs: int = DF_DOCS) -> Workload:
    """A codec query: no jobs at build, Python-worker-bound action."""
    return _df_workload("df_vorbis", VORBIS_QUERIES, seed, out_dir, n_docs)


WORKLOADS: dict[str, Callable[[int, str], Workload]] = {
    "mr_wordcount": mr_wordcount,
    "mr_inverted_index": mr_inverted_index,
    "df_corpus": df_corpus,
    "df_pipeline": df_pipeline,
    "df_vorbis": df_vorbis,
}
