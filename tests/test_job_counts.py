"""Spark job-count regression tests for the headline query classes.

Job counts do not move with host load, so they pin per-query fixed
cost where wall time cannot. A query whose candidate rows (Σdf) and
touched files fit the single-partition bound runs as ONE job: no
shuffle-map job for the per-doc combine, and must_not folded into the
score aggregate. A cold df cache
adds exactly one dictionary job, whatever the number of terms,
must_not terms or query-string leaves. A wildcard always pays its
dictionary probe (which also yields the dfs), so it is one job more
than its scoring plan either way.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query.parser import parse
from elasticsearch_assets_spark.query.planner import QueryPlanner


def _jobs(spark, run) -> int:
    """Spark jobs issued while ``run()`` builds and collects a query."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    first = sched.nextJobId()
    run()
    return sched.nextJobId() - first


@pytest.fixture(scope="module")
def probes(disk_index):
    """A df = 1 term and a lang value present in the corpus."""
    tail = (
        disk_index.terms.where(F.col("df") == 1).orderBy("term").first()["term"]
    )
    lang = disk_index.doc_norms.where(F.col("lang").isNotNull()).first()["lang"]
    return tail, lang


def _query_string(index, q: str):
    return qx.top_k(QueryPlanner(index).plan(parse(q, default_field="content")), 10)


# (name, query builder over (index, probes), jobs with a warm df cache,
# jobs with a cold one)
CASES = [
    ("match_or", lambda i, p: qx.match_query(i, "merge", 10), 1, 2),
    ("match_or_3", lambda i, p: qx.match_query(i, "merge batch value", 10), 1, 2),
    ("match_and", lambda i, p: qx.match_query(i, "merge batch", 10, "and"), 1, 2),
    ("tail", lambda i, p: qx.match_query(i, p[0], 10), 1, 2),
    (
        "bool_must_not",
        lambda i, p: qx.bool_query(i, must=["merge"], must_not=["batch"], k=10),
        1,
        2,
    ),
    (
        "bool_must_not_2",
        lambda i, p: qx.bool_query(
            i, must=["merge", "value"], must_not=["batch", "stream"], k=10
        ),
        1,
        2,
    ),
    ("wildcard", lambda i, p: qx.wildcard_query(i, "valu*", 10), 2, 2),
    # 24 expansions over all 8 buckets (61 files): past the one-task
    # file bound, so the per-doc combine keeps its shuffle-map job
    ("wildcard_wide", lambda i, p: qx.wildcard_query(i, "merg*", 10), 3, 3),
    (
        "query_string_lang",
        lambda i, p: _query_string(i, f"(merge OR batch) AND lang:{p[1]}"),
        2,
        3,
    ),
    (
        "query_string_3_leaves",
        lambda i, p: _query_string(i, f"(merge OR batch OR value) AND lang:{p[1]}"),
        2,
        3,
    ),
]


def test_hit_probe_is_one_job_over_a_small_dictionary(
    spark, disk_index, monkeypatch, tmp_path
):
    # a sparse pattern over a dictionary of several files: the ordered
    # probe reads every file in one job; past _ORDERED_PROBE_MAX_BYTES
    # the bare limit() retries over more partitions when the first
    # holds too few hits
    disk_index.terms.repartition(4).write.parquet(str(tmp_path / "terms"))
    terms = spark.read.parquet(str(tmp_path / "terms"))
    hits = qx.dict_hits(dataclasses.replace(disk_index, terms=terms), "merg*")
    assert hits.rdd.getNumPartitions() > 1
    got = {}
    assert _jobs(spark, lambda: got.update(small=qx._collect_hits(hits))) == 1
    monkeypatch.setattr(qx, "_ORDERED_PROBE_MAX_BYTES", 0)
    assert _jobs(spark, lambda: got.update(large=qx._collect_hits(hits))) > 1
    assert got["small"] == got["large"] and got["small"]


@pytest.mark.parametrize("name,build,warm,cold", CASES, ids=[c[0] for c in CASES])
def test_query_job_counts(spark, disk_index, probes, name, build, warm, cold):
    # a fresh handle: same tables, empty df cache
    index = dataclasses.replace(disk_index, _df_cache={})
    cold_jobs = _jobs(spark, lambda: build(index, probes).collect())
    warm_jobs = _jobs(spark, lambda: build(index, probes).collect())
    assert (warm_jobs, cold_jobs) == (warm, cold), name
