"""The driver-side df cache (IndexTables._df_cache, filled by
query.exec.term_dfs): safe under concurrent queries on one handle, and
never stale across a reopen."""

from __future__ import annotations

import dataclasses
import threading

from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.plans import manifest as M
from elasticsearch_assets_spark.query import exec as qx


def test_term_dfs_survives_concurrent_clear(disk_index, monkeypatch):
    # Thread A misses on "merge" and an absent term and starts its
    # dictionary job; meanwhile thread B's lookup overflows the bounded
    # cache and clears it. A must still return its own lookups.
    index = dataclasses.replace(disk_index, _df_cache={})
    monkeypatch.setattr(qx, "_DF_CACHE_MAX", 3)
    in_lookup, resume = threading.Event(), threading.Event()
    real = qx._df_map

    def gated(idx, terms):
        if threading.current_thread().name == "A":
            in_lookup.set()
            assert resume.wait(60)
        return real(idx, terms)

    monkeypatch.setattr(qx, "_df_map", gated)
    out, errors = {}, []

    def a():
        try:
            out.update(qx.term_dfs(index, ["merge", "zzabsentzz"]))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t = threading.Thread(target=a, name="A")
    t.start()
    try:
        assert in_lookup.wait(60)
        qx.term_dfs(index, ["batch", "value", "stream"])
    finally:
        resume.set()
        t.join(120)
    assert not errors, errors
    expect = disk_index.terms.where(F.col("term") == "merge").first()["df"]
    assert out == {"merge": expect}


def _postings_df(spark, path, terms):
    """df per term counted from the committed postings (pre-tombstone,
    the serving handle's df semantics)."""
    rows = (
        M.read_resumable_postings(spark, path)
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .count()
        .collect()
    )
    return {r["term"]: r["count"] for r in rows}


def test_reopened_handle_never_serves_stale_dfs(spark, tmp_path):
    pdf = generate_corpus_pandas(90, seed=11)
    path = str(tmp_path / "idx")
    M.ingest_segment_batch(
        spark.createDataFrame(pdf.iloc[:60]), path, batch_id=0, n_parts=2, n_buckets=8
    )
    old = M.serve_resumable_index(spark, path)
    probe = ["batch", "merge", "zqnewtokenq"]
    qx.match_query(old, " ".join(probe), 10).collect()
    old_dfs = dict(old._df_cache)
    assert old_dfs["zqnewtokenq"] == 0 and old_dfs["merge"] > 0

    new = pdf.iloc[60:].copy()
    new["content"] = new["content"] + " zqnewtokenq merge"
    M.ingest_segment_batch(
        spark.createDataFrame(new), path, batch_id=1, n_parts=2, n_buckets=8
    )
    dead = [
        r["doc_id"]
        for r in old.postings.where(F.col("term") == "merge")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(3)
        .collect()
    ]
    assert M.delete_docs(spark, path, dead) == len(dead)
    assert M.auto_compact(spark, path, max_live=2)

    fresh = M.serve_resumable_index(spark, path)
    assert fresh._df_cache == {} and fresh._df_cache is not old._df_cache
    got = qx.term_dfs(fresh, probe)
    assert got == _postings_df(spark, path, probe)
    assert got["zqnewtokenq"] == len(new)
    assert got["merge"] != old_dfs["merge"]
    # the old handle keeps the snapshot it served (a reader per refresh)
    assert old._df_cache == old_dfs
