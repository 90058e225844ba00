from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elasticsearch_assets_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


N_CORPUS_DOCS = 400


@pytest.fixture(scope="session")
def corpus(spark):
    """(IndexTables, OracleIndex) over the deterministic code corpus."""
    from elasticsearch_assets_spark.corpus import generate_corpus_pandas
    from elasticsearch_assets_spark.indexing.build import build_index, with_doc_id
    from elasticsearch_assets_spark.query.oracle import OracleIndex

    pdf = generate_corpus_pandas(N_CORPUS_DOCS, seed=42)
    sdf = spark.createDataFrame(pdf)
    ids = with_doc_id(sdf).select("doc_id", "content").collect()
    docs = {r["doc_id"]: r["content"] for r in ids}
    assert len(docs) == N_CORPUS_DOCS, "doc_id collision or dup (repo,path,commit)"
    index = build_index(sdf, n_buckets=8, source_cols=("repo", "path", "lang"))
    oracle = OracleIndex(docs)
    return index, oracle


@pytest.fixture(scope="session")
def disk_index(spark, corpus, tmp_path_factory):
    """The corpus index written and read back (plan checks need FileScan
    nodes; serving reads this form)."""
    from elasticsearch_assets_spark.indexing.build import read_index, write_index

    index, _ = corpus
    p = str(tmp_path_factory.mktemp("idx") / "index")
    write_index(index, p)
    return read_index(spark, p)
