"""The traced run's extra calls and its per-layer table.

Layers the workload under test does not drive are called once on small
inputs ("the tour"), so every traced run reports every layer metric.
A metric takes its value from the workload's own timed loop when it has
one, else from set-up, else from the tour.
"""

from __future__ import annotations

import time

from elasticsearch_assets_spark.indexing.arrowtf import encode_tf
from elasticsearch_assets_spark.indexing.blockpack import (
    pack_and_write_blocks,
    read_blocks,
)
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query.wand import PackedIndex, match_query_packed

from perfbench.harness import p50
from perfbench.oracle import K
from perfbench.workloads import CLASSES, Build, Dedup, Ingest, Search

PHASES = ("loop", "setup", "tour")
WAND_QUERIES = 5
# tour sizes: enough rows that every stage runs on every core
TOUR = {
    Build: {"n_docs": 600},
    Search: {"n_docs": 600, "one_per_class": True},
    Ingest: {"n_base": 400, "n_new": 60, "n_upd": 20, "n_del": 10},
    Dedup: {"n_docs": 400},
}


def tour(run, main) -> dict:
    """Drive every workload other than ``main`` once; returns the tour
    instances by name."""
    out = {main.name: main}
    for cls, kw in TOUR.items():
        if isinstance(main, cls):
            continue
        w = cls(run, **kw)
        w.generate()
        w.prebuild()
        run.tag = "tour:"
        for i in range(len(CLASSES) if cls is Search else 1):
            w.step(i)
        run.tag = ""
        out[w.name] = w
    return out


def arrowtf_probe(run, corpus: str) -> None:
    """``encode_tf`` over a corpus into a noop sink (a count sink would
    prune the per-row encoder away)."""
    with run.tr.span("indexing.arrowtf.encode_tf"):
        encode_tf(
            run.spark.read.parquet(corpus), "content", keep=["path"]
        ).write.format("noop").mode("overwrite").save()


def wand_compare(run, search: Search) -> dict:
    """``query.wand.match_query_packed`` against ``query.exec.match_query``
    on the search workload's match queries, over a packed copy of the
    same index: per-call times and whether each top-k is identical."""
    tr, idx = run.tr, search.idx
    texts = [" ".join(q["terms"]) for q in search.done if q["cls"] == "match_or"]
    while len(set(texts)) < WAND_QUERIES:
        texts.append(" ".join(search.make_query("match_or")["terms"]))
    texts = list(dict.fromkeys(texts))[:WAND_QUERIES]
    blocks_dir = search.dir + "-packed"
    key = run.op("wand:pack")
    done, _ = run.guarded(key, lambda: _pack(tr, idx, blocks_dir))
    if done is None:
        return {"same": 0, "compared": 0, "packed_s": [], "row_s": []}
    packed = PackedIndex(
        read_blocks(run.spark, blocks_dir), idx.terms, idx.n_docs, idx.avg_dl,
        idx.n_buckets,
    )

    def ranked(df):
        return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]

    res = {"same": 0, "compared": 0, "packed_s": [], "row_s": []}
    for i, text in enumerate(texts):
        key = run.op(f"wand:{i}")
        t0 = time.perf_counter()
        with tr.span("query.wand.match_query_packed", qid=f"wand{i}"):
            got = ranked(qx.top_k(match_query_packed(packed, text, K), K))
        t1 = time.perf_counter()
        with tr.span("query.exec.match_query", qid=f"wand{i}"):
            want = ranked(qx.match_query(idx, text, K))
        t2 = time.perf_counter()
        res["packed_s"].append(t1 - t0)
        res["row_s"].append(t2 - t1)
        res["compared"] += 1
        if got == want:
            res["same"] += 1
        else:
            run.fail(key, f"packed top-{K} differs from match_query for {text!r}")
    return res


def _pack(tr, idx, blocks_dir):
    with tr.span("indexing.blockpack.pack_and_write_blocks"):
        pack_and_write_blocks(idx, blocks_dir)
    return True


class Table:
    """Per-layer metrics from spans, preferring the timed loop."""

    def __init__(self, tr):
        self.tr = tr

    def spans(self, name, **attrs):
        for ph in PHASES:
            got = [
                s for s in self.tr.done(name, ph)
                if all(s.get(k) == v for k, v in attrs.items())
            ]
            if got:
                return got
        return []

    def p50(self, name, **attrs) -> float:
        got = self.spans(name, **attrs)
        return p50([s["end"] - s["start"] for s in got]) if got else 0.0

    def mean(self, name, field, **attrs) -> float:
        got = self.spans(name, **attrs)
        vals = [s["spark"].get(field, s.get(field, 0)) for s in got]
        return sum(vals) / len(vals) if vals else 0.0

    def total(self, name, field) -> float:
        return sum(s.get(field, 0) for s in self.spans(name))


def per_layer(tr, engine_start_s: float, ws: dict, wand: dict, overhead: float) -> dict:
    t = Table(tr)
    b = "indexing.build.build_and_write_index"
    dd_ = "operators.dedup."
    cand = t.mean(dd_ + "minhash_lsh_candidates", "rows")
    verified = t.mean(dd_ + "jaccard_pairs_verified", "rows")
    writes = [
        "plans.manifest.ingest_segment_batch",
        "plans.manifest.upsert_segment_batch",
        "plans.manifest.delete_docs",
    ]
    ingest = ws["ingest"]
    m = {
        "session.get_spark_s": engine_start_s,
        "corpus.generate_s": t.p50("corpus.generate_corpus"),
        "indexing.arrowtf.encode_tf_s": t.p50("indexing.arrowtf.encode_tf"),
        "indexing.arrowtf.task_cpu_s": t.mean("indexing.arrowtf.encode_tf", "task_cpu_s"),
        b + "_s": t.p50(b),
        "indexing.build.jobs": t.mean(b, "jobs"),
        "indexing.build.stages": t.mean(b, "stages"),
        "indexing.build.tasks": t.mean(b, "tasks"),
        "indexing.build.task_cpu_s": t.mean(b, "task_cpu_s"),
        "indexing.build.shuffle_write_bytes": t.mean(b, "shuffle_write_bytes"),
        "indexing.build.spill_bytes": t.mean(b, "spill_bytes"),
        "indexing.build.output_bytes": t.mean(b, "output_bytes"),
        "indexing.build.read_index_s": t.p50("indexing.build.read_index"),
        "functions.analyzer.analyze_text_s": t.p50("functions.analyzer.analyze_text"),
        "query.parser.parse_s": t.p50("query.parser.parse"),
        "query.exec.term_dfs_s": t.p50("query.exec.term_dfs"),
        "query.exec.term_dfs_jobs": t.mean("query.exec.term_dfs", "jobs"),
        "query.exec.df_cache_hit_ratio": (
            t.total("query.exec.term_dfs", "hits")
            / max(1, t.total("query.exec.term_dfs", "lookups"))
        ),
        "query.plan_s": t.p50("query.plan"),
        "query.collect_s": t.p50("query.collect"),
        "query.jobs_per_query": t.mean("query", "jobs"),
        "query.stages_per_query": t.mean("query", "stages"),
        "query.tasks_per_query": t.mean("query", "tasks"),
        "query.task_cpu_s_per_query": t.mean("query", "task_cpu_s"),
        "query.shuffle_bytes_per_query": t.mean("query", "shuffle_write_bytes"),
        "query.postings_rows_per_query": t.mean("query", "input_rows"),
    }
    for cls in CLASSES:
        layer = "query.planner." if cls == "query_string" else "query.exec."
        m[f"{layer}{cls}_p50_s"] = t.p50("query", cls=cls)
    m["query.exec.phrase_p50_s"] = t.p50("query", cls="phrase")
    # the micro-batches' write calls; the base ingest of set-up is not one
    batch_writes = [
        s for name in writes for s in t.spans(name) if s.get("batch") != "base"
    ]
    for name in writes:
        m[name + "_s"] = p50(
            [s["end"] - s["start"] for s in batch_writes if s["name"] == name] or [0.0]
        )
    n_batches = max(1, len(t.spans("ingest.batch")))
    for field in ("task_cpu_s", "shuffle_write_bytes"):
        m[f"plans.manifest.{field}"] = sum(
            s["spark"][field] for s in batch_writes
        ) / n_batches
    m["plans.manifest.auto_compact_s"] = t.p50("plans.manifest.auto_compact")
    m["plans.manifest.compact_bytes_rewritten"] = t.mean(
        "plans.manifest.auto_compact", "output_bytes"
    )
    facts = ingest.facts
    m["plans.manifest.live_segments"] = facts["live_segments"]
    m["plans.manifest.tombstone_batches"] = facts["tombstone_batches"]
    m["plans.manifest.serve_resumable_index_s"] = t.p50(
        "plans.manifest.serve_resumable_index"
    )
    m["plans.manifest.serve_jobs"] = t.mean("plans.manifest.serve_resumable_index", "jobs")
    m["plans.manifest.refresh_s"] = p50([r["refresh_s"] for r in ingest.refresh] or [0.0])
    m["plans.manifest.refresh_query_p50_s"] = p50(ingest.query_latencies() or [0.0])
    for op in (
        "exact_dedup", "minhash_lsh_candidates", "jaccard_pairs_verified",
        "connected_components", "dedup_apply",
    ):
        m[f"{dd_}{op}_s"] = t.p50(dd_ + op)
    m[dd_ + "candidate_pairs"] = cand
    m[dd_ + "verified_pairs"] = verified
    m[dd_ + "verified_per_candidate"] = verified / cand if cand else 0.0
    m[dd_ + "task_cpu_s"] = t.mean(dd_ + "pipeline", "task_cpu_s")
    m[dd_ + "spill_bytes"] = t.mean(dd_ + "pipeline", "spill_bytes")
    m["indexing.blockpack.pack_and_write_blocks_s"] = t.p50(
        "indexing.blockpack.pack_and_write_blocks"
    )
    m["query.wand.match_query_packed_p50_s"] = p50(wand["packed_s"] or [0.0])
    m["query.wand.row_path_p50_s"] = p50(wand["row_s"] or [0.0])
    m["query.wand.rank_identity_ratio"] = wand["same"] / max(1, wand["compared"])
    m["trace.overhead_share"] = overhead
    return m


def unit_of(name: str) -> str:
    if "bytes" in name or name.endswith("_rewritten"):
        return "B"
    if name.endswith(("_s", "_s_per_query")):
        return "s"
    if name.endswith(("_ratio", "_share", "_per_candidate")):
        return "ratio"
    return "count"
