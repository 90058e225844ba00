"""The four workloads. Each one generates its inputs from the seed,
drives the engine's public API as a single closed-loop client (every
call waits for the previous one), and checks the outputs outside the
timed regions.

A workload exposes ``generate`` (input generation),
``prebuild`` (the structures the loop starts from), ``warm`` (one
untimed warm-up), ``step`` (one timed unit of work), ``finish`` (the
output checks) and ``e2e`` (its end-to-end metrics).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from elasticsearch_assets_spark.corpus import LANG_WEIGHTS, LANGS
from elasticsearch_assets_spark.corpus import generate_corpus_pandas
from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.indexing.build import (
    build_and_write_index,
    read_index,
    with_doc_id,
)
from elasticsearch_assets_spark.operators import dedup as dd
from elasticsearch_assets_spark.plans import manifest as mf
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query.parser import parse
from elasticsearch_assets_spark.query.planner import QueryPlanner

from perfbench.harness import dir_bytes, p50, quantile
from perfbench.oracle import K, Bm25Oracle, same_top

# index layout: at a few thousand docs the default 64 term buckets
# multiply fixed per-file costs; 16 is the segment path's own default
N_BUCKETS = 16


class Run:
    """Per-run state shared by the workloads: the session, the tracer,
    the seed, and the ledger of attempted and failed operations."""

    def __init__(self, spark, tracer, seed: int, data_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.data = data_dir
        self.tag = ""
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.tracebacks: dict[str, str] = {}

    def op(self, key: str) -> str:
        self.attempted += 1
        return self.tag + key

    def fail(self, key: str, cause: str) -> None:
        self.failures.setdefault(key, cause)

    def guarded(self, key: str, fn):
        """Run one operation; an exception marks it failed and the run
        continues. Returns (result or None, seconds)."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted in error_rate, run continues
            msg = str(e).strip().splitlines()
            self.fail(key, f"{type(e).__name__}: {msg[0][:300] if msg else ''}")
            self.tracebacks[key] = traceback.format_exc()
            out = None
        return out, time.perf_counter() - t0

    def path(self, *parts) -> str:
        return os.path.join(self.data, *parts)


def write_corpus(run: Run, n: int, where: str, seed: int) -> pd.DataFrame:
    """The generated corpus, written as parquet; returns its rows.
    ``generate_corpus_pandas`` yields the rows of ``generate_corpus``
    without a Python-worker job."""
    shutil.rmtree(where, ignore_errors=True)
    with run.tr.span("corpus.generate_corpus", docs=n):
        pdf = generate_corpus_pandas(n, seed)
        run.spark.createDataFrame(pdf).write.parquet(where)
    return pdf


def ranked_terms(docs: pd.DataFrame) -> list[str]:
    """Analyzed terms of the generated docs, most frequent first: the
    rank order the Zipf draws index into."""
    counts: dict[str, int] = {}
    for text in docs["content"]:
        for t in analyze_text(text):
            counts[t] = counts.get(t, 0) + 1
    return [t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


class Zipf:
    """Seeded term draws with P(rank r) proportional to 1/r."""

    def __init__(self, terms: list[str], rng: np.random.Generator):
        self.terms = terms
        w = 1.0 / np.arange(1, len(terms) + 1)
        self.cum = np.cumsum(w / w.sum())
        self.rng = rng

    def draw(self, n: int, avoid=()) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.terms[int(np.searchsorted(self.cum, self.rng.random()))]
            if t not in out and t not in avoid:
                out.append(t)
        return out


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


class Build:
    """Timed ``build_and_write_index`` calls over a generated corpus."""

    name = "build"

    def __init__(self, run: Run, n_docs: int = 3000):
        self.run, self.n = run, n_docs
        self.builds: list[tuple[str, object]] = []
        self.times: list[float] = []

    def generate(self) -> None:
        self.corpus = self.run.path("build", "corpus")
        write_corpus(self.run, self.n, self.corpus, self.run.seed)

    def prebuild(self) -> None:
        pass

    def _build(self, i: int):
        d = self.run.path("build", f"idx{i}")
        with self.run.tr.span("indexing.build.build_and_write_index", op=i):
            return d, build_and_write_index(
                self.run.spark.read.parquet(self.corpus), d, n_buckets=N_BUCKETS
            )

    def warm(self) -> None:
        self._build(-1)

    def step(self, i: int) -> None:
        key = self.run.op(f"build:{i}")
        out, dt = self.run.guarded(key, lambda: self._build(i))
        if out is not None:
            self.builds.append((key, out))
            self.times.append(dt)

    def finish(self) -> None:
        for key, (d, idx) in self.builds:
            if idx.n_docs != self.n:
                self.run.fail(key, f"n_docs {idx.n_docs} != {self.n} generated rows")
                continue
            sum_df = idx.terms.agg(F.sum("df")).collect()[0][0]
            rows = idx.postings.count()
            if sum_df != rows:
                self.run.fail(key, f"sum(df) {sum_df} != postings rows {rows}")

    def completed(self) -> bool:
        return bool(self.times)

    def ops(self) -> int:
        return len(self.times)

    def e2e(self) -> dict:
        return {
            "op_p50_s": p50(self.times),
            "throughput_per_s": self.n * len(self.times) / sum(self.times),
            "bytes_per_doc": dir_bytes(self.builds[-1][1][0]) / self.n,
        }

    def aliases(self) -> list:
        e = self.e2e()
        return [
            ("build_p50_s", e["op_p50_s"], "s"),
            ("build_docs_per_s", e["throughput_per_s"], "1/s"),
            ("index_bytes_per_doc", e["bytes_per_doc"], "B"),
        ]


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

CLASSES = ("match_or", "match_and", "bool", "wildcard", "tail", "query_string")
# the mix, as slots in each block of 20 queries (the order within a block
# is drawn from the seed), so every run holds the classes in the same
# proportions
CLASS_SLOTS = (6, 3, 3, 2, 3, 3)
# the corpus generator's token `<i>` (from `uniq_<i>`) is doc-unique
# for i past the `module_<i % 53>` range
_TAIL_FROM = 53


class Search:
    """A seeded query mix over the ``read_index`` handle of a prebuilt
    index, one query at a time."""

    name = "search"

    def __init__(self, run: Run, n_docs: int = 2000, one_per_class: bool = False):
        self.run, self.n = run, n_docs
        self.one_per_class = one_per_class
        self.done: list[dict] = []

    def generate(self) -> None:
        run = self.run
        self.corpus = run.path("search", "corpus")
        pdf = write_corpus(run, self.n, self.corpus, run.seed)
        self.rng = np.random.default_rng([run.seed, 1])
        self.zipf = Zipf(ranked_terms(pdf), self.rng)

    def prebuild(self) -> None:
        run = self.run
        self.dir = run.path("search", "idx")
        with run.tr.span("indexing.build.build_and_write_index", op="setup"):
            build_and_write_index(
                run.spark.read.parquet(self.corpus),
                self.dir,
                n_buckets=N_BUCKETS,
                source_cols=("lang",),
            )
        with run.tr.span("indexing.build.read_index"):
            self.idx = read_index(run.spark, self.dir)
        self.planner = QueryPlanner(self.idx)

    def make_query(self, cls: str) -> dict:
        z, rng = self.zipf, self.rng
        if cls == "match_or":
            return {"cls": cls, "terms": z.draw(int(rng.integers(1, 4)))}
        if cls == "match_and":
            return {"cls": cls, "terms": z.draw(2)}
        if cls == "bool":
            must = z.draw(int(rng.integers(1, 3)))
            return {"cls": cls, "terms": must, "not": z.draw(1, avoid=must)}
        if cls == "wildcard":
            t = next(t for t in iter(lambda: z.draw(1)[0], None) if len(t) >= 4)
            return {"cls": cls, "prefix": t[:4]}
        if cls == "tail":
            return {"cls": cls, "terms": [str(int(rng.integers(_TAIL_FROM, self.n)))]}
        lang = LANGS[int(np.searchsorted(np.cumsum(LANG_WEIGHTS), rng.random()))]
        return {"cls": cls, "terms": z.draw(2), "lang": lang}

    def next_query(self, i: int) -> dict:
        if self.one_per_class:
            return self.make_query(CLASSES[i % len(CLASSES)])
        block = [c for c, n in zip(CLASSES, CLASS_SLOTS) for _ in range(n)]
        if i % len(block) == 0:
            self.block = [block[j] for j in self.rng.permutation(len(block))]
        return self.make_query(self.block[i % len(block)])

    def execute(self, q: dict, qid) -> list:
        """One query through the public API; returns its top-k rows."""
        tr, idx = self.run.tr, self.idx
        cls = q["cls"]
        with tr.span("query", qid=qid, cls=cls):
            if cls == "query_string":
                text = f"({q['terms'][0]} OR {q['terms'][1]}) AND lang:{q['lang']}"
                with tr.span("query.parser.parse"):
                    ast = parse(text, default_field="content")
                with tr.span("query.plan"):
                    df = qx.top_k(self.planner.plan(ast), K)
            else:
                text = f"{q['prefix']}*" if cls == "wildcard" else " ".join(
                    q["terms"] + q.get("not", [])
                )
                if tr.enabled:
                    self.trace_lookup(cls, q, text)
                with tr.span("query.plan"):
                    if cls == "match_and":
                        df = qx.match_query(idx, " ".join(q["terms"]), K, "and")
                    elif cls == "bool":
                        df = qx.bool_query(idx, must=q["terms"], must_not=q["not"], k=K)
                    elif cls == "wildcard":
                        df = qx.wildcard_query(idx, text, K)
                    else:
                        df = qx.match_query(idx, " ".join(q["terms"]), K)
            with tr.span("query.collect"):
                return [(r["doc_id"], r["score"]) for r in df.collect()]

    def trace_lookup(self, cls: str, q: dict, text: str) -> None:
        """Traced run only: the analyzer and the df lookup the query
        calls would make, timed apart. The lookup fills the engine's df
        cache, so the query then issues no dictionary job of its own."""
        tr, idx = self.run.tr, self.idx
        with tr.span("functions.analyzer.analyze_text"):
            analyze_text(text)
        if cls == "wildcard":
            return
        terms = sorted(set(analyze_text(" ".join(q["terms"]))))
        hits = sum(t in idx._df_cache for t in terms)
        with tr.span("query.exec.term_dfs", hits=hits, lookups=len(terms)):
            qx.term_dfs(idx, terms)

    def warm(self) -> None:
        for cls in CLASSES:
            self.execute(self.make_query(cls), qid=f"warm-{cls}")

    def step(self, i: int) -> None:
        q = self.next_query(i)
        key = self.run.op(f"query:{i}:{q['cls']}")
        rows, dt = self.run.guarded(key, lambda: self.execute(q, qid=i))
        if rows is not None:
            self.done.append({**q, "key": key, "rows": rows, "s": dt})

    def oracle_scores(self, oracle: Bm25Oracle, q: dict) -> dict:
        cls = q["cls"]
        if cls == "wildcard":
            return oracle.prefix_docs(q["prefix"])
        if cls == "match_and":
            return oracle.scores(q["terms"], require_all=True)
        if cls == "bool":
            return oracle.scores(q["terms"], require_all=True, must_not=q["not"])
        if cls == "query_string":
            return oracle.scores(q["terms"], lang=q["lang"], plus=1.0)
        return oracle.scores(q["terms"])

    def finish(self) -> None:
        docs = (
            with_doc_id(self.run.spark.read.parquet(self.corpus))
            .select("doc_id", "content", "lang")
            .toPandas()
        )
        oracle = Bm25Oracle(docs)
        for q in self.done:
            if not same_top(q["rows"], self.oracle_scores(oracle, q)):
                self.run.fail(q["key"], f"top-{K} differs from DuckDB BM25")

    def detail(self) -> list:
        return [(q["cls"], round(q["s"], 4)) for q in self.done]

    def latencies(self, cls=None) -> list[float]:
        return [q["s"] for q in self.done if cls is None or q["cls"] == cls]

    def completed(self) -> bool:
        return bool(self.done)

    def ops(self) -> int:
        return len(self.done)

    def e2e(self) -> dict:
        lat = self.latencies()
        return {
            "op_p50_s": p50(lat),
            "throughput_per_s": len(lat) / sum(lat),
            "bytes_per_doc": dir_bytes(self.dir) / self.idx.n_docs,
        }

    def aliases(self) -> list:
        e, lat = self.e2e(), self.latencies()
        return [
            ("query_p50_s", e["op_p50_s"], "s"),
            (f"query_p95_s(n={len(lat)})", quantile(lat, 0.95), "s"),
            ("queries_per_s", e["throughput_per_s"], "1/s"),
            ("index_bytes_per_doc", e["bytes_per_doc"], "B"),
        ] + [
            (f"{c}_p50_s(n={len(self.latencies(c))})", p50(self.latencies(c)), "s")
            for c in CLASSES if self.latencies(c)
        ]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


# ``auto_compact`` merges once more than this many segments are live
MAX_LIVE = 2
# draws of each query kind on the reopened index. Every refresh cycle
# runs all of them, so each cycle does the same work and a run's
# per-query figures do not depend on how many cycles fit in it.
QUERY_DRAWS = 3


class Ingest:
    """A segmented index written by a micro-batch, then served.

    Set-up ingests the base docs, then runs one micro-batch:
    ``ingest_segment_batch`` of new docs, ``upsert_segment_batch`` of
    changed live docs and ``delete_docs`` of live ids, followed by
    ``auto_compact``. The timed loop is the refresh cycle: a
    ``serve_resumable_index`` reopen, then the seeded match, bool and
    phrase queries on the reopened index."""

    name = "ingest"

    def __init__(
        self, run: Run, n_base: int = 1000, n_new: int = 300, n_upd: int = 60, n_del: int = 30
    ):
        self.run = run
        self.n_base, self.n_new, self.n_upd, self.n_del = n_base, n_new, n_upd, n_del
        self.pool = n_base + n_new
        self.batches: list[dict] = []
        self.refresh: list[dict] = []
        self.index_bytes_per_doc = 0.0

    def generate(self) -> None:
        run = self.run
        with run.tr.span("corpus.generate_corpus", docs=self.pool):
            pdf = generate_corpus_pandas(self.pool, run.seed)
        ids = with_doc_id(self._frame(pdf)).select("doc_id").toPandas()["doc_id"]
        pdf.insert(0, "doc_id", ids.to_numpy())
        self.pdf = pdf

    def prebuild(self) -> None:
        run, pdf = self.run, self.pdf
        self.live = pdf.iloc[: self.n_base].set_index("doc_id", drop=False)
        self.deleted: set[int] = set()
        self.rng = np.random.default_rng([run.seed, 2])
        self.seg = run.path("ingest", "seg")
        with run.tr.span("plans.manifest.ingest_segment_batch", batch="base"):
            mf.ingest_segment_batch(
                self._frame(pdf.iloc[: self.n_base]),
                self.seg, 0, n_parts=1, keep_positions=True,
            )
        z = Zipf(ranked_terms(self.live), self.rng)
        self.queries = [q for _ in range(QUERY_DRAWS) for q in self.query_set(z)]
        bytes0 = dir_bytes(self.seg)
        key = self.run.op("batch:0")
        rec, _ = self.run.guarded(key, lambda: self.batch(key))
        if rec is not None:
            self.batches.append(rec)
        self.write_bytes = dir_bytes(self.seg) - bytes0
        self.facts = self.segment_facts() if run.tr.enabled else {}

    def query_set(self, z: Zipf) -> list:
        """A match, a bool and a phrase (two adjacent tokens of a base
        doc) query."""
        toks = analyze_text(self.live["content"].iloc[int(self.rng.integers(self.n_base))])
        j = int(self.rng.integers(len(toks) - 1))
        must = z.draw(1)
        return [
            ("match", " ".join(z.draw(2))),
            ("bool", (must, z.draw(1, avoid=must))),
            ("phrase", f"{toks[j]} {toks[j + 1]}"),
        ]

    def _frame(self, pdf: pd.DataFrame):
        return self.run.spark.createDataFrame(
            pdf[["repo", "path", "commit", "lang", "content"]].reset_index(drop=True)
        )

    def _query(self, idx, kind: str, arg, k: int = K):
        if kind == "match":
            return qx.match_query(idx, arg, k)
        if kind == "bool":
            return qx.bool_query(idx, must=arg[0], must_not=arg[1], k=k)
        return qx.phrase_query(idx, arg, k)

    def batch(self, key: str) -> dict:
        """The micro-batch: new docs, upserts, deletes, ``auto_compact``.
        The base is segment 0, the new docs 1 and the upserts 2."""
        run, tr = self.run, self.run.tr
        new = self.pdf.iloc[self.n_base :].copy()
        new["content"] = new["content"] + " zzbatch"
        cand = list(self.live.index)
        pick = self.rng.choice(len(cand), self.n_upd + self.n_del, replace=False)
        upd_ids = [cand[i] for i in pick[: self.n_upd]]
        del_ids = [int(cand[i]) for i in pick[self.n_upd :]]
        upd = self.live.loc[upd_ids].copy()
        upd["content"] = upd["content"] + " zzupd"
        new_df, upd_df = self._frame(new), self._frame(upd)
        calls: dict[str, float] = {}

        def timed(name, fn):
            t = time.perf_counter()
            with tr.span(f"plans.manifest.{name}", batch=0):
                out = fn()
            calls[name] = time.perf_counter() - t
            return out

        with tr.span("ingest.batch", batch=0):
            timed("ingest_segment_batch", lambda: mf.ingest_segment_batch(
                new_df, self.seg, 1, n_parts=1, keep_positions=True
            ))
            timed("upsert_segment_batch", lambda: mf.upsert_segment_batch(
                upd_df, self.seg, 2, n_parts=1, keep_positions=True
            ))
            timed("delete_docs", lambda: mf.delete_docs(run.spark, self.seg, del_ids))
            merged = timed("auto_compact", lambda: mf.auto_compact(
                run.spark, self.seg, max_live=MAX_LIVE
            ))
        self.live = pd.concat([
            self.live.drop(index=del_ids + upd_ids), upd,
            new.set_index("doc_id", drop=False),
        ])
        self.deleted.update(del_ids)
        write_s = sum(v for k, v in calls.items() if k != "auto_compact")
        return {
            "key": key, "new": list(new["doc_id"]), "upd": upd_ids,
            "calls": calls, "merged": merged, "write_s": write_s,
            "batch_s": write_s + calls["auto_compact"], "docs": len(new) + len(upd),
        }

    def cycle(self, i) -> dict:
        """Reopen the index, then run the queries on it."""
        run, tr = self.run, self.run.tr
        r = {"i": i, "rows": [], "q_s": []}
        t0 = time.perf_counter()
        with tr.span("plans.manifest.refresh", cycle=i):
            with tr.span("plans.manifest.serve_resumable_index", cycle=i):
                served = mf.serve_resumable_index(run.spark, self.seg)
            for n, (kind, arg) in enumerate(self.queries):
                tq = time.perf_counter()
                with tr.span("query", qid=f"c{i}-{n}", cls=kind):
                    df = self._query(served, kind, arg)
                    r["rows"].append((kind, [(x["doc_id"], x["score"]) for x in df.collect()]))
                r["q_s"].append(time.perf_counter() - tq)
                r.setdefault("refresh_s", time.perf_counter() - t0)
        r["s"] = time.perf_counter() - t0
        return r

    def warm(self) -> None:
        self.cycle("warm")

    def step(self, i: int) -> None:
        key = self.run.op(f"refresh:{i}")
        r, _ = self.run.guarded(key, lambda: self.cycle(i))
        if r is None:
            return
        self.refresh.append(r)
        dead = self.deleted
        for kind, rows in r["rows"]:
            if any(int(d) in dead for d, _ in rows):
                self.run.fail(key, f"deleted doc returned by the {kind} query")

    def segment_facts(self) -> dict:
        deletes = os.path.join(self.seg, "deletes")
        return {
            "live_segments": len(mf.done_parts(self.run.spark, self.seg)),
            "tombstone_batches": sum(
                os.path.exists(os.path.join(deletes, d, "_SUCCESS"))
                for d in os.listdir(deletes)
            ),
        }

    def finish(self) -> None:
        key = self.run.op("purge")
        self.run.guarded(key, lambda: self._purge_and_check(key))

    def _purge_and_check(self, key: str) -> None:
        run, tr = self.run, self.run.tr
        live_parts = sorted(mf.done_parts(run.spark, self.seg))
        with tr.span("plans.manifest.compact_segments", purge=True):
            mf.compact_segments(
                run.spark, self.seg, live_parts,
                new_part=mf.next_compact_id(run.spark, self.seg),
                purge_deletes=True,
            )
        served = mf.serve_resumable_index(run.spark, self.seg)
        self.index_bytes_per_doc = sum(
            dir_bytes(os.path.join(self.seg, stream, f"part={p}"))
            for p in mf.done_parts(run.spark, self.seg)
            for stream in ("postings", "positions")
        ) / served.n_docs
        dead = sorted(self.deleted)
        back = served.postings.where(F.col("doc_id").isin(dead)).count()
        if back:
            run.fail(key, f"{back} postings rows of deleted docs served")
        # the batch's own tokens, in one scan of the served postings:
        # each names exactly the batch's docs that are still live
        live = {int(d) for d in self.live.index}
        want = {}
        for rec in self.batches:
            for tok, ids in (("zzbatch", rec["new"]), ("zzupd", rec["upd"])):
                want[tok] = ({int(d) for d in ids} & live, rec["key"])
        got: dict[str, set] = {t: set() for t in want}
        for r in served.postings.where(F.col("term").isin(list(want))).collect():
            got[r["term"]].add(r["doc_id"])
        for t, (ids, k) in want.items():
            if got[t] != ids:
                run.fail(k, f"token {t} is served for {len(got[t])} docs, written to {len(ids)}")
        # the purge converges df, n_docs and avg_dl to the live docs', so
        # scores equal BM25 computed from scratch over the live docs
        oracle = Bm25Oracle(self.live.reset_index(drop=True))
        live_toks = [
            (int(d), analyze_text(text))
            for d, text in zip(self.live["doc_id"], self.live["content"])
        ]
        for kind, arg in self.queries:
            rows = [(r["doc_id"], r["score"]) for r in self._query(served, kind, arg).collect()]
            if kind == "phrase":
                a, b = arg.split()
                holding = {
                    d for d, toks in live_toks
                    if any(toks[i] == a and toks[i + 1] == b for i in range(len(toks) - 1))
                }
                hits = [int(d) for d, _ in rows]
                if len(hits) != min(K, len(holding)) or not set(hits) <= holding:
                    run.fail(key, "phrase hits after purge are not live docs holding the phrase")
                continue
            if kind == "match":
                want = oracle.scores(analyze_text(arg))
            else:
                want = oracle.scores(arg[0], require_all=True, must_not=arg[1])
            if not same_top(rows, want):
                run.fail(key, f"{kind} top-{K} after purge differs from DuckDB BM25 over the live docs")

    def completed(self) -> bool:
        return bool(self.refresh) and bool(self.batches)

    def ops(self) -> int:
        return len(self.query_latencies())

    def detail(self) -> list:
        keep = ("calls", "merged", "batch_s")
        return [{k: r[k] for k in keep} for r in self.batches]

    def query_latencies(self) -> list[float]:
        return [s for r in self.refresh for s in r["q_s"]]

    def e2e(self) -> dict:
        return {
            "op_p50_s": p50(self.query_latencies()),
            "throughput_per_s": len(self.query_latencies()) / sum(r["s"] for r in self.refresh),
            "bytes_per_doc": self.write_bytes / sum(r["docs"] for r in self.batches),
        }

    def aliases(self) -> list:
        e = self.e2e()
        docs = sum(r["docs"] for r in self.batches)
        return [
            ("refresh_query_p50_s", e["op_p50_s"], "s"),
            ("refreshed_queries_per_s", e["throughput_per_s"], "1/s"),
            ("write_bytes_per_doc", e["bytes_per_doc"], "B"),
            ("refresh_s", p50([r["refresh_s"] for r in self.refresh]), "s"),
            (f"ingest_batch_p50_s(n={len(self.batches)}, set-up)",
             p50([r["batch_s"] for r in self.batches]), "s"),
            ("ingest_docs_per_s(set-up)", docs / sum(r["write_s"] for r in self.batches), "1/s"),
            ("index_bytes_per_doc", self.index_bytes_per_doc, "B"),
        ]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

# the banding the dedup entries use
LSH = {"n": 3, "k": 8, "bands": 4, "threshold": 0.8}
# planted duplicates, as shares of the generated docs
EXACT_SHARE, NEAR_SHARE = 0.05, 0.1


def shingle_set(text: str, n: int = LSH["n"]) -> set[str]:
    toks = analyze_text(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


class Dedup:
    """``exact_dedup`` → ``jaccard_pairs_verified`` →
    ``connected_components`` → ``dedup_apply`` over a generated corpus
    with planted exact and near duplicates."""

    name = "dedup"

    def __init__(self, run: Run, n_docs: int = 1200):
        self.run, self.n = run, n_docs
        self.passes: list[dict] = []

    def generate(self) -> None:
        run = self.run
        with run.tr.span("corpus.generate_corpus", docs=self.n):
            base = generate_corpus_pandas(self.n, run.seed)[["content"]]
        base.insert(0, "doc_id", np.arange(self.n, dtype=np.int64))
        rng = np.random.default_rng([run.seed, 3])
        n_ex, n_near = int(self.n * EXACT_SHARE), int(self.n * NEAR_SHARE)
        src = rng.choice(self.n, n_ex + n_near, replace=False)
        nid = self.n + np.arange(n_ex + n_near, dtype=np.int64)
        exact = pd.DataFrame({"doc_id": nid[:n_ex], "content": base["content"].iloc[src[:n_ex]].to_numpy()})
        # a near duplicate gains one trailing token: one new 3-gram
        near_text = [
            t + f" zzdup{j}" for j, t in enumerate(base["content"].iloc[src[n_ex:]])
        ]
        near = pd.DataFrame({"doc_id": nid[n_ex:], "content": near_text})
        self.exact_pairs = list(zip(src[:n_ex].tolist(), nid[:n_ex].tolist()))
        self.near_pairs = list(zip(src[n_ex:].tolist(), nid[n_ex:].tolist()))
        docs = pd.concat([base, exact, near], ignore_index=True)
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["content"]))
        self.rows = len(docs)
        self.input = run.path("dedup", "input")
        shutil.rmtree(self.input, ignore_errors=True)
        run.spark.createDataFrame(docs).write.parquet(self.input)

    def prebuild(self) -> None:
        pass

    def pipeline(self, i) -> dict:
        """One pass; each stage is materialized before the next."""
        run, tr = self.run, self.run.tr
        docs = run.spark.read.parquet(self.input)
        held = []
        out_dir = run.path("dedup", f"out{i}")
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("operators.dedup.pipeline", op=i):
            with tr.span("operators.dedup.exact_dedup"):
                ex = dd.exact_dedup(docs, "content", "doc_id")
                kept = docs.join(ex.select("doc_id"), "doc_id", "left_semi").persist()
                held.append(kept)
                kept.count()
            if tr.enabled:
                with tr.span("operators.dedup.minhash_lsh_candidates") as sp:
                    sp["rows"] = dd.minhash_lsh_candidates(
                        kept, "content", "doc_id", LSH["n"], LSH["k"], LSH["bands"]
                    ).count()
            with tr.span("operators.dedup.jaccard_pairs_verified") as sp:
                pairs = dd.jaccard_pairs_verified(
                    kept, "content", "doc_id", LSH["n"], LSH["threshold"],
                    LSH["k"], LSH["bands"],
                ).persist()
                held.append(pairs)
                sp["rows"] = pairs.count()
            with tr.span("operators.dedup.connected_components"):
                clusters = dd.connected_components(pairs).persist()
                held.append(clusters)
                clusters.count()
            with tr.span("operators.dedup.dedup_apply"):
                dd.dedup_apply(kept, clusters, "doc_id").write.parquet(out_dir)
        dt = time.perf_counter() - t0
        res = {
            "s": dt,
            "kept": {r["doc_id"] for r in kept.select("doc_id").collect()},
            "pairs": [(r["id_a"], r["id_b"]) for r in pairs.collect()],
            "clusters": {r["node"]: r["cluster_id"] for r in clusters.collect()},
            "out": {r["doc_id"] for r in run.spark.read.parquet(out_dir).select("doc_id").collect()},
            "out_bytes": dir_bytes(out_dir),
        }
        for df in held:
            df.unpersist()
        return res

    def warm(self) -> None:
        self.pipeline("warm")

    def step(self, i: int) -> None:
        key = self.run.op(f"pipeline:{i}")
        res, _ = self.run.guarded(key, lambda: self.pipeline(i))
        if res is None:
            return
        res["key"] = key
        self.passes.append(res)
        self.check(res)

    def check(self, res: dict) -> None:
        run, key = self.run, res["key"]
        for a, b in self.exact_pairs:
            if a not in res["kept"] or b in res["kept"]:
                run.fail(key, f"exact pair ({a}, {b}) not reduced to its min id")
        cl = res["clusters"]
        for a, b in self.near_pairs:
            if a not in cl or cl.get(a) != cl.get(b):
                run.fail(key, f"planted pair ({a}, {b}) not in one cluster")
        for a, b in res["pairs"]:
            sa, sb = shingle_set(self.texts[a]), shingle_set(self.texts[b])
            if len(sa & sb) / len(sa | sb) < LSH["threshold"]:
                run.fail(key, f"verified pair ({a}, {b}) below the Jaccard threshold")
        losers = {n for n, c in cl.items() if n != c}
        if res["out"] != res["kept"] - losers:
            run.fail(key, "dedup_apply output is not kept docs minus cluster losers")

    def finish(self) -> None:
        pass

    def completed(self) -> bool:
        return bool(self.passes)

    def ops(self) -> int:
        return len(self.passes)

    def aliases(self) -> list:
        e = self.e2e()
        return [
            ("dedup_pipeline_p50_s", e["op_p50_s"], "s"),
            ("dedup_docs_per_s", e["throughput_per_s"], "1/s"),
            ("output_bytes_per_doc", e["bytes_per_doc"], "B"),
        ]

    def e2e(self) -> dict:
        times = [r["s"] for r in self.passes]
        return {
            "op_p50_s": p50(times),
            "throughput_per_s": self.rows * len(times) / sum(times),
            "bytes_per_doc": self.passes[-1]["out_bytes"] / self.rows,
        }


WORKLOADS = {w.name: w for w in (Build, Search, Ingest, Dedup)}
