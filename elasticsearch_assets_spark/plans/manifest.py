"""Per-partition lineage manifests + checkpoint/resume + incremental
maintenance (SURVEY.md D6/D7/O11 + §7.8; FIXTURES.md T4).

The reference tracks slice-level progress with hole bookkeeping
(dateSlicer.ts:308-335, date-helpers.ts:287-390) so a killed run resumes
without re-reading completed ranges. Spark-native equivalent:

- the index build is decomposed into `n_parts` independent input
  partitions (pmod(xxhash64(doc_id), n_parts) — stable across runs
  because doc_id is content-derived, never monotonically_increasing_id)
- each completed part atomically lands TWO artifacts: its postings
  parquet directory (postings/part=K) and a ONE-ROW manifest parquet at
  manifest/pK whose overwrite is the commit point (Iceberg snapshot
  commit in production) — one current row per part, no ambiguity
- resume = parts without a done manifest row — the reference's "holes"
  are exactly the missing manifest rows
- incremental maintenance = parts whose manifest fingerprint no longer
  matches the input: fingerprint = order-independent sum over
  pmod(xxhash64(doc_id, content_sha), p), so adds, deletes, AND
  content-only edits all flip the affected partition — nothing else
  rebuilds
- manifest rows carry per-partition lineage metrics (rows, bytes,
  duration_ms) — the north rule's "per-partition lineage + metrics"
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.indexing.build import (
    doc_base,
    encode_postings,
    with_doc_id,
)

MANIFEST_SCHEMA = (
    "run_id string, partition_id int, input_fingerprint string, "
    "rows long, bytes long, duration_ms long, status string, "
    "replaces string"
)

_FP_MOD = 1_000_003


def _part_dir(path: str, part: int) -> str:
    return os.path.join(path, "postings", f"part={part}")


def _pos_part_dir(path: str, part: int) -> str:
    return os.path.join(path, "positions", f"part={part}")


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "manifest")


def _manifest_part_dir(path: str, part: int) -> str:
    return os.path.join(_manifest_dir(path), f"p{part}")


def _build_meta_path(path: str) -> str:
    return os.path.join(path, "build_meta.json")


def read_build_meta(path: str) -> dict:
    """Build-time settings of a resumable index (keep_positions,
    n_buckets and, when the caller supplied one, doc_id_col). Empty
    dict for pre-meta indexes."""
    import json as _json

    p = _build_meta_path(path)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return _json.load(f)


def _record_build_meta(
    path: str,
    keep_positions: bool,
    n_buckets: int | None = None,
    doc_id_col: str | None = None,
) -> str | None:
    """Persist keep_positions + n_buckets (+ doc_id_col when given) so
    later refresh/resume/serve runs default to the index's own
    settings, and return the index's doc_id_col (the recorded one when
    the caller passes None). A conflicting explicit flag raises: a
    resume that flips keep_positions would leave a MIXED index (some
    parts with prox dirs, some without) that silently loses phrase
    recall for the positions-less parts; a segment built with a
    different n_buckets would break bucket pruning (query-side
    pmod(xxhash64(term), B) no longer matches the rows' bucket column —
    silent recall loss, not an error); and a different doc_id_col
    would index the same docs under different ids."""
    import json as _json

    meta = read_build_meta(path)
    if "keep_positions" in meta and meta["keep_positions"] != keep_positions:
        raise ValueError(
            f"index at {path} was built with keep_positions="
            f"{meta['keep_positions']}; pass keep_positions="
            f"{meta['keep_positions']} (or rebuild from scratch) instead of "
            f"{keep_positions} — mixing would silently drop phrase recall"
        )
    if (
        n_buckets is not None
        and meta.get("n_buckets") is not None
        and meta["n_buckets"] != n_buckets
    ):
        raise ValueError(
            f"index at {path} was built with n_buckets={meta['n_buckets']}; "
            f"a segment with n_buckets={n_buckets} would break bucket "
            "pruning (query-side term->bucket math must match every "
            "segment) — pass the original value or rebuild"
        )
    if doc_id_col is not None:
        if meta.setdefault("doc_id_col", doc_id_col) != doc_id_col:
            raise ValueError(
                f"index at {path} was built with doc_id_col="
                f"{meta['doc_id_col']!r}, not {doc_id_col!r} — pass the "
                "original column or rebuild"
            )
    meta["keep_positions"] = keep_positions
    if n_buckets is not None:
        meta["n_buckets"] = n_buckets
    os.makedirs(path, exist_ok=True)
    with open(_build_meta_path(path), "w") as f:
        _json.dump(meta, f)
    return meta.get("doc_id_col")


def _fp_col():
    return F.sum(F.pmod(F.xxhash64("doc_id", "content_sha"), F.lit(_FP_MOD))).alias(
        "fp"
    )


def _with_parts(
    docs: DataFrame,
    id_cols,
    text_col: str,
    n_parts: int,
    part_offset: int = 0,
    doc_id_col: str | None = None,
) -> DataFrame:
    """doc_base (the build paths' doc_id + content_sha derivation) plus
    the part id; content_sha lets fingerprints detect content-only
    edits."""
    base = doc_base(docs, text_col, id_cols, doc_id_col)
    return base.withColumn(
        "_part",
        (F.lit(part_offset) + F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))).cast(
            "int"
        ),
    )


def _fresh_fingerprints(base: DataFrame) -> dict[int, str]:
    return {
        r["_part"]: str(r["fp"])
        for r in base.groupBy("_part").agg(_fp_col()).collect()
    }


def _build_part(
    base: DataFrame, path: str, part: int, n_buckets: int, text_col: str,
    run_id: str, keep_positions: bool = False,
) -> None:
    """Build one partition's postings (+ optional prox stream) and
    commit its manifest row LAST (the row is the atomic commit point,
    so a crash between data and manifest writes just rebuilds the
    part). Pass 1 is indexing.build.encode_postings, the kernel every
    build path shares: no shuffle, dl computed in the encode batch. With
    keep_positions the prox rows are written first and the postings
    derive from their read-back (tf = size(positions)), so the part's
    text is encoded once either way."""
    spark = base.sparkSession
    t0 = time.time()
    sub = base.where(F.col("_part") == part)
    _, rows = encode_postings(
        sub, text_col, n_buckets, keep_positions=keep_positions
    )
    if keep_positions:
        rows.write.mode("overwrite").parquet(_pos_part_dir(path, part))
        prox = spark.read.parquet(_pos_part_dir(path, part))
        tfd = prox.select(
            "term",
            "doc_id",
            F.size("positions").cast("int").alias("tf"),
            "dl",
            "bucket",
        )
    else:
        tfd = rows
        # a positions-less rebuild of a part previously built WITH
        # positions must not leave a stale prox dir behind
        import shutil

        shutil.rmtree(_pos_part_dir(path, part), ignore_errors=True)
    tfd.write.mode("overwrite").parquet(_part_dir(path, part))

    stats = sub.agg(
        F.count("*").alias("rows"), _fp_col(), F.sum(F.length(text_col)).alias("bytes")
    ).collect()[0]
    row = [
        (
            run_id,
            part,
            str(stats["fp"] if stats["fp"] is not None else 0),
            int(stats["rows"] or 0),
            int(stats["bytes"] or 0),
            int((time.time() - t0) * 1000),
            "done",
            None,
        )
    ]
    # overwrite = the atomic commit point; exactly one current row/part
    spark.createDataFrame(row, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_manifest_part_dir(path, part))


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    md = _manifest_dir(path)
    if not os.path.isdir(md) or not os.listdir(md):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    # mergeSchema: rows written before the compaction feature lack the
    # `replaces` column — old indexes stay readable, the column is
    # backfilled as null
    m = spark.read.option("recursiveFileLookup", "true").option(
        "mergeSchema", "true"
    ).parquet(md)
    if "replaces" not in m.columns:
        m = m.withColumn("replaces", F.lit(None).cast("string"))
    return m


def _done_rows(spark: SparkSession, path: str) -> list:
    return (
        read_manifest(spark, path)
        .where(F.col("status") == "done")
        .select("partition_id", "replaces")
        .collect()
    )


def _replaced_ids(rows) -> set[int]:
    out: set[int] = set()
    for r in rows:
        if r["replaces"]:
            out.update(int(x) for x in r["replaces"].split(","))
    return out


def done_parts(spark: SparkSession, path: str) -> set[int]:
    """LIVE committed parts: done manifest rows minus every part listed
    in a committed compaction's `replaces` — the compacted segment's
    single manifest row atomically adds the merged part AND hides its
    inputs, so readers never double-count."""
    rows = _done_rows(spark, path)
    return {r["partition_id"] for r in rows} - _replaced_ids(rows)


def _ever_done_ids(spark: SparkSession, path: str) -> set[int]:
    """Parts with ANY done row PLUS compaction-replaced ids — the
    resume skip-set (a replaced part's docs live on in the merged
    segment; rebuilding it would double its docs). Replaced ids come
    from the compacted rows' `replaces` strings, so they stay in the
    skip-set even after gc_replaced_segments removes their own rows."""
    rows = _done_rows(spark, path)
    return {r["partition_id"] for r in rows} | _replaced_ids(rows)


def manifest_fingerprints(spark: SparkSession, path: str) -> dict[int, str]:
    m = read_manifest(spark, path)
    return {
        r["partition_id"]: r["input_fingerprint"]
        for r in m.where(F.col("status") == "done").collect()
    }


def build_index_resumable(
    docs: DataFrame,
    path: str,
    n_parts: int = 8,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    run_id: str = "run",
    fail_after_parts: int | None = None,
    keep_positions: bool = False,
    doc_id_col: str | None = None,
) -> None:
    """Build (or resume) the partitioned index at `path`.

    fail_after_parts injects a crash after N newly-built parts — the
    kill/resume test hook. keep_positions also writes the prox stream
    per part (positions/part=N) so a resumable/incremental index can
    serve phrase queries; the manifest row stays the single commit
    point for both streams.
    """
    spark = docs.sparkSession
    doc_id_col = _record_build_meta(path, keep_positions, n_buckets, doc_id_col)
    base = _with_parts(docs, id_cols, text_col, n_parts, doc_id_col=doc_id_col)
    done = _ever_done_ids(spark, path)
    built = 0
    for part in range(n_parts):
        if part in done:
            continue
        _build_part(
            base, path, part, n_buckets, text_col, run_id, keep_positions
        )
        built += 1
        if fail_after_parts is not None and built >= fail_after_parts:
            raise RuntimeError(f"injected failure after {built} parts")


def refresh_index(
    docs: DataFrame,
    path: str,
    n_parts: int = 8,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    run_id: str = "refresh",
    keep_positions: bool | None = None,
) -> list[int]:
    """Incremental maintenance (SURVEY.md §7.8): rebuild ONLY partitions
    whose input fingerprint drifted (adds/deletes/content edits).
    Returns the rebuilt part ids — empty list when nothing changed.

    keep_positions defaults to the index's OWN build-time setting
    (build_meta.json) — a refresh of a keep_positions index must not
    silently rmtree committed prox dirs for the rebuilt parts (phrase
    queries would then miss those parts' docs with no error). An
    explicit conflicting flag raises via _record_build_meta.
    """
    spark = docs.sparkSession
    if keep_positions is None:
        meta = read_build_meta(path)
        if "keep_positions" in meta:
            keep_positions = bool(meta["keep_positions"])
        else:
            # pre-meta index: infer from the layout rather than
            # defaulting to False and deleting committed prox dirs
            keep_positions = os.path.isdir(os.path.join(path, "positions"))
    rows = _done_rows(spark, path)
    if _replaced_ids(rows) or any(r["partition_id"] >= n_parts for r in rows):
        # a compacted or stream-ingested index's segments no longer
        # align with the hash-part keying this drift scan assumes — a
        # "refresh" here would rebuild hash parts whose docs also live
        # in merged/batch segments (silent double-count)
        raise ValueError(
            f"index at {path} has compacted or stream-ingested segments; "
            "refresh_index only supports batch-partitioned indexes "
            f"(n_parts={n_parts}) — rebuild, or ingest changes as new "
            "segments"
        )
    doc_id_col = _record_build_meta(path, keep_positions, n_buckets)
    base = _with_parts(docs, id_cols, text_col, n_parts, doc_id_col=doc_id_col)
    fresh = _fresh_fingerprints(base)
    current = manifest_fingerprints(spark, path)
    stale = [
        part
        for part in range(n_parts)
        if current.get(part) != fresh.get(part, "0")
    ]
    for part in stale:
        _build_part(
            base, path, part, n_buckets, text_col, run_id, keep_positions
        )
    return stale


def _read_committed(spark: SparkSession, path: str, stream: str) -> DataFrame:
    """Read only the part dirs whose manifest row committed: a part
    directory written just before a crash (data landed, manifest row
    didn't) must not leak into reads — resume will overwrite it, and
    until then its rows are uncommitted."""
    base = os.path.join(path, stream)
    parts = [
        os.path.join(base, f"part={p}")
        for p in sorted(done_parts(spark, path))
        if os.path.isdir(os.path.join(base, f"part={p}"))
    ]
    if not parts:
        raise FileNotFoundError(
            f"no committed {stream} parts under {path} — build the index "
            "first (or it was built without this stream)"
        )
    # mergeSchema: merge-produced segments carry the orig_part
    # provenance column, fresh segments don't
    return spark.read.option("basePath", base).option(
        "mergeSchema", "true"
    ).parquet(*parts)


def read_resumable_postings(spark: SparkSession, path: str) -> DataFrame:
    """Postings of a resumable index, restricted to committed parts."""
    return _read_committed(spark, path, "postings")


def read_resumable_positions(spark: SparkSession, path: str) -> DataFrame:
    """Prox stream of a keep_positions resumable index — read through
    the manifest the same way postings are (only committed parts)."""
    return _read_committed(spark, path, "positions")


def serve_resumable_index(
    spark: SparkSession,
    path: str,
    n_buckets: int | None = None,
    apply_deletes: bool = True,
):
    """IndexTables over a resumable/streamed index's COMMITTED segments
    — the serving handle for query/exec, no batch re-index needed:

    - postings (and positions, when built with keep_positions) read
      through the manifest: committed parts only, compaction-replaced
      ids excluded
    - terms (df) from one postings aggregation
    - n_docs = sum of the live manifest rows' doc counts — zero-token
      docs have no postings rows but DO count toward n_docs/avg_dl,
      matching the batch builder's coalesced dl=0 semantics
    - avg_dl = sum over per-doc dl (denormalized on every posting row)
      / n_docs
    - n_buckets from build_meta (bucket pruning needs the exact
      build-side value; pre-meta indexes must pass it explicitly)
    - tombstoned docs (delete_docs) are anti-joined out of postings and
      positions, but ONLY after the corpus stats (df, n_docs, avg_dl)
      are derived — Lucene liveDocs semantics: a deleted doc stops
      matching immediately, while docFreq/maxDoc keep counting it until
      a purging merge rewrites the segments (compact_segments
      purge_deletes=True). apply_deletes=False serves the raw segments.

    Stats reflect the segments committed at call time — re-call after
    new batches land, the way Lucene reopens a reader per refresh.
    """
    from elasticsearch_assets_spark.indexing.build import IndexTables

    meta = read_build_meta(path)
    if n_buckets is None:
        n_buckets = meta.get("n_buckets")
    if n_buckets is None:
        raise ValueError(
            f"index at {path} predates build-meta n_buckets recording — "
            "pass n_buckets= explicitly (it must equal the build-time "
            "value or bucket pruning silently drops matches)"
        )
    rows = (
        read_manifest(spark, path)
        .where(F.col("status") == "done")
        .select("partition_id", "replaces", "rows")
        .collect()
    )
    live = {r["partition_id"] for r in rows} - _replaced_ids(rows)
    n_docs = sum(int(r["rows"]) for r in rows if r["partition_id"] in live)
    post = read_resumable_postings(spark, path)
    doc_dl = post.select("doc_id", "dl").distinct()
    sum_dl = doc_dl.agg(F.sum("dl")).collect()[0][0]
    avg_dl = float(sum_dl or 0) / n_docs if n_docs else 0.0
    # df from the FULL committed postings (pre-tombstone), per Lucene
    terms = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    positions = None
    if meta.get("keep_positions") or os.path.isdir(
        os.path.join(path, "positions")
    ):
        positions = read_resumable_positions(spark, path)
    if apply_deletes:
        tomb = read_deletes(spark, path)
        if tomb is not None:
            # tombstone sets are small relative to the corpus (a large
            # backlog is what purge_deletes compactions are for), so
            # Spark picks a broadcast anti-join from the parquet size
            # stats — no forced broadcast of an unbounded frame. The
            # scope predicate (part < applies_below) rides the doc_id
            # hash join as a residual filter; `part` is the partition
            # column the basePath segment read exposes.
            post = post.join(tomb, _dead_row_cond(post, tomb), "left_anti")
            if positions is not None:
                positions = positions.join(
                    tomb, _dead_row_cond(positions, tomb), "left_anti"
                )
    return IndexTables(
        postings=post,
        terms=terms,
        doc_norms=doc_dl,
        n_docs=n_docs,
        avg_dl=avg_dl,
        n_buckets=int(n_buckets),
        positions=positions,
    )


def verify_fingerprints(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_cols=("repo", "path", "commit"),
    text_col: str = "content",
    n_parts: int = 8,
) -> bool:
    """Resume-safety check: manifest fingerprints still match the input
    (detects input drift between the killed run and the resume). Doc
    ids derive the way the index's build did (its recorded
    doc_id_col)."""
    doc_id_col = read_build_meta(path).get("doc_id_col")
    base = _with_parts(docs, id_cols, text_col, n_parts, doc_id_col=doc_id_col)
    fresh = _fresh_fingerprints(base)
    return all(
        fresh.get(pid) == fp
        for pid, fp in manifest_fingerprints(spark, path).items()
    )


# ---------------------------------------------------------------------------
# Streaming ingest: one micro-batch -> n_parts new committed segments
# ---------------------------------------------------------------------------


def ingest_segment_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_parts: int = 4,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_positions: bool = False,
    run_id: str | None = None,
    doc_id_col: str | None = None,
) -> list[int]:
    """Append one micro-batch of docs as ``n_parts`` NEW segments with
    the deterministic ids ``batch_id*n_parts + [0, n_parts)`` — the
    Lucene segment-per-flush model on the existing manifest commit
    machinery. Designed as a Structured Streaming ``foreachBatch`` sink
    (streaming/ingest.py): a replayed batch (restart from checkpoint
    re-delivers the same files, so the same rows) skips its already-
    committed segments and rebuilds the rest byte-identically —
    idempotent re-execution = effectively-once ingest, with no
    distributed transaction.

    Returns the segment ids built by THIS call (committed ones are
    skipped). Segments are served by read_resumable_postings/positions
    exactly like batch parts; BM25 stats (n_docs, avg_dl) derive from
    the postings at query time, so they stay correct as segments land.
    """
    spark = docs.sparkSession
    doc_id_col = _record_build_meta(path, keep_positions, n_buckets, doc_id_col)
    lo = batch_id * n_parts
    base = _with_parts(
        docs, id_cols, text_col, n_parts, part_offset=lo, doc_id_col=doc_id_col
    )
    done = _ever_done_ids(spark, path)
    rid = run_id or f"batch-{batch_id}"
    built: list[int] = []
    for part in range(lo, lo + n_parts):
        if part in done:
            continue
        _build_part(base, path, part, n_buckets, text_col, rid, keep_positions)
        built.append(part)
    return built


def upsert_segment_batch(
    docs: DataFrame,
    path: str,
    batch_id: int,
    n_parts: int = 4,
    n_buckets: int = 16,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_positions: bool = False,
    run_id: str | None = None,
    doc_id_col: str | None = None,
) -> list[int]:
    """Index-layer update/upsert — Lucene's updateDocument
    (delete-then-add) for the reference's bulk ``update``/``upsert``
    actions (ElasticsearchBulkSender.ts:62-79): tombstone the batch's
    doc ids SCOPED BELOW the batch's own segment range
    (``applies_below = batch_id*n_parts``), then ingest the batch as
    new segments. Copies of these docs in any older segment stop
    matching the moment the tombstone commits; the re-ingested copies
    live at-or-above the boundary and survive — including through later
    merges, which preserve each row's original segment id (orig_part).

    Commit order: tombstone FIRST — a crash between the two steps
    leaves the doc briefly absent (old copy dead, new not yet visible),
    never duplicated; a foreachBatch replay re-runs both steps
    idempotently (an extra tombstone batch is absorbed by the max-scope
    union, committed segments are skipped). Until a purging merge, BM25
    stats count old AND new copies (Lucene maxDoc/docFreq over
    not-yet-merged deletes); compact_segments(purge_deletes=True)
    converges them.
    """
    spark = docs.sparkSession
    lo = batch_id * n_parts
    if doc_id_col is None:
        doc_id_col = read_build_meta(path).get("doc_id_col")
    ids = with_doc_id(docs, id_cols, text_col, doc_id_col).select("doc_id")
    delete_docs(spark, path, ids, applies_below=lo)
    return ingest_segment_batch(
        docs,
        path,
        batch_id,
        n_parts=n_parts,
        n_buckets=n_buckets,
        text_col=text_col,
        id_cols=id_cols,
        keep_positions=keep_positions,
        run_id=run_id or f"upsert-{batch_id}",
        doc_id_col=doc_id_col,
    )


# ---------------------------------------------------------------------------
# Segment compaction + GC (merge small streamed segments, Lucene-style)
# ---------------------------------------------------------------------------


def compact_segments(
    spark: SparkSession,
    path: str,
    parts: list[int],
    new_part: int,
    run_id: str = "compact",
    purge_deletes: bool = False,
) -> None:
    """Merge the committed segments ``parts`` into ONE segment
    ``new_part``. Pure data movement — postings (and positions, for a
    keep_positions index) rows are re-written under the new part dir;
    no re-tokenization.

    Commit protocol: the new segment's single manifest row lands LAST
    and carries ``replaces`` — one atomic overwrite both publishes the
    merged segment and hides its inputs from ``done_parts``, so readers
    see exactly-one copy of every row at every instant. A crash before
    that row leaves only an uncommitted data dir (invisible, rebuilt by
    a retry); the replaced dirs stay on disk until
    ``gc_replaced_segments`` (lazy, idempotent).

    Fingerprints are additive (an order-independent sum over docs), so
    the merged segment's fingerprint is the sum of its inputs' — no
    source-doc scan.

    ``purge_deletes=True`` is the Lucene purging merge: tombstoned rows
    (delete_docs) are dropped while rewriting, the new manifest row's
    doc count subtracts the purged docs (so served n_docs/avg_dl stop
    counting them), and — only when ``parts`` covers EVERY live segment
    (a full merge) — the now-applied tombstones are retired. A partial
    purge keeps all tombstones: a doc_id re-ingested by a later batch
    can live in a segment outside this merge, and retiring its
    tombstone would resurrect that copy. Caveats (documented, not
    silent): a purged index's fingerprint stays the additive input sum
    (lineage-only — refresh_index already refuses compacted indexes),
    and a tombstoned ZERO-TOKEN doc has no postings rows to detect, so
    it keeps counting toward n_docs until its segment is fully
    re-ingested.
    """
    if len(parts) < 2:
        raise ValueError("compaction needs >= 2 segments")
    rows = _done_rows(spark, path)
    live = {r["partition_id"] for r in rows} - _replaced_ids(rows)
    missing = [p for p in parts if p not in live]
    if missing:
        raise ValueError(f"segments not live/committed: {missing}")
    if new_part in {r["partition_id"] for r in rows}:
        raise ValueError(f"segment id {new_part} already has a manifest row")

    t0 = time.time()
    m = {
        r["partition_id"]: r
        for r in read_manifest(spark, path)
        .where(F.col("status") == "done")
        .collect()
    }
    tomb = read_deletes(spark, path) if purge_deletes else None
    purged_docs = 0
    streams = ["postings"]
    if read_build_meta(path).get("keep_positions") or os.path.isdir(
        os.path.join(path, "positions")
    ):
        streams.append("positions")
    for stream in streams:
        base = os.path.join(path, stream)
        src = [
            os.path.join(base, f"part={p}")
            for p in sorted(parts)
            if os.path.isdir(os.path.join(base, f"part={p}"))
        ]
        if not src:
            continue
        # basePath read keeps the rows' segment id as the `part`
        # column so scoped tombstones can test against it; mergeSchema
        # because inputs that are themselves merge products carry the
        # orig_part provenance column
        merged = spark.read.option("basePath", base).option(
            "mergeSchema", "true"
        ).parquet(*src)
        if tomb is not None:
            if stream == "postings":
                cols = ["doc_id", "part"] + (
                    ["orig_part"] if "orig_part" in merged.columns else []
                )
                dm = merged.select(*cols).distinct()
                purged_docs = dm.join(
                    tomb, _dead_row_cond(dm, tomb), "left_semi"
                ).count()
            merged = merged.join(
                tomb, _dead_row_cond(merged, tomb), "left_anti"
            )
        # rows keep their original segment id as DATA (orig_part) so
        # scoped tombstones stay exact after the relabel; the `part`
        # partition column itself must not be written into the files
        # (it would collide with partition discovery on re-read)
        merged = merged.withColumn(
            "orig_part", _effective_part(merged).cast("int")
        ).drop("part")
        dst = os.path.join(base, f"part={new_part}")
        merged.write.mode("overwrite").parquet(dst)

    fp = sum(int(m[p]["input_fingerprint"]) for p in parts)
    row = [
        (
            run_id,
            new_part,
            str(fp),
            sum(int(m[p]["rows"]) for p in parts) - purged_docs,
            sum(int(m[p]["bytes"]) for p in parts),
            int((time.time() - t0) * 1000),
            "done",
            ",".join(str(p) for p in sorted(parts)),
        )
    ]
    spark.createDataFrame(row, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_manifest_part_dir(path, new_part))
    if tomb is not None and set(parts) == live:
        _retire_deletes(path)


def next_compact_id(spark: SparkSession, path: str) -> int:
    """Allocate a collision-proof id for a compacted segment: streamed
    batch segments are always ``batch_id*n_parts + i >= 0``, so
    compacted segments live in the NEGATIVE range. A positive new_part
    that collided with a future batch's deterministic id would make
    ingest_segment_batch skip that segment as already-done — silent
    loss of the whole micro-batch. Descends from -1; replaced ids stay
    reserved (their rows may be GC'd but their id must never be
    reused while a `replaces` string still names them)."""
    rows = _done_rows(spark, path)
    used = {r["partition_id"] for r in rows} | _replaced_ids(rows)
    return min((i for i in used if i < 0), default=0) - 1


def auto_compact(
    spark: SparkSession,
    path: str,
    max_live: int = 8,
    max_merge: int = 8,
    run_id: str = "auto-compact",
) -> list[list[int]]:
    """Tiered merge policy (the Lucene TieredMergePolicy analogue for
    streamed indexes): while more than ``max_live`` segments are live,
    merge the SMALLEST ones (by manifest row count — small segments
    are what streaming accumulates) in groups of at most ``max_merge``,
    into negative ids from next_compact_id. Deterministic given the
    manifest (ties broken by partition_id), idempotent once the live
    count is within bound. Returns the merge groups executed, in
    order."""
    merged: list[list[int]] = []
    while True:
        rows = (
            read_manifest(spark, path)
            .where(F.col("status") == "done")
            .select("partition_id", "replaces", "rows")
            .collect()
        )
        replaced = _replaced_ids(rows)
        live = sorted(
            (
                (int(r["rows"]), int(r["partition_id"]))
                for r in rows
                if r["partition_id"] not in replaced
            ),
        )
        if len(live) <= max_live:
            return merged
        # one merge shrinks the live count by (k-1); take just enough
        # of the smallest segments to land inside the bound, capped
        k = min(max_merge, len(live) - max_live + 1)
        group = sorted(pid for _, pid in live[:k])
        compact_segments(
            spark,
            path,
            group,
            new_part=next_compact_id(spark, path),
            run_id=run_id,
        )
        merged.append(group)


def gc_replaced_segments(spark: SparkSession, path: str) -> list[int]:
    """Remove the data dirs AND manifest rows of compaction-replaced
    segments. Safe any time after the compaction committed (readers
    already exclude them); idempotent; returns the ids collected."""
    import shutil

    rows = _done_rows(spark, path)
    replaced = sorted(_replaced_ids(rows))
    for p in replaced:
        shutil.rmtree(_part_dir(path, p), ignore_errors=True)
        shutil.rmtree(_pos_part_dir(path, p), ignore_errors=True)
        shutil.rmtree(_manifest_part_dir(path, p), ignore_errors=True)
    return replaced


# ---------------------------------------------------------------------------
# Tombstone deletes (the Lucene liveDocs/.liv analogue)
# ---------------------------------------------------------------------------
#
# The reference's bulk sender emits `delete` actions keyed by doc id
# (ElasticsearchBulkSender.ts:55-73 — `_delete_id` metadata and the
# config.delete path both build `{action: {delete: meta}}`), and
# Elasticsearch/Lucene honor them with per-segment liveDocs bitsets:
# the doc stops matching immediately, its postings stay on disk, and
# corpus statistics (docFreq, maxDoc) keep counting it until a merge
# rewrites the segment. This section is that lifecycle for the
# resumable/streamed index: delete_docs appends a committed tombstone
# batch, serve_resumable_index anti-joins live postings (stats
# untouched), and compact_segments(purge_deletes=True) is the purging
# merge. Single-writer, like the rest of the manifest machinery.


def _deletes_dir(path: str) -> str:
    return os.path.join(path, "deletes")


_NO_BOUND = (1 << 63) - 1  # tombstone applies to every segment


def delete_docs(
    spark: SparkSession, path: str, ids, applies_below: int | None = None
) -> int:
    """Tombstone doc ids in the index at ``path``. ``ids`` is either a
    DataFrame with a ``doc_id`` column or an iterable of ints. Each
    call lands ONE new batch dir ``deletes/b<k>``; the parquet
    ``_SUCCESS`` marker is the commit point (a crash mid-write leaves
    no marker, so the batch is invisible and simply re-issued).
    Re-deleting an already-dead id is a harmless no-op (readers take
    the max-scope union of all batches). Returns the batch's distinct
    id count.

    ``applies_below`` scopes the tombstone to segments with
    ``partition_id < applies_below`` — the update primitive
    (upsert_segment_batch): kill the copies that predate a boundary
    while the re-ingested copy above it survives. Default: unscoped
    (kills the doc everywhere), the plain delete."""
    bound = _NO_BOUND if applies_below is None else int(applies_below)
    if isinstance(ids, DataFrame):
        df = ids.select(F.col("doc_id").cast("long").alias("doc_id"))
    else:
        df = spark.createDataFrame(
            [(int(i),) for i in ids], "doc_id long"
        )
    df = df.distinct().withColumn(
        "applies_below", F.lit(bound).cast("long")
    ).coalesce(1)
    dd = _deletes_dir(path)
    os.makedirs(dd, exist_ok=True)
    nxt = 1 + max(
        (
            int(d[1:])
            for d in os.listdir(dd)
            if d.startswith("b") and d[1:].isdigit()
        ),
        default=-1,
    )
    dst = os.path.join(dd, f"b{nxt}")
    df.write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst).count()


def _committed_delete_dirs(path: str) -> list[str]:
    dd = _deletes_dir(path)
    if not os.path.isdir(dd):
        return []
    return sorted(
        os.path.join(dd, d)
        for d in os.listdir(dd)
        if d.startswith("b")
        and os.path.exists(os.path.join(dd, d, "_SUCCESS"))
    )


def read_deletes(spark: SparkSession, path: str) -> DataFrame | None:
    """The live tombstone set over every COMMITTED delete batch, one
    row per doc_id with the WIDEST scope: (doc_id, applies_below). A
    posting row is dead iff some tombstone names its doc_id with
    ``part < applies_below`` ⟺ ``part < max(applies_below)`` — so the
    per-doc max is the exact union of all batches. None when the index
    has no tombstones."""
    dirs = _committed_delete_dirs(path)
    if not dirs:
        return None
    t = spark.read.option("mergeSchema", "true").parquet(*dirs)
    if "applies_below" not in t.columns:  # pre-scoping batches
        t = t.withColumn("applies_below", F.lit(_NO_BOUND).cast("long"))
    return t.groupBy("doc_id").agg(
        F.max(F.coalesce("applies_below", F.lit(_NO_BOUND))).alias(
            "applies_below"
        )
    )


def _effective_part(data: DataFrame):
    """The segment id a tombstone scope tests against: rows rewritten
    by a merge keep their ORIGINAL segment id in the orig_part data
    column (compact_segments writes it), everything else uses the
    `part` partition column. Without this provenance a merge would
    relabel rows under the new segment id and a scoped tombstone
    committed before the merge could kill re-ingested copies it never
    covered (or spare old ones it did)."""
    if "orig_part" in data.columns:
        return F.coalesce(data["orig_part"], data["part"])
    return data["part"]


def _dead_row_cond(data: DataFrame, tomb: DataFrame):
    """Join condition marking a data row dead under a scoped tombstone
    set: same doc_id and the row's effective segment id below the
    tombstone's boundary."""
    return (data["doc_id"] == tomb["doc_id"]) & (
        _effective_part(data) < tomb["applies_below"]
    )


def _retire_deletes(path: str) -> None:
    """Drop every committed tombstone batch — valid only right after a
    FULL purging merge (all live segments rewritten minus tombstones),
    when every detectable tombstone has been physically applied."""
    import shutil

    for d in _committed_delete_dirs(path):
        shutil.rmtree(d, ignore_errors=True)
