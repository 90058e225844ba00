"""Inverted-index construction as a declarative DataFrame plan.

Replaces the reference's delegated "Layer B" index (SURVEY.md §2.6): the
Elasticsearch/Lucene inverted index is re-expressed as three Spark
tables persisted as parquet (Iceberg-style layout):

  postings/   (term, doc_id, tf, positions, dl)   partitioned by bucket
  terms/      (term, df)                           the term dictionary
  terms_rev/  (rev, term, df)                      reversed dictionary,
              range-partitioned+sorted by rev — `*suffix` wildcards
              become a pruned prefix scan (Lucene ReverseStringFilter)
  doc_norms/  (doc_id, dl, content_sha, <source>)  doc store + norms
  stats/      single row: (n_docs, avg_dl)

Design notes for 10^12-file scale:

- doc_id = xxhash64(repo, path, commit): stable across runs and resumes
  (never monotonically_increasing_id — SURVEY.md §7.3).
- Document length (dl) is DENORMALIZED into each posting row, exactly as
  Lucene stores norms with postings — this removes the doc_norms join
  from the query path; scoring needs only a broadcast idf map.
- postings are hash-partitioned by term bucket (pmod(xxhash64(term), B))
  and written with partitionBy(bucket): a query on T terms prunes to
  ≤ T parquet partitions (directory-level pruning + row-group predicate
  pushdown on term).
- tf is computed per doc, so pass 1 has no skew; the hot-term skew
  lives in per-term grouping, which this layout avoids entirely by
  keeping postings as rows (blocks are packed separately in
  indexing/blockpack.py with doc_id-range chunking so no single task
  ever owns a whole hot term).
- Pass 1 (analyzer -> per-(doc, term) tf, positions, dl) is ONE
  vectorized mapInArrow stage (indexing/arrowtf.py) shared by every
  build path through doc_base + encode_postings: a doc's tokens never
  leave their Arrow batch, so tf needs no groupBy and no shuffle.

Reference parity anchors:
- record-with-_key model: asset/src/elasticsearch_bulk docs; metadata
  `_key` becomes the explicit doc_id column (SURVEY.md §1.5).
- per-row invariant: sha256(content) column for ingested-vs-indexed
  equality (BASELINE.json input_hint).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.indexing.arrowtf import ddl_fields, encode_tf

DEFAULT_BUCKETS = 64


@dataclass
class IndexTables:
    postings: DataFrame  # term, bucket, doc_id, tf, dl
    terms: DataFrame  # term, df
    doc_norms: DataFrame  # doc_id, dl, content_sha + source cols
    n_docs: int
    avg_dl: float
    n_buckets: int = DEFAULT_BUCKETS
    # positions live in their own table (Lucene keeps proximity data in a
    # separate prox stream for the same reason): only phrase queries pay
    # for them, and the scoring path never materializes position arrays.
    positions: DataFrame | None = None  # term, bucket, doc_id, positions
    # reversed-term dictionary (rev = reverse(term)) — Lucene's
    # ReverseStringFilter trick: `*suffix` wildcards become a PREFIX
    # range scan on rev (rows-skipped via parquet min/max) instead of a
    # full-dictionary endswith decode at 10^9 terms. On disk it is
    # range-partitioned by rev so the scan prunes to 1-2 files.
    terms_rev: DataFrame | None = None  # rev, term, df
    _cached: tuple = ()
    # driver-side dictionary cache: term -> df (0 = known-absent).
    # Lucene keeps the terms dictionary in memory for exactly this
    # reason — query planning needs df without a cluster job. Filled
    # lazily by query.exec.term_dfs with only the QUERIED terms
    # (bounded there), so it never materializes the full dictionary.
    _df_cache: dict = field(default_factory=dict)
    # (postings frame, its scan root dirs, bucket -> postings file
    # count), filled per touched bucket by query.exec for the
    # single-partition scan bound; rebuilt when postings is replaced
    _bucket_files: tuple | None = None

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()


def with_doc_id(
    docs: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    text_col: str = "content",
    doc_id_col: str | None = None,
) -> DataFrame:
    """Attach stable doc_id (bigint) + content sha256 (the per-row
    invariant). ``doc_id_col``, when given, is used verbatim (cast to
    bigint, e.g. the testdata ``documents.doc_id``); otherwise
    doc_id = xxhash64(*id_cols)."""
    if doc_id_col is not None:
        doc_id = F.col(doc_id_col).cast("long")
    else:
        doc_id = F.xxhash64(*[F.col(c) for c in id_cols])
    return docs.withColumn("doc_id", doc_id).withColumn(
        "content_sha", F.sha2(F.col(text_col), 256)
    )


def doc_base(
    docs: DataFrame,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
) -> DataFrame:
    """The doc frame every build path encodes: the scan guard, then
    with_doc_id. The guard exists because the encode stage's
    parallelism is capped by the input split count (a handful of
    parquet files would serialize the build); at 100 TB it is a
    no-op."""
    spark_dp = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < spark_dp:
        docs = docs.repartition(spark_dp)
    return with_doc_id(docs, id_cols, text_col, doc_id_col)


def encode_postings(
    base: DataFrame,
    text_col: str,
    n_buckets: int,
    carry: tuple[str, ...] = (),
    keep_positions: bool = False,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Pass 1 of every build path: the Arrow analyzer + per-doc tf
    kernel (indexing/arrowtf.py) over ``base`` (a doc_base frame), then
    one explode into posting rows. Returns (enc, rows):

    - enc: doc-level (doc_id, *carry, dl, terms, tfs[, positions]);
      persisted MEMORY_AND_DISK when ``persist`` (rows then explode
      from the cache)
    - rows: (term, doc_id, tf, dl, bucket), or with ``keep_positions``
      (term, doc_id, positions, dl, bucket) — tf = size(positions)

    A doc's tokens never leave their Arrow batch, so tf is exact per
    batch and pass 1 has NO shuffle. dl rides every row (Lucene
    norms-with-postings). An array-expression RLE (aggregate fold over
    sort_array) measured ~2x SLOWER than a codegen hash aggregate —
    do not retry; the win comes from Arrow, not from the fold."""
    enc = encode_tf(
        base, text_col, keep=["doc_id", *carry], positions=keep_positions
    )
    if persist:
        from pyspark import StorageLevel

        enc = enc.persist(StorageLevel.MEMORY_AND_DISK)
    val = "positions" if keep_positions else "tfs"
    rows = enc.select(
        "doc_id", "dl", F.explode(F.arrays_zip("terms", val)).alias("_p")
    ).select(
        F.col("_p.terms").alias("term"),
        "doc_id",
        F.col(f"_p.{val}").alias("positions" if keep_positions else "tf"),
        "dl",
        F.pmod(F.xxhash64("_p.terms"), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return enc, rows


def build_index(
    docs: DataFrame,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    keep_positions: bool = True,
    source_cols: tuple[str, ...] = (),
    cache: bool = True,
) -> IndexTables:
    """Build the inverted index as DataFrames.

    If ``doc_id_col`` is given, it is used verbatim (e.g. the testdata
    ``documents.doc_id``); otherwise doc_id = xxhash64(*id_cols).

    With cache=True (default) the tf rows (the prox rows when
    keep_positions) are persisted (MEMORY_AND_DISK):
    postings/terms/doc_norms/stats all derive from them, so without
    caching every downstream action re-runs the encode pass. At cluster
    scale, where tf may exceed cluster memory, persist() spills to local
    disk per executor — or write postings first and derive the rest
    from the persisted parquet (build_and_write_index).
    """
    base = doc_base(docs, text_col, id_cols, doc_id_col)
    # with positions, postings derive tf = size(positions) from the
    # SAME rows, so the encode pass runs once whichever streams are
    # kept; dl is denormalized into prox rows too, so phrase queries
    # score from a single positions scan without touching postings.
    _, rows = encode_postings(
        base, text_col, n_buckets, keep_positions=keep_positions
    )

    cached: tuple = ()
    if cache:
        from pyspark import StorageLevel

        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        cached = (rows,)
    positions = None
    tfd = rows
    if keep_positions:
        positions = rows
        # postings project off the cached prox rows — column pruning
        # drops the arrays for every counts-only consumer
        tfd = positions.select(
            "term",
            "doc_id",
            F.size("positions").cast("int").alias("tf"),
            "dl",
            "bucket",
        )

    # doc_norms from the CACHED tf (not from the encoder: that would
    # re-run the analyzer over the whole corpus on every doc_norms
    # action); docs with no tokens have no rows and take dl=0
    dl = tfd.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    keep = ["doc_id", "dl", "content_sha", *source_cols]
    doc_norms = base.join(dl, "doc_id", "left").na.fill({"dl": 0}).select(*keep)

    postings = tfd
    terms = tfd.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    agg = doc_norms.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avg_dl")
    ).collect()[0]

    return IndexTables(
        postings=postings,
        terms=terms,
        doc_norms=doc_norms,
        n_docs=int(agg["n"]),
        avg_dl=float(agg["avg_dl"] or 0.0),
        n_buckets=n_buckets,
        positions=positions,
        terms_rev=terms_rev_frame(terms),
        _cached=cached,
    )


# The bucketed tables shuffle into n_buckets * WRITE_FANOUT partitions
# keyed (bucket, sub-hash(term)) before the partitionBy(bucket) write.
# Why not plain repartition(n_buckets, "bucket"): (a) 32 keys hashed
# into 32 partitions collide (Poisson: ~1/e partitions empty, others
# carry 2-3 buckets), and (b) bucket sizes are skewed ~2.6x by the Zipf
# term mass, so the one hot bucket gates the whole write stage. The
# sub-key is a DIFFERENT hash of term (seeded by a literal — pmod of
# the same xxhash64 would be fully determined by the bucket and split
# nothing), so each bucket splits into `fanout` term-disjoint chunks:
# measured 1.9x faster and run-to-run stable at 5x bench scale. Each
# chunk keeps whole terms and stays (term, doc_id)-sorted, so per-file
# row-group pruning and sequential posting reads are unchanged; a
# bucket directory just holds `fanout` files instead of one.
# Default 8 (r7, was 4): with the single-shuffle arrow build the
# sort+write stage became straggler-bound (task_max 2.6 s vs 0.3 s
# mean at 240k); fanout 8 halved the stage wall (3.1 -> 1.9 s,
# task_max 1.4 s) while fanout 16 gained nothing further and doubles
# the file count. Env-overridable for cluster layouts.
WRITE_FANOUT = int(os.environ.get("SPARK_GRAFT_WRITE_FANOUT", "8"))

# Parquet row-group size for index tables. Default 128MB row groups make
# a bucket file ONE unsplittable scan unit (parquet can't split below
# row-group granularity) — a single-term positions/postings scan then
# caps at #files map tasks regardless of cores. 8MB row groups restore
# scan parallelism (measured: dense-phrase positions join 2.07s -> 1.42s
# at 1.2M docs) AND sharpen per-row-group term min/max pruning; the
# footer-metadata overhead is negligible at these schema widths.
ROW_GROUP_BYTES = 8 * 1024 * 1024


def _bucketed_sorted(
    df: DataFrame,
    n_buckets: int,
    fanout: int = WRITE_FANOUT,
    sort_cols: tuple[str, ...] = ("term", "doc_id"),
):
    if fanout <= 1:
        part = df.repartition(n_buckets, "bucket")
    else:
        sub = F.pmod(
            F.xxhash64(F.lit("fanout"), F.col("term")), F.lit(fanout)
        ).cast("int")
        part = df.repartition(n_buckets * fanout, F.col("bucket"), sub)
    # bucket FIRST: FileFormatWriter requires task rows ordered by the
    # partition columns and inserts its own sort-by-(bucket) when the
    # ordering doesn't already lead with them — and that inserted sort
    # is NOT stable, silently scrambling the (term, doc_id) order the
    # row-group pruning claim rests on (caught by
    # tests/test_build_paths.py::test_fanout_write_layout_invariants).
    # Leading with bucket satisfies the requirement, so the writer adds
    # nothing and files keep exact (term, doc_id) order per bucket.
    return part.sortWithinPartitions("bucket", *sort_cols)


def terms_rev_frame(terms: DataFrame) -> DataFrame:
    """(rev, term, df) projection of the dictionary — rev = reverse(term).
    A pure column projection: free to derive, only worth PERSISTING
    (write_index does) because the range-partitioned parquet layout
    turns `*suffix` into a pruned prefix scan (Lucene reversed-field)."""
    return terms.select(F.reverse(F.col("term")).alias("rev"), "term", "df")


def write_terms_rev(terms: DataFrame, path: str) -> None:
    """Persist the reversed-term dictionary range-partitioned and sorted
    by rev: a `*suffix` query scans rev in [rev(suffix), rev(suffix)+MAX)
    — file pruning via the range layout, row-group pruning via parquet
    min/max on the sorted column."""
    (
        terms_rev_frame(terms)
        .repartitionByRange(8, "rev")
        .sortWithinPartitions("rev")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "terms_rev"))
    )


def write_index(tables: IndexTables, path: str) -> None:
    """Persist the index. postings partitioned by term bucket so query-
    time term lookups prune to single directories; rows sorted by
    (term, doc_id) within files for row-group min/max pruning and for
    sequential posting-list reads."""
    (
        _bucketed_sorted(tables.postings, tables.n_buckets)
        .write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )
    tables.terms.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(path, "terms")
    )
    write_terms_rev(tables.terms, path)
    tables.doc_norms.write.mode("overwrite").parquet(os.path.join(path, "doc_norms"))
    if tables.positions is not None:
        (
            _bucketed_sorted(tables.positions, tables.n_buckets)
            .write.mode("overwrite")
            .option("parquet.block.size", ROW_GROUP_BYTES)
            .partitionBy("bucket")
            .parquet(os.path.join(path, "positions"))
        )
    stats = {
        "n_docs": tables.n_docs,
        "avg_dl": tables.avg_dl,
        "n_buckets": tables.n_buckets,
    }
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(stats, f)


def build_and_write_index(
    docs: DataFrame,
    path: str,
    text_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    source_cols: tuple[str, ...] = (),
    cache_tokens: bool = True,
) -> IndexTables:
    """Single-pass build-to-disk: the heavy tokenize→tf→dl pipeline runs
    ONCE, writing postings directly; terms / doc_norms / stats then
    derive from the WRITTEN postings parquet (cheap column-pruned
    re-reads) instead of recomputing the analyzer chain.

    cache_tokens=True persists the encoded doc projection
    (doc_id, content_sha, sources, dl, terms, tfs) DURING pass 1, so the
    doc_norms derivation is a cache scan instead of a postings
    groupBy(doc_id) — that groupBy gets no map-side reduction (a doc's
    terms spread over every partition, so partial agg emits ~P copies
    of each doc row) plus a corpus re-scan with a second sha256 pass.
    MEMORY_AND_DISK: at cluster scale the cache spills to executor-local
    SSD (cost ≈ one extra local write of the tokenized corpus); set
    cache_tokens=False on memory/disk-constrained clusters to fall back
    to the postings-derived path.

    This is the cluster-scale shape (tf may exceed cluster memory; the
    written table IS the checkpoint) and minimizes serial job count —
    the bench path. Returns the same IndexTables as read_index(path).
    """
    spark = docs.sparkSession
    base = doc_base(docs, text_col, id_cols, doc_id_col)
    # ONE shuffle for the whole heavy pass: encode_postings (analyzer +
    # per-doc tf in a single mapInArrow stage) feeds the bucket-layout
    # repartition directly
    enc, tfd = encode_postings(
        base,
        text_col,
        n_buckets,
        carry=("content_sha", *source_cols),
        persist=cache_tokens,
    )
    cached_src = enc if cache_tokens else None

    # pass 1 (the only heavy one): postings straight to disk, hot
    # buckets split by the term-sub-hash fanout (see _bucketed_sorted)
    (
        _bucketed_sorted(tfd, n_buckets)
        .write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )

    # derivations read back only the columns they need; terms and
    # doc_norms are independent, so their jobs run CONCURRENTLY (the
    # serial tail is pure Amdahl loss — it costs the same wall time at
    # every cluster size and so caps scaling efficiency). n_docs/avg_dl
    # ride the doc_norms WRITE as an Observation (query-metric
    # accumulators): the former separate stats job is gone entirely.
    import threading

    from pyspark.sql import Observation

    postings = spark.read.schema(
        "term string, doc_id bigint, tf int, dl int, bucket int"
    ).parquet(os.path.join(path, "postings"))
    obs = Observation("index_stats")

    def _write_terms():
        # ONE dictionary aggregation persisted, then the forward and
        # reversed writes run CONCURRENTLY from the cache (serializing
        # terms_rev behind a re-read of the written terms measured
        # +0.3s on the 240k bench build — pure fixed overhead this
        # nested fan-out removes). df aggregates from the encoded-doc
        # CACHE when present (one row per (doc, term) after explode —
        # identical counts): the cache scan prunes to the terms column
        # and skips re-reading the just-written postings parquet (r7).
        if cached_src is not None:
            term_src = cached_src.select(F.explode("terms").alias("term"))
        else:
            term_src = postings.select("term")
        tdf = (
            term_src.groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
            .persist()
        )
        inner_errs: list[BaseException] = []

        def _guard(fn):
            def run():
                try:
                    fn()
                except BaseException as e:  # re-raised below
                    inner_errs.append(e)

            return run

        try:
            threads2 = [
                threading.Thread(
                    target=_guard(
                        lambda: tdf.coalesce(8)
                        .write.mode("overwrite")
                        .parquet(os.path.join(path, "terms"))
                    )
                ),
                threading.Thread(
                    target=_guard(lambda: write_terms_rev(tdf, path))
                ),
            ]
            for t in threads2:
                t.start()
            for t in threads2:
                t.join()
            if inner_errs:
                raise inner_errs[0]
        finally:
            tdf.unpersist()

    def _write_doc_norms():
        keep = ["doc_id", "dl", "content_sha", *source_cols]
        if cached_src is not None:
            # cache scan (populated by pass 1): no postings groupBy, no
            # corpus re-scan, no second sha256 pass
            doc_norms = cached_src.select(*keep)
        else:
            dl = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
            doc_norms = (
                base.join(dl, "doc_id", "left").na.fill({"dl": 0}).select(*keep)
            )
        # coalesce(32): 192 scan-split tasks each wrote a ~100 KB file —
        # small-files on every downstream doc_norms scan (guide §6);
        # the cache scan feeding this is trivial so wider parallelism
        # buys nothing
        doc_norms.coalesce(32).observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avg_dl")
        ).write.mode("overwrite").parquet(os.path.join(path, "doc_norms"))

    errs: list[BaseException] = []

    def _run(fn):
        try:
            fn()
        except BaseException as e:  # surfaced after join
            errs.append(e)

    threads = [
        threading.Thread(target=_run, args=(f,))
        for f in (_write_terms, _write_doc_norms)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]

    agg = obs.get
    stats = {
        "n_docs": int(agg["n"]),
        "avg_dl": float(agg["avg_dl"] or 0.0),
        "n_buckets": n_buckets,
    }
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(stats, f)
    if cached_src is not None:
        cached_src.unpersist()
    # the writer knows every table's schema — passing them to the
    # read-back skips one footer schema-inference job per table (4
    # driver-side jobs of pure fixed cost per build, r7)
    src_fields = ", " + ddl_fields(base.schema, source_cols) if source_cols else ""
    return read_index(
        spark,
        path,
        _schemas={
            "postings": "term string, doc_id bigint, tf int, dl int, bucket int",
            "terms": "term string, df bigint",
            "terms_rev": "rev string, term string, df bigint",
            "doc_norms": "doc_id bigint, dl int, content_sha string" + src_fields,
        },
    )


def read_index(
    spark: SparkSession, path: str, _schemas: dict | None = None
) -> IndexTables:
    """Open a written index. ``_schemas`` (writer-internal) supplies
    known table schemas so the reads skip parquet footer inference —
    semantics are identical; an absent/partial dict falls back to
    inference per table."""
    with open(os.path.join(path, "stats.json")) as f:
        stats = json.load(f)
    sch = _schemas or {}

    def _read(name: str):
        r = spark.read
        if name in sch:
            r = r.schema(sch[name])
        return r.parquet(os.path.join(path, name))

    pos_path = os.path.join(path, "positions")
    positions = _read("positions") if os.path.isdir(pos_path) else None
    rev_path = os.path.join(path, "terms_rev")
    terms_rev = _read("terms_rev") if os.path.isdir(rev_path) else None
    return IndexTables(
        postings=_read("postings"),
        terms=_read("terms"),
        doc_norms=_read("doc_norms"),
        n_docs=stats["n_docs"],
        avg_dl=stats["avg_dl"],
        n_buckets=stats["n_buckets"],
        positions=positions,
        terms_rev=terms_rev,
    )
