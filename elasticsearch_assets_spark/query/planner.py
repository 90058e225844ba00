"""AST → DataFrame physical plan (the engine's "query frontend").

Translates parser ASTs into DataFrame plans over the inverted index
(text fields, BM25-scored) and the doc store (keyword/numeric fields,
filter context).

Scoring semantics (scope-pinned per SURVEY.md §7.5 to the forms the
reference emits, documented deviations noted):

- text Term            BM25 contribution (Lucene defaults)
- text Phrase          consecutive-position filter, BM25 over members
- text Wildcard        constant_score 1.0 (the ES multi-term rewrite)
- text Fuzzy           dictionary expansion ≤ max_edits, BM25 OR over
                       expansions (deviation: Lucene blends idf through
                       its top-N rewrite and weights by distance)
- Boost                child score × factor
- Exists               field IS NOT NULL, filter context
- keyword Term/Wildcard/Regexp/Range/Fuzzy   filter context, score 1.0
- Or                   union; scores of matching clauses SUM (ES should)
- And                  intersection; scores SUM (ES must)
- Not                  anti-join exclusion (score 0 contribution)

Every clause evaluates to (doc_id, score); combinators merge with one
shuffle per level (union + groupBy), scores folded in clause order for
deterministic float association. Final ordering: (score desc, doc_id
asc) — the ES tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import analyze_text
from elasticsearch_assets_spark.indexing.build import IndexTables
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query.parser import (
    And,
    Boost,
    Exists,
    Fuzzy,
    Must,
    Node,
    Not,
    Or,
    Phrase,
    Range,
    Regexp,
    Term,
    Wildcard,
    parse,
)


@dataclass
class PlannerConfig:
    default_field: str = "content"
    text_fields: tuple[str, ...] = ("content", "text")


class QueryPlanner:
    """Plans query-string ASTs against an index + attribute table.

    ``attrs`` is the doc store: (doc_id, <keyword/numeric columns>) —
    typically IndexTables.doc_norms built with source_cols.
    """

    def __init__(
        self,
        index: IndexTables | None,
        attrs: DataFrame | None = None,
        config: PlannerConfig | None = None,
    ):
        if index is None and attrs is None:
            raise ValueError("need an index, an attrs table, or both")
        self.index = index
        self.attrs = attrs if attrs is not None else index.doc_norms
        self.config = config or PlannerConfig()
        if index is None:
            # attrs-only mode (the spaces_reader S3 frontend: xLucene
            # filter strings over a plain table, no scored text fields)
            self.config = PlannerConfig(
                default_field=self.config.default_field, text_fields=()
            )

    # -- public ---------------------------------------------------------
    def query_string(self, q: str, k: int = 10) -> DataFrame:
        ast = parse(q, default_field=self.config.default_field)
        scored = self.plan(ast)
        return qx.top_k(scored, k)

    def count(self, q: str) -> int:
        ast = parse(q, default_field=self.config.default_field)
        return self.plan(ast).count()

    # -- AST dispatch ----------------------------------------------------
    def plan(self, node: Node) -> DataFrame:
        """Evaluate to (doc_id double score). The dfs of every text
        Term/Phrase leaf are looked up first in ONE term_dfs call, so
        the leaves plan from the df cache instead of issuing one
        dictionary job each."""
        if self.index is not None:
            terms = sorted(set(self._text_leaf_terms(node)))
            if terms:
                qx.term_dfs(self.index, terms)
        return self._plan(node)

    def _text_leaf_terms(self, node: Node):
        """Analyzed terms of the text Term/Phrase leaves under node."""
        if isinstance(node, Term) and self._is_text(node.field):
            yield from analyze_text(node.value)
        elif isinstance(node, Phrase) and self._is_text(node.field):
            yield from analyze_text(node.text)
        for child in getattr(node, "children", ()):
            yield from self._text_leaf_terms(child)
        if getattr(node, "child", None) is not None:
            yield from self._text_leaf_terms(node.child)

    def _plan(self, node: Node) -> DataFrame:
        if isinstance(node, Term):
            return self._term(node)
        if isinstance(node, Phrase):
            return self._phrase(node)
        if isinstance(node, Wildcard):
            return self._wildcard(node)
        if isinstance(node, Regexp):
            return self._regexp(node)
        if isinstance(node, Range):
            return self._range(node)
        if isinstance(node, Fuzzy):
            return self._fuzzy(node)
        if isinstance(node, Boost):
            # multiply the child's score; filter-context children keep
            # their constant 1.0 * factor (Lucene boost semantics)
            child = self._plan(node.child)
            return child.select(
                "doc_id", (F.col("score") * F.lit(node.factor)).alias("score")
            )
        if isinstance(node, Exists):
            return self._attr_filter(F.col(node.field).isNotNull())
        if isinstance(node, Or):
            return self._combine(list(node.children), require_all=False)
        if isinstance(node, And):
            return self._combine(list(node.children), require_all=True)
        if isinstance(node, Not):
            return self._not(node)
        if isinstance(node, Must):
            # a lone required clause is just the clause; the modifier
            # only changes semantics inside a combinator (see _combine)
            return self._plan(node.child)
        raise TypeError(f"unknown AST node {node!r}")

    # -- leaves -----------------------------------------------------------
    def _field(self, f: str | None) -> str:
        return f or self.config.default_field

    def _is_text(self, f: str | None) -> bool:
        return self._field(f) in self.config.text_fields

    def _term(self, node: Term) -> DataFrame:
        f = self._field(node.field)
        if self._is_text(f):
            terms = sorted(set(analyze_text(node.value)))
            s = qx.scored_terms(self.index, terms)
            if len(terms) > 1:
                # analyzer split the value (e.g. parseDate) — all parts
                # must be present, like ES match with the analyzed chain
                s = s.where(F.col("n_matched") == len(terms))
            return s.select("doc_id", "score")
        return self._attr_filter(F.col(f).cast("string") == node.value)

    def _phrase(self, node: Phrase) -> DataFrame:
        f = self._field(node.field)
        if self._is_text(f):
            return qx.phrase_query(
                self.index, node.text, k=2**31 - 1, slop=node.slop
            ).select("doc_id", "score")
        # keyword phrase: exact value match; slop is meaningless on an
        # unanalyzed field (ES ignores it there too)
        return self._attr_filter(F.col(f).cast("string") == node.text)

    def _wildcard(self, node: Wildcard) -> DataFrame:
        f = self._field(node.field)
        if self._is_text(f):
            return qx.wildcard_query(self.index, node.pattern, k=2**31 - 1).select(
                "doc_id", "score"
            )
        pat = qx._glob_to_regex(node.pattern)
        return self._attr_filter(F.col(f).cast("string").rlike(f"^{pat}$"))

    def _fuzzy(self, node: Fuzzy) -> DataFrame:
        f = self._field(node.field)
        if self._is_text(f):
            # text path: dictionary expansion within max_edits, BM25 OR
            # over the expansions (scale-safe: large expansions stay
            # distributed — exec.scored_expansion)
            return qx.fuzzy_query(
                self.index, node.value, node.max_edits, k=2**31 - 1
            ).select("doc_id", "score")
        # keyword path: no analysis, case-sensitive levenshtein filter
        return self._attr_filter(
            F.levenshtein(
                F.col(f).cast("string"), F.lit(node.value), node.max_edits
            )
            >= 0
        )

    def _regexp(self, node: Regexp) -> DataFrame:
        f = self._field(node.field)
        anchored = f"^{node.pattern}$"
        if self._is_text(f):
            # scale-safe expansion: small hit sets collect (static bucket
            # pruning); large ones semi-join postings on (bucket, term)
            hits = qx.dict_hits_regexp(self.index, node.pattern)
            cand = qx.expanded_candidates(self.index, hits)
            return (
                cand.select("doc_id").distinct().withColumn("score", F.lit(1.0))
            )
        return self._attr_filter(F.col(f).cast("string").rlike(anchored))

    def _range(self, node: Range) -> DataFrame:
        f = self._field(node.field)
        col = F.col(f)
        # numeric if both bounds parse as numbers, else string/timestamp
        # compare (ISO dates compare correctly as strings; timestamp
        # columns get the bound cast by Spark)
        def bound(v):
            try:
                float(v)
                return F.lit(float(v))
            except (TypeError, ValueError):
                return F.lit(v)

        conds = []
        if node.lo is not None:
            b = bound(node.lo)
            conds.append(col >= b if node.incl_lo else col > b)
        if node.hi is not None:
            b = bound(node.hi)
            conds.append(col <= b if node.incl_hi else col < b)
        if not conds:
            cond = F.lit(True)
        else:
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
        return self._attr_filter(cond)

    def _attr_filter(self, cond) -> DataFrame:
        return self.attrs.where(cond).select("doc_id").withColumn(
            "score", F.lit(1.0)
        )

    def _empty(self) -> DataFrame:
        return (
            self.attrs.select("doc_id").limit(0).withColumn("score", F.lit(1.0))
        )

    # -- combinators --------------------------------------------------------
    def _combine(self, children: list, require_all: bool) -> DataFrame:
        positives: list[DataFrame] = []
        must_flags: list[bool] = []
        negatives: list[DataFrame] = []
        for child in children:
            if isinstance(child, Not):
                # ES/Lucene query_string semantics: NOT inside either
                # combinator is a bool-level MUST_NOT clause — `a OR NOT b`
                # matches docs matching a and excluding b (Lucene parses
                # the NOT as a top-level exclusion, not a complement
                # union operand)
                negatives.append(self._plan(child.child).select("doc_id"))
            elif isinstance(child, Must):
                # Lucene `+clause`: gates matching; the sibling should
                # clauses become optional score-adders (classic
                # `+required optional -prohibited` form)
                positives.append(self._plan(child.child))
                must_flags.append(True)
            else:
                positives.append(self._plan(child))
                must_flags.append(False)

        if not positives:
            # pure-negative query: all docs minus exclusions, score 0
            base = self.attrs.select("doc_id").withColumn("score", F.lit(0.0))
            for n in negatives:
                base = base.join(n, "doc_id", "left_anti")
            return base

        n_must = sum(must_flags)
        tagged = [
            p.select("doc_id", "score")
            .withColumn("_c", F.lit(i))
            .withColumn("_m", F.lit(1 if must_flags[i] else 0))
            for i, p in enumerate(positives)
        ]
        u = tagged[0]
        for t in tagged[1:]:
            u = u.unionByName(t)
        # deterministic clause-order fold as a chain of conditional
        # sums — each (doc, clause) contributes exactly one row, so
        # sum(when(_c = i)) is that clause's score and the chain
        # reproduces the sorted fold bit-for-bit in whole-stage codegen
        # (same rewrite as exec.scored_terms, ~2x on big unions)
        aggs = [
            F.sum(F.when(F.col("_c") == i, F.col("score"))).alias(f"_s{i}")
            for i in range(len(positives))
        ]
        agg = u.groupBy("doc_id").agg(
            *aggs,
            F.count(F.lit(1)).alias("_n"),
            F.sum("_m").alias("_nm"),
        )
        score = F.lit(0.0)
        for i in range(len(positives)):
            c = F.col(f"_s{i}")
            score = F.when(c.isNotNull(), score + c).otherwise(score)
        agg = agg.withColumn("score", score)
        if require_all:
            agg = agg.where(F.col("_n") == len(positives))
        elif n_must:
            # every required clause must match; non-must siblings only
            # add score
            agg = agg.where(F.col("_nm") == n_must)
        out = agg.select("doc_id", "score")
        for n in negatives:
            out = out.join(n, "doc_id", "left_anti")
        return out

    def _not(self, node: Not) -> DataFrame:
        base = self.attrs.select("doc_id").withColumn("score", F.lit(0.0))
        ex = self._plan(node.child).select("doc_id")
        return base.join(ex, "doc_id", "left_anti")

    # -- filter-context compilation (the spaces fast path) -----------------
    def compile_filter(self, node: Node) -> "F.Column":
        """Compile an attrs-only AST to ONE boolean Column — the
        spaces_reader fast path: a pure filter query needs no
        synthesized doc_id, no join, no shuffle; the predicate lands in
        the scan via ordinary pushdown.

        Match-set parity with plan(): combinator semantics mirror
        _combine exactly (Must gates an OR; NOT inside either
        combinator is a bool-level exclusion), and every negation is
        null-safe (`~coalesce(cond, false)`) because the join path's
        anti-join keeps null-attribute docs that a raw three-valued
        `NOT col = x` would drop. Raises on text-field clauses — those
        need the scored index plan."""
        if isinstance(node, (Term, Phrase, Wildcard, Regexp, Range, Fuzzy)):
            f = self._field(getattr(node, "field", None))
            if self._is_text(f):
                raise ValueError(
                    f"compile_filter: {f!r} is a scored text field; "
                    "use plan() for scoring clauses"
                )
        if isinstance(node, Term):
            return F.col(self._field(node.field)).cast("string") == node.value
        if isinstance(node, Phrase):
            return F.col(self._field(node.field)).cast("string") == node.text
        if isinstance(node, Wildcard):
            pat = qx._glob_to_regex(node.pattern)
            return F.col(self._field(node.field)).cast("string").rlike(f"^{pat}$")
        if isinstance(node, Regexp):
            return (
                F.col(self._field(node.field))
                .cast("string")
                .rlike(f"^{node.pattern}$")
            )
        if isinstance(node, Fuzzy):
            return (
                F.levenshtein(
                    F.col(self._field(node.field)).cast("string"),
                    F.lit(node.value),
                    node.max_edits,
                )
                >= 0
            )
        if isinstance(node, Range):
            # same bound typing as _range
            col = F.col(self._field(node.field))

            def bound(v):
                try:
                    float(v)
                    return F.lit(float(v))
                except (TypeError, ValueError):
                    return F.lit(v)

            cond = F.lit(True)
            if node.lo is not None:
                b = bound(node.lo)
                cond = cond & (col >= b if node.incl_lo else col > b)
            if node.hi is not None:
                b = bound(node.hi)
                cond = cond & (col <= b if node.incl_hi else col < b)
            return cond
        if isinstance(node, Exists):
            return F.col(node.field).isNotNull()
        if isinstance(node, Boost):
            return self.compile_filter(node.child)  # boost is score-only
        if isinstance(node, Must):
            return self.compile_filter(node.child)
        if isinstance(node, Not):
            return ~F.coalesce(self.compile_filter(node.child), F.lit(False))
        if isinstance(node, (And, Or)):
            positives, musts, negatives = [], [], []
            for child in node.children:
                if isinstance(child, Not):
                    negatives.append(self.compile_filter(child.child))
                elif isinstance(child, Must):
                    musts.append(self.compile_filter(child.child))
                else:
                    positives.append(self.compile_filter(child))
            if isinstance(node, And):
                musts = musts + positives
                positives = []
            if musts:
                # required clauses gate; bare siblings only add score
                cond = musts[0]
                for c in musts[1:]:
                    cond = cond & c
            elif positives:
                cond = positives[0]
                for c in positives[1:]:
                    cond = cond | c
            else:
                cond = F.lit(True)  # pure-negative: all docs minus exclusions
            for n in negatives:
                cond = cond & ~F.coalesce(n, F.lit(False))
            return cond
        raise TypeError(f"unknown AST node {node!r}")
