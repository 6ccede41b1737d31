"""Boolean query language over the inverted index: parse → evaluate → rank.

The user-facing query surface of a fulltext engine: ``spark AND (join OR
window) NOT slow``, with Lucene-style semantics (the reference exposes its
search through composable query objects; a text engine's equivalent is the
boolean clause tree — MUST / SHOULD / MUST_NOT — that Lucene's
BooleanQuery models):

  * grammar     expr := and ('OR' and)* ; and := unary (('AND')? unary)* ;
                unary := 'NOT' unary | '(' expr ')' | TERM['^'boost]
                Adjacency is implicit AND; precedence NOT > AND > OR.
  * matching    a doc matches a term leaf iff the term occurs in it;
                AND/OR/NOT are set intersection/union/difference over
                doc sets. Every OR operand and at least one AND operand
                must be positive (no pure-negation queries — same
                restriction Lucene enforces without MatchAllDocsQuery).
  * scoring     matched docs score the sum over POSITIVE leaves of
                boost × the exact BM25 contribution of that leaf's term
                (MUST_NOT clauses never score — Lucene contract).
  * execution   doc-partitioned segments decide match + score locally
                (all of a doc's postings live in its segment); per-segment
                bounded top-k partials merge globally, so the shuffle
                stays ≤ n_queries × k × n_tasks rows at any corpus size.

``ast_to_sql`` emits the equivalent DuckDB predicate (``bool_or`` per leaf
under ``GROUP BY doc_id HAVING ...``) so every boolean query is oracle-
checkable end-to-end.

Reference parity anchors: clause trees and two-phase match/score
(jvector-base/.../graph/GraphSearcher.java:192-214 filtered search,
SearchResult.java:101-106 tie-break contract).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jvector_spark.operators.wand import (
    IndexSnapshot, accumulate, global_term_stats, idf_map, intersect, live,
    open_segments, term_contrib, term_postings, topk_after, topk_partial,
)

# --- AST ------------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    text: str
    boost: float = 1.0


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: "Term | And | Or"


Node = Term | And | Or | Not

_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")


class QueryParseError(ValueError):
    pass


def _tokenize(q: str) -> list[str]:
    return _TOKEN_RE.findall(q)


class _Parser:
    """Recursive descent over the token list; NOT > AND(implicit) > OR."""

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise QueryParseError("unexpected end of query")
        self.i += 1
        return t

    def parse(self) -> Node:
        node = self.expr()
        if self.peek() is not None:
            raise QueryParseError(f"trailing token {self.peek()!r}")
        return node

    def expr(self) -> Node:
        kids = [self.conj()]
        while self.peek() == "OR":
            self.next()
            kids.append(self.conj())
        return kids[0] if len(kids) == 1 else Or(tuple(kids))

    def conj(self) -> Node:
        kids = [self.unary()]
        while True:
            t = self.peek()
            if t == "AND":
                self.next()
                kids.append(self.unary())
            elif t is not None and t not in ("OR", ")"):
                kids.append(self.unary())  # adjacency = implicit AND
            else:
                break
        return kids[0] if len(kids) == 1 else And(tuple(kids))

    def unary(self) -> Node:
        t = self.next()
        if t == "NOT":
            return Not(self.unary())
        if t == "(":
            node = self.expr()
            if self.next() != ")":
                raise QueryParseError("expected ')'")
            return node
        if t == ")":
            raise QueryParseError("unexpected ')'")
        if t in ("AND", "OR"):
            raise QueryParseError(f"operator {t!r} needs a left operand")
        if "^" in t:
            text, _, b = t.partition("^")
            try:
                boost = float(b)
            except ValueError:
                raise QueryParseError(f"bad boost in {t!r}") from None
            if not text:
                raise QueryParseError(f"bad term {t!r}")
            return Term(text, boost)
        return Term(t)


def parse_query(q: str) -> Node:
    """Parse + validate. Raises QueryParseError on syntax errors, pure-
    negation queries, or NOT directly under OR (un-scorable without a
    match-all scan — same restriction as Lucene BooleanQuery)."""
    node = _Parser(_tokenize(q)).parse()
    if isinstance(node, Not):
        raise QueryParseError("query needs at least one positive clause")
    _validate(node)
    return node


def _validate(node: Node, under_or: bool = False) -> None:
    if isinstance(node, Term):
        return
    if isinstance(node, Not):
        if under_or:
            raise QueryParseError("NOT directly under OR is not scorable")
        if isinstance(node.child, Not):
            raise QueryParseError("double negation; rewrite the query")
        _validate(node.child, under_or=False)
        return
    if isinstance(node, Or):
        for c in node.children:
            if isinstance(c, Not):
                raise QueryParseError("NOT directly under OR is not scorable")
            _validate(c, under_or=True)
        return
    if isinstance(node, And):
        if all(isinstance(c, Not) for c in node.children):
            raise QueryParseError("query needs at least one positive clause")
        for c in node.children:
            _validate(c, under_or=False)
        return
    raise QueryParseError(f"unknown node {node!r}")


def positive_leaves(node: Node) -> list[Term]:
    """All scoring leaves (term, boost) — everything not under a NOT —
    in canonical (term, boost) order (oracle summation parity)."""
    out: list[Term] = []

    def walk(n: Node, neg: bool) -> None:
        if isinstance(n, Term):
            if not neg:
                out.append(n)
        elif isinstance(n, Not):
            walk(n.child, True)
        else:
            for c in n.children:
                walk(c, neg)

    walk(node, False)
    return sorted(out, key=lambda t: (t.text, t.boost))


def all_terms(node: Node) -> list[str]:
    """Every distinct term referenced (incl. negated — the oracle's tf
    scan and the engine's posting reads both need them)."""
    out: set[str] = set()

    def walk(n: Node) -> None:
        if isinstance(n, Term):
            out.add(n.text)
        elif isinstance(n, Not):
            walk(n.child)
        else:
            for c in n.children:
                walk(c)

    walk(node)
    return sorted(out)


# --- per-segment evaluation ----------------------------------------------


def _doc_set(node: Node, docs: dict[str, np.ndarray]) -> np.ndarray:
    """Sorted unique docids matching `node` in this segment. `docs` maps
    term -> sorted docid array (empty for absent terms)."""
    if isinstance(node, Term):
        return docs[node.text]
    if isinstance(node, Or):
        parts = [_doc_set(c, docs) for c in node.children]
        parts = [p for p in parts if len(p)]
        if not parts:
            return np.zeros(0, np.int64)
        return np.unique(np.concatenate(parts))
    if isinstance(node, And):
        # _validate guarantees >=1 positive child to intersect
        cur = intersect(_doc_set(c, docs) for c in node.children
                        if not isinstance(c, Not))
        if not len(cur):
            return cur
        for n in (c.child for c in node.children if isinstance(c, Not)):
            ex = _doc_set(n, docs)
            if len(ex):
                cur = cur[~np.isin(cur, ex, assume_unique=True)]
            if not len(cur):
                break
        return cur
    raise QueryParseError(f"unexpected node in evaluation: {node!r}")


def score_boolean_on_segment(
    reader,
    node: Node,
    idfs: dict[str, float],
    k: int,
    avgdl: float,
    tombstones: np.ndarray | None = None,
    cache: dict | None = None,
    accept: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (docids, scores) of one boolean query on one segment.

    Match = the clause tree over posting docid sets; score = Σ over
    positive leaves of boost × BM25 contribution (leaves summed in
    canonical order for oracle bit-parity). Decodes, contributions, the
    live filter and the cut go through wand's match-and-score helpers
    (term_postings, term_contrib, live, accumulate, topk_after).
    """
    if cache is None:
        cache = {}
    docs = {t: term_postings(reader, cache, t)[0] for t in all_terms(node)}
    cand = live(_doc_set(node, docs), accept, tombstones)
    scores = np.zeros(len(cand), dtype=np.float64)
    if not len(cand):
        return cand, scores
    for leaf in positive_leaves(node):
        d, c = term_contrib(reader, cache, leaf.text,
                            idfs.get(leaf.text, 0.0), avgdl)
        accumulate(scores, cand, d, leaf.boost * c)
    return topk_after(cand, scores, k)


# --- distributed search ---------------------------------------------------


def boolean_search_index(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """Distributed boolean top-k over a segment index.

    queries: pandas (qid:int, query:str, k:int). ASTs parse once on the
    driver (syntax errors surface before any job launches) and broadcast.
    Returns (qid, rank, docid, score).
    """
    qa = queries[["qid", "k"]].assign(
        ast=[parse_query(str(q)) for q in queries["query"]])
    # positive terms drive the bloom skip too: every match has >=1
    # positive term (negated terms never create matches)
    pos_terms = sorted({leaf.text for a in qa["ast"]
                        for leaf in positive_leaves(a)})
    snap = IndexSnapshot(index_dir)
    avgdl = snap.manifest["avgdl"]
    idfs = idf_map(snap.manifest["n_docs"],
                   global_term_stats(spark, index_dir, pos_terms,
                                     snap.manifest)
                   if pos_terms else {})

    def kernel(paths, tomb, payload):
        q, idfs_l = payload
        yield topk_partial(
            open_segments(paths, tomb, pos_terms, doc_filter), q,
            lambda seg, r, top: score_boolean_on_segment(
                seg.reader, r.ast, idfs_l, top.k, avgdl, seg.tombstones,
                seg.cache, seg.accept))

    return snap.scatter_topk(spark, kernel, (qa, idfs), "score", merge,
                             num_tasks)


# --- oracle SQL generation ------------------------------------------------


def _sql_quote(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def ast_to_sql_predicate(node: Node) -> str:
    """The match predicate as a HAVING clause over per-doc term presence:
    each leaf becomes bool_or(term = 'x') under GROUP BY doc_id (the tf
    scan must include every referenced term, see all_terms)."""
    if isinstance(node, Term):
        return f"bool_or(term = {_sql_quote(node.text)})"
    if isinstance(node, Not):
        return f"NOT ({ast_to_sql_predicate(node.child)})"
    op = " AND " if isinstance(node, And) else " OR "
    return "(" + op.join(ast_to_sql_predicate(c) for c in node.children) + ")"


def leaves_values_sql(asts: dict[int, Node]) -> str:
    """VALUES rows (qid, term, boost) for every positive leaf — the
    scoring join side of the oracle."""
    rows = [
        f"({qid}, {_sql_quote(leaf.text)}, {leaf.boost!r})"
        for qid, a in sorted(asts.items())
        for leaf in positive_leaves(a)
    ]
    return ", ".join(rows)
