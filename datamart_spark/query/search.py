"""Top-level search facade — the engine's analog of the reference's
``POST /api/v1/search`` (apiserver/apiserver/search/__init__.py:429-604).

Composes, in reference order: query analysis (same analyzer as index
time) → non-scoring filter context (lang equality, warc_ts range —
search/__init__.py:79-105,185-256) → BM25 scoring with AND semantics
(operator:'and', search/__init__.py:67) → top-k (k=50 default,
search/base.py:1) → metadata hydration (the reference fetches each
hit's full document via es.get, join.py:530; here one broadcast join
against doc_stats).

A warm single search runs three Spark jobs: the term-pruned postings
scan's map stage (the shuffle into per-shard groups), the per-shard
kernel whose ≤k merged hits are collected for the broadcast, and the
hydration take (doc_stats streamed past the broadcast hits into one
TakeOrderedAndProject).  The driver side adds no job: the snapshot
manifest, idf lookup and doc_stats handle (``read_snapshot``,
memoized per snapshot) come from files and memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.catalog import IndexCatalog
from .batch import bm25_topk_batch
from .phrase import bm25_phrase_topk
from .wand import bm25_topk_blockmax

TOP_K_SIZE = 50  # reference search/base.py:1
PAGE_SIZE = 200  # reference union-search page (union.py:131-159)


def paginate(df: DataFrame, order_cols: list[str], page_size: int = PAGE_SIZE,
             after: tuple | None = None) -> DataFrame:
    """W5 pagination scan — the reference loops ES ``from_``/``size``
    pages (union.py:131-159 page=200; common.py:254-267 page=10000).
    Offset pagination re-executes and discards O(pages²) rows at scale;
    this is the KEYSET form: ``after`` is the previous page's last key
    tuple, pushed down as a lexicographic range predicate so every page
    is one pruned scan + TakeOrderedAndProject.  ``order_cols`` must be
    a unique key (pass a tiebreaker column last)."""
    out = df
    if after is not None:
        cond = None
        for i, c in enumerate(order_cols):
            this = F.col(c) > F.lit(after[i])
            for j in range(i):
                this = this & (F.col(order_cols[j]) == F.lit(after[j]))
            cond = this if cond is None else (cond | this)
        out = out.where(cond)
    return out.orderBy(*[F.asc(c) for c in order_cols]).limit(page_size)


def search(
    spark: SparkSession,
    catalog: IndexCatalog,
    query: str,
    k: int = TOP_K_SIZE,
    lang: str | None = None,
    ts_lo=None,
    ts_hi=None,
    or_mode: bool = False,
    phrase: bool = False,
    slop: int = 0,
) -> DataFrame:
    """Ranked search returning (doc_id, url, lang, warc_ts, score).

    ``phrase=True`` treats ``query`` as an ordered token sequence
    against a positional index (``slop`` extra tokens allowed between
    first and last, Lucene 1/(gap+1) weighting — see
    ``bm25_phrase_topk``); ``or_mode`` is keyword-only."""
    if phrase:
        if or_mode:
            raise ValueError("or_mode does not apply to phrase queries")
        hits = bm25_phrase_topk(
            spark, catalog, query, k=k, slop=slop, lang=lang,
            ts_lo=ts_lo, ts_hi=ts_hi,
        )
    elif slop:
        raise ValueError("slop requires phrase=True")
    else:
        hits = bm25_topk_blockmax(
            spark, catalog, query, k=k, lang=lang, ts_lo=ts_lo, ts_hi=ts_hi,
            or_mode=or_mode,
        )
    ds = catalog.read_snapshot(spark, "doc_stats")
    meta_cols = [c for c in ("url", "lang", "warc_ts") if c in ds.columns]
    if meta_cols:
        # broadcast the ≤k-row hits side: doc_stats (10^12 rows at
        # target scale) must never be shuffled to hydrate 50 hits — the
        # broadcast hash join streams doc_stats partitions map-side
        # (plan-asserted in tests/test_plans.py)
        hits = (
            F.broadcast(hits).join(ds.select("doc_id", *meta_cols), "doc_id")
            .select("doc_id", *meta_cols, "score")
        )
    # sort+limit compiles to ONE TakeOrderedAndProject job; a bare
    # orderBy would range-partition the join output (a map stage over
    # doc_stats, a sampling job scanning it again, then the result job)
    # to order ≤k rows.  The limit drops nothing: hits are already ≤k.
    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_many(
    spark: SparkSession,
    catalog: IndexCatalog,
    queries: list[dict],
    k: int = TOP_K_SIZE,
) -> DataFrame:
    """Bulk ranked search: the whole query batch (per-query AND/OR mode
    and lang/ts filters — see ``bm25_topk_batch``) in ONE postings
    scan, hydrated with one broadcast join.  Returns (query_id, doc_id,
    url, lang, warc_ts, score), each query's hits ordered (score desc,
    doc_id asc).  The reference answers one ``POST /api/v1/search`` per HTTP
    request; a bulk evaluation client looping that endpoint pays N
    round-trips + N ES requests — this is the engine-side batch form
    of the same semantics (apiserver/apiserver/search/__init__.py:
    429-604 per query, rank-identical per tests/test_batch_queries.py).
    """
    hits = bm25_topk_batch(spark, catalog, queries, k=k)
    ds = catalog.read_snapshot(spark, "doc_stats")
    meta_cols = [c for c in ("url", "lang", "warc_ts") if c in ds.columns]
    if not meta_cols:
        return hits
    # hits ≤ k·Q rows — broadcast it; doc_stats is never shuffled
    return (
        F.broadcast(hits).join(ds.select("doc_id", *meta_cols), "doc_id")
        .select("query_id", "doc_id", *meta_cols, "score")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )
