"""The single-search job budget and the snapshot-memoized doc_stats
handle the query path hydrates from.

On this engine a search's latency is the number of Spark jobs it
launches (each Python-UDF task pays a fixed launch cost), so the budget
is pinned here next to the plan tests: a warm search with hits runs the
postings map stage, the kernel + broadcast of its ≤k hits, and the
hydration take — three jobs — and the query path never re-reads a
table through ``IndexCatalog.read`` (a fresh listing + schema job per
call).  Memoizing the doc_stats handle must never serve a stale
snapshot: grown builds and deletes are read back through it.
"""

import json
import os
import shutil
import uuid

import pytest

from datamart_spark.corpus import _VOCAB, generate_documents, generate_documents_pandas
from datamart_spark.index import IndexCatalog, build_index, delete_docs
from datamart_spark.query import (
    bm25_phrase_prefix_topk,
    bm25_phrase_topk,
    bm25_topk_batch,
    bm25_topk_blockmax,
    passages,
    phrase_spans,
    search,
    search_many,
)

N = 400
KEYWORD = f"{_VOCAB[45]} {_VOCAB[60]}"


@pytest.fixture(scope="module")
def pos_catalog(spark, tmp_path_factory):
    cat = IndexCatalog(str(tmp_path_factory.mktemp("jobs_index")))
    build_index(generate_documents(spark, N), cat, n_shards=4, positions=True)
    return cat


@pytest.fixture(scope="module")
def phrase():
    """Two adjacent body words of a corpus document — a phrase with hits."""
    for text in generate_documents_pandas(N)["text"]:
        words = text.split("\n")[1].split()
        if len(words) >= 2:
            return f"{words[0]} {words[1]}"
    raise AssertionError("corpus has no two-word body")


def _run_in_group(spark, fn):
    """(rows, number of Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_path_never_calls_catalog_read(spark, pos_catalog, phrase, monkeypatch):
    """Only a ``read_snapshot`` memo miss may reach ``IndexCatalog.read``."""
    calls = []
    inside_snapshot = []
    plain_read = IndexCatalog.read
    plain_read_snapshot = IndexCatalog.read_snapshot

    def counting_read(self, spark_, name):
        if not inside_snapshot:
            calls.append(name)
        return plain_read(self, spark_, name)

    def marking_read_snapshot(self, spark_, name):
        inside_snapshot.append(name)
        try:
            return plain_read_snapshot(self, spark_, name)
        finally:
            inside_snapshot.pop()

    monkeypatch.setattr(IndexCatalog, "read", counting_read)
    monkeypatch.setattr(IndexCatalog, "read_snapshot", marking_read_snapshot)
    search(spark, pos_catalog, KEYWORD, k=10).collect()
    search(spark, pos_catalog, KEYWORD, k=10, lang="en").collect()
    search(spark, pos_catalog, phrase, k=10, phrase=True).collect()
    search_many(spark, pos_catalog, [
        {"query_id": "kw", "query": KEYWORD},
        {"query_id": "f", "query": KEYWORD, "lang": "de"},
        {"query_id": "p", "query": phrase, "phrase": True},
    ], k=10).collect()
    assert calls == []


def test_warm_search_runs_at_most_three_jobs(spark, pos_catalog, phrase):
    cases = {
        "keyword": lambda: search(spark, pos_catalog, KEYWORD, k=10).collect(),
        "phrase": lambda: search(
            spark, pos_catalog, phrase, k=10, phrase=True
        ).collect(),
    }
    for name, fn in cases.items():
        fn()  # warm: memoized handles, python workers, df cache
        rows, jobs = _run_in_group(spark, fn)
        assert rows, f"{name} search found nothing — the budget needs hits"
        assert jobs <= 3, f"{name} search ran {jobs} Spark jobs"


def _doc_stats_meta(spark, cat) -> dict:
    return {
        r["doc_id"]: (r["url"], r["lang"], r["warc_ts"])
        for r in cat.read(spark, "doc_stats")
        .select("doc_id", "url", "lang", "warc_ts").collect()
    }


def test_memoized_doc_stats_follows_growth_and_delete(spark, tmp_path):
    cat = IndexCatalog(str(tmp_path / "grow"))
    n1, n2 = 300, 420
    build_index(generate_documents(spark, n1), cat, n_shards=4)
    q = _VOCAB[45]
    assert search(spark, cat, q, k=1000).collect()  # memoizes doc_stats

    build_index(generate_documents(spark, n2), cat)
    grown = search(spark, cat, q, k=1000).collect()
    corpus = generate_documents_pandas(n2).set_index("doc_id")
    new_hits = [r for r in grown if r["doc_id"] >= n1]
    assert new_hits, "no grown doc matches the query"
    for r in new_hits:
        assert r["url"] == corpus.loc[r["doc_id"], "url"]

    top = grown[0]["doc_id"]
    delete_docs(spark, cat, doc_ids=[top])
    after = search(spark, cat, q, k=1000).collect()
    assert top not in {r["doc_id"] for r in after}
    assert len(after) == len(grown) - 1
    meta = _doc_stats_meta(spark, cat)
    for r in after:
        assert (r["url"], r["lang"], r["warc_ts"]) == meta[r["doc_id"]]


def test_every_entry_point_guards_postings_format(spark, pos_catalog, phrase, tmp_path):
    root = str(tmp_path / "format1")
    shutil.copytree(pos_catalog.root, root)
    cat = IndexCatalog(root)
    snap_dir = os.path.join(root, "_snapshots")
    latest = os.path.join(snap_dir, sorted(os.listdir(snap_dir))[-1])
    with open(latest) as f:
        manifest = json.load(f)
    manifest["postings_format"] = 1
    with open(latest, "w") as f:
        json.dump(manifest, f)

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    entry_points = {
        "blockmax": lambda: bm25_topk_blockmax(spark, cat, KEYWORD),
        "batch": lambda: bm25_topk_batch(
            spark, cat, [{"query_id": "a", "query": KEYWORD}]),
        "phrase": lambda: bm25_phrase_topk(spark, cat, phrase),
        "spans": lambda: phrase_spans(spark, cat, phrase),
        "passages": lambda: passages(spark, cat, docs, phrase),
        "phrase_prefix": lambda: bm25_phrase_prefix_topk(spark, cat, phrase[:-1]),
        "search": lambda: search(spark, cat, KEYWORD),
        "search_phrase": lambda: search(spark, cat, phrase, phrase=True),
        "search_many": lambda: search_many(
            spark, cat, [{"query_id": "a", "query": KEYWORD}]),
    }
    messages = {}
    for name, call in entry_points.items():
        with pytest.raises(ValueError) as exc:
            call()
        messages[name] = str(exc.value)
    assert len(set(messages.values())) == 1, messages
    assert "postings_format 2" in next(iter(messages.values()))
