"""The benchmark's two workloads, their generated inputs and output checks.

Both workloads drive the package only through its public functions and
run the same engine lifecycle on one ``local[2]`` session, as a closed
loop with one client:

- ``index`` times the write path: a fresh positional build, a resumed
  build after the corpus grows by 10%, a delete spread over every shard,
  then a few searches that read the changes back;
- ``query`` builds once, cold, as its set-up, then times single
  ``search()`` calls, phrase searches and ``search_many`` batches.

Each workload reports every end-to-end metric (see NOTES.md for which
workload owns which).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

from checks import Tally, same_ranking
from stats import median
from tracing import Tracer

MASTER = "local[2]"
N_DOCS = 3000  # fresh-build corpus size
GROW_DOCS = N_DOCS // 10  # appended before the resumed build
DELETES_PER_SHARD = 2
PILOT_DOCS = 400  # the index workload's set-up pilot
K = 10
BLOCK = 10  # generate_query_set holds its reference mix in every block of ten
BATCH = 2 * BLOCK  # queries per search_many call
QUERY_POOL = 1000  # generate_query_set size; the seeded stream draws its blocks
ORACLE_SAMPLE = 2  # queries per run checked against bm25_topk_dataframe
PHRASE_EVERY = 2  # a phrase search follows every second single search
QUERY_BATCHES = 4  # search_many calls per block of single searches
INDEX_BATCHES = 2


# --- inputs --------------------------------------------------------------------

def corpus_path(cache_dir: str, seed: int, n: int) -> str:
    """Parquet file of ``n`` generated documents for ``seed``, cached by
    seed, size and the hash of the generator's source."""
    from datamart_spark import corpus

    with open(corpus.__file__, "rb") as f:
        src = hashlib.sha1(f.read()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"corpus-s{seed}-n{n}-{src}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        _write_corpus(tmp, seed, n)
        os.replace(tmp, path)
    return path


def _write_corpus(path: str, seed: int, n: int) -> None:
    """Documents 0..n-1 take the generator's rows ``base + j``: each seed
    reads its own window of the same Zipf corpus, with contiguous doc_ids
    as ``build_index`` requires."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datamart_spark import corpus

    base = (seed % 1_000_000) * 100_000
    rows = [corpus.make_doc(base + j) for j in range(n)]
    epoch = pd.Timestamp(corpus.EPOCH_ISO, tz="UTC")
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "url": [r.url for r in rows],
        "warc_ts": pa.array(
            [epoch + pd.Timedelta(seconds=r.warc_ts_offset) for r in rows],
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array([r.html for r in rows], pa.binary()),
        "lang": [r.lang for r in rows],
        "text": [r.text for r in rows],
    })
    pq.write_table(table, path)


def query_stream(seed: int, n: int) -> list[dict]:
    """``n`` keyword query specs in the reference mix: seeded blocks of
    ten consecutive ``generate_query_set`` rows (each block holds the
    mix: 1-3 terms, a stopword-tier term, an absent term, 30% lang and
    20% ts filters), so any whole number of blocks has the same mix."""
    import pandas as pd

    from datamart_spark.corpus import generate_query_set

    pool = generate_query_set(QUERY_POOL)
    rng = np.random.default_rng([seed, 1])
    out = []
    for block in rng.permutation(QUERY_POOL // BLOCK):
        for _, q in pool.iloc[block * BLOCK:(block + 1) * BLOCK].iterrows():
            out.append({
                "query_id": str(q["query_id"]),
                "query": q["query"],
                "lang": q["lang_filter"] if isinstance(q["lang_filter"], str) else None,
                "ts_lo": q["ts_lo"] if pd.notna(q["ts_lo"]) else None,
                "ts_hi": q["ts_hi"] if pd.notna(q["ts_hi"]) else None,
            })
        if len(out) >= n:
            break
    return out[:n]


def phrase_stream(texts: list[str], seed: int, n: int) -> list[tuple[str, int]]:
    """``n`` two-word phrases from the corpus body text, each with the
    doc_id it was taken from."""
    rng = np.random.default_rng([seed, 2])
    out = []
    while len(out) < n:
        doc = int(rng.integers(len(texts)))
        words = texts[doc].split("\n")[1].split()
        if len(words) >= 2:
            i = int(rng.integers(len(words) - 1))
            out.append((f"{words[i]} {words[i + 1]}", doc))
    return out


# --- one run ---------------------------------------------------------------------

@dataclass
class Run:
    """State of one benchmark run: the session, inputs and measurements."""

    spark: object
    work_dir: str
    corpus: str
    seed: int
    tracer: Tracer
    tally: Tally = field(default_factory=Tally)
    queries: list[dict] = field(default_factory=list)
    phrases: list[tuple[str, int]] = field(default_factory=list)  # (phrase, source doc_id)
    single: dict[str, list[tuple[int, float]]] = field(default_factory=dict)
    phrase_rows: dict[str, tuple[str, list[tuple[int, float]]]] = field(default_factory=dict)
    batched: dict[str, list[tuple[int, float]]] = field(default_factory=dict)
    deleted: set[int] = field(default_factory=set)
    t: dict[str, list[float]] = field(default_factory=dict)  # timings by name, seconds
    facts: dict[str, float] = field(default_factory=dict)  # counts and sizes
    build_phases: list[dict] = field(default_factory=list)
    grow_phases: list[dict] = field(default_factory=list)
    tokenizer: str = "simple"
    last_call_s: float = 0.0  # the latest query call, before its collect
    _next_query: int = 0
    _next_phrase: int = 0

    def time(self, name: str, seconds: float) -> None:
        self.t.setdefault(name, []).append(seconds)

    def docs(self, n: int):
        from pyspark.sql import functions as F

        from datamart_spark.index import extract_text

        raw = self.spark.read.parquet(self.corpus).drop("text")
        return extract_text(raw.where(F.col("doc_id") < n))

    def next_blocks(self, n: int) -> list[dict]:
        """The next ``n`` whole blocks of the query stream."""
        out = self.queries[self._next_query:self._next_query + n * BLOCK]
        self._next_query += n * BLOCK
        return out

    def next_phrase(self) -> tuple[str, str, int]:
        """(id, phrase, source doc_id) of the next phrase."""
        text, source = self.phrases[self._next_phrase]
        self._next_phrase += 1
        return f"p{self._next_phrase}", text, source


def prepare(run: Run) -> None:
    """Generate the query and phrase streams (not timed)."""
    import pyarrow.parquet as pq

    texts = pq.read_table(run.corpus, columns=["text"]).column("text").to_pylist()
    run.queries = query_stream(run.seed, QUERY_POOL)
    run.phrases = phrase_stream(texts[:N_DOCS], run.seed, 200)


def lifecycle(run: Run, catalog, changes: bool = True) -> bool:
    """Fresh build, then with ``changes`` a resumed build over a 10% larger
    corpus and a spread delete.  Returns whether every step succeeded."""
    from datamart_spark.index import build_index, delete_docs

    n_all = N_DOCS + GROW_DOCS

    def step(layer: str, name: str, fn, *args, **kwargs):
        with run.tracer.layer(layer):
            t0 = time.perf_counter()
            snap = run.tally.run(name, fn, *args, **kwargs)
            seconds = time.perf_counter() - t0
        if snap is not None:
            run.time(name, seconds)
        return snap, seconds

    catalog.drop()
    snap, seconds = step("index.build", "build", build_index, run.docs(N_DOCS), catalog, positions=True)
    if snap is None:
        return False
    run.tally.check("build", snap["n_docs"] == N_DOCS, f"n_docs {snap['n_docs']} != {N_DOCS}")
    run.build_phases.append(dict(snap["phase_seconds"], wall=seconds))
    run.tokenizer = snap["tokenizer"]
    run.facts.update(catalog_bytes(catalog.root, snap["n_docs"]))
    run.facts.update({f"index.build.{k}": snap["lineage"][k]
                      for k in ("total_postings", "total_blocks", "n_shards")})
    if not changes:
        return True

    snap, seconds = step("index.grow", "grow", build_index, run.docs(n_all), catalog, positions=True)
    if snap is None:
        return False
    run.tally.check("grow", snap["n_docs"] == n_all, f"n_docs {snap['n_docs']} != {n_all}")
    run.grow_phases.append(dict(snap["phase_seconds"], wall=seconds))

    rng = np.random.default_rng([run.seed, 3, len(run.t["grow"])])
    width = snap["shard_width"]
    ids = sorted({
        int(rng.integers(s * width, min((s + 1) * width, n_all)))
        for s in range(snap["n_shards"]) for _ in range(DELETES_PER_SHARD)
    })
    snap, _ = step("index.maintenance", "delete", delete_docs, run.spark, catalog, doc_ids=ids)
    if snap is None:
        return False
    run.deleted = set(ids)
    live = catalog.read(run.spark, "doc_stats")
    n_live = live.count()
    left = live.where(live.doc_id.isin(ids)).count()
    run.tally.check(
        "delete", snap["n_docs"] == n_all - len(ids) == n_live and left == 0,
        f"n_docs {snap['n_docs']}, doc_stats rows {n_live}, expected {n_all - len(ids)}; "
        f"{left} deleted docs left",
    )
    return True


def catalog_bytes(root: str, n_docs: int) -> dict[str, float]:
    """On-disk bytes per catalog table, parquet files and postings row groups."""
    import pyarrow.parquet as pq

    out = {}
    total = files = 0
    for table in ("tokens", "postings", "doc_stats", "term_stats", "lineage"):
        size = 0
        for dirpath, _, names in os.walk(os.path.join(root, table)):
            for name in names:
                if name.endswith(".parquet"):
                    path = os.path.join(dirpath, name)
                    size += os.path.getsize(path)
                    files += 1
                    if table == "postings":
                        out["index.catalog.postings_row_groups"] = (
                            out.get("index.catalog.postings_row_groups", 0)
                            + pq.ParquetFile(path).metadata.num_row_groups
                        )
        out[f"index.catalog.{table}_bytes"] = size
        total += size
    out["index.catalog.files"] = files
    out["index_bytes_per_doc"] = total / n_docs
    return out


def single(run: Run, catalog, spec: dict, timed: bool = True) -> None:
    from datamart_spark.query import search

    rows = _timed_query(run, "search", f"search:{spec['query_id']}", timed, lambda: _ranking(_call(
        run, lambda: search(run.spark, catalog, spec["query"], k=K, lang=spec["lang"],
                            ts_lo=spec["ts_lo"], ts_hi=spec["ts_hi"]))))
    if rows is not None:
        run.single[spec["query_id"]] = rows


def phrase(run: Run, catalog, pid: str, text: str, source: int, timed: bool = True) -> None:
    from datamart_spark.query import search

    op = f"phrase:{pid}"
    rows = _timed_query(run, "phrase", op, timed, lambda: _ranking(_call(
        run, lambda: search(run.spark, catalog, text, k=K, phrase=True))))
    if rows is not None:
        run.phrase_rows[pid] = (text, rows)
        run.tally.check(op, len(rows) > 0 or source in run.deleted,
                        f"phrase from doc {source}, which is not deleted, found nothing")


def batch(run: Run, catalog, specs: list[dict], timed: bool = True) -> None:
    from datamart_spark.query import search_many

    rows = _timed_query(run, "batch", f"batch:{specs[0]['query_id']}+{len(specs)}", timed,
                        lambda: _by_query(_call(run, lambda: search_many(run.spark, catalog, specs, k=K))))
    if rows is not None:
        for s in specs:
            run.batched[s["query_id"]] = rows.get(s["query_id"], [])


def _timed_query(run: Run, kind: str, op: str, timed: bool, fn):
    """Run one query op in span ``query.<kind>``; when timed, record its
    wall time, split into the call that plans it and the collect.  Returns
    the rows of a timed op that succeeded, else None."""
    with run.tracer.layer(f"query.{kind}" if timed else "warmup"):
        t0 = time.perf_counter()
        rows = run.tally.run(op, fn)
        seconds = time.perf_counter() - t0
    if rows is None or not timed:
        return None
    run.time(kind, seconds)
    run.time(f"{kind}.call", run.last_call_s)
    run.time(f"{kind}.collect", seconds - run.last_call_s)
    return rows


def _call(run: Run, make_df) -> list:
    """Collect the DataFrame ``make_df`` returns, timing the call alone."""
    t0 = time.perf_counter()
    df = make_df()
    run.last_call_s = time.perf_counter() - t0
    return df.collect()


def _ranking(rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in rows]


def _by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


# --- checks outside the timed sections ---------------------------------------------

def check_outputs(run: Run, catalog, since: tuple[int, int, int] = (0, 0, 0)) -> None:
    """Check the results recorded after ``since`` (counts of single, phrase
    and batched results already checked): single vs batch, phrase vs a
    batch phrase spec, a seeded sample vs the declarative
    ``bm25_topk_dataframe`` path, and no deleted document in any result."""
    from datamart_spark.query import bm25_topk_dataframe, search_many

    singles = dict(list(run.single.items())[since[0]:])
    phrases = dict(list(run.phrase_rows.items())[since[1]:])
    batched = dict(list(run.batched.items())[since[2]:])
    for qid, rows in singles.items():
        if qid in run.batched:
            run.tally.check(f"search:{qid}", same_ranking(rows, run.batched[qid]),
                            f"search() {rows} != search_many {run.batched[qid]}")
    if phrases:
        specs = [{"query_id": pid, "query": text, "phrase": True} for pid, (text, _) in phrases.items()]
        got = run.tally.run("check:phrase-batch", lambda: _by_query(
            search_many(run.spark, catalog, specs, k=K).collect()))
        for pid, (_, rows) in phrases.items():
            want = (got or {}).get(pid, [])
            run.tally.check(f"phrase:{pid}", same_ranking(rows, want),
                            f"search(phrase=True) {rows} != search_many phrase spec {want}")
    by_id = {q["query_id"]: q for q in run.queries}
    answered = sorted(set(singles) | set(batched))
    rng = np.random.default_rng([run.seed, 4, since[2]])
    for qid in rng.choice(answered, size=min(ORACLE_SAMPLE, len(answered)), replace=False):
        q = by_id[qid]
        want = run.tally.run(f"check:oracle:{qid}", lambda: [
            (r["doc_id"], r["score"]) for r in bm25_topk_dataframe(
                run.spark, catalog, q["query"], k=K, lang=q["lang"],
                ts_lo=q["ts_lo"], ts_hi=q["ts_hi"]).collect()])
        got = singles.get(qid, batched.get(qid))
        op = f"search:{qid}" if qid in singles else f"batch-query:{qid}"
        run.tally.check(op, want is not None and same_ranking(got, want),
                        f"engine {got} != bm25_topk_dataframe {want}")
    results = [*singles.items(), *((pid, rows) for pid, (_, rows) in phrases.items()), *batched.items()]
    for key, rows in results:
        hit = run.deleted.intersection(d for d, _ in rows)
        run.tally.check(f"deleted-in:{key}", not hit, f"deleted docs {sorted(hit)} returned")


# --- the workloads ---------------------------------------------------------------------

def index_workload(run: Run, seconds: float, catalog_root: str) -> None:
    from datamart_spark.index import IndexCatalog, build_index

    pilot = IndexCatalog(os.path.join(catalog_root, "pilot"))
    with run.tracer.layer("setup"):
        t0 = time.perf_counter()
        if run.tally.run("pilot-build", build_index, run.docs(PILOT_DOCS), pilot, positions=True):
            warm_queries(run, pilot)
        run.time("setup_step", time.perf_counter() - t0)

    catalog = IndexCatalog(os.path.join(catalog_root, "index"))
    spent = 0.0
    while True:
        since = (len(run.single), len(run.phrase_rows), len(run.batched))
        t0 = time.perf_counter()
        if not lifecycle(run, catalog):
            return
        read_mix(run, catalog, INDEX_BATCHES)
        cycle = time.perf_counter() - t0
        spent += cycle
        check_outputs(run, catalog, since)
        if spent + cycle > seconds:
            return


def query_workload(run: Run, seconds: float, catalog_root: str) -> None:
    from datamart_spark.index import IndexCatalog

    catalog = IndexCatalog(os.path.join(catalog_root, "index"))
    with run.tracer.layer("setup"):
        t0 = time.perf_counter()
        ok = lifecycle(run, catalog, changes=False)
        run.time("setup_step", time.perf_counter() - t0)
    if not ok:
        return
    warm_queries(run, catalog)

    t0 = time.perf_counter()
    read_mix(run, catalog, QUERY_BATCHES)
    while time.perf_counter() - t0 < seconds:
        read_mix(run, catalog, QUERY_BATCHES)
    check_outputs(run, catalog)


def read_mix(run: Run, catalog, n_batches: int) -> None:
    """One whole block of single searches, so every run times the same
    query mix, with a phrase search after every ``PHRASE_EVERY``, and
    ``n_batches`` ``search_many`` batches of ``BATCH`` queries spread
    between them, so a slow spell of the host lands on all three paths
    rather than on one.  The last batch replays the block, so every single
    result is compared with its batch result; the others run whole blocks
    further down the stream."""
    block = run.next_blocks(1)
    fresh = [run.next_blocks(BATCH // BLOCK) for _ in range(n_batches - 1)]
    gap = max(1, BLOCK // n_batches)
    for i, spec in enumerate(block, 1):
        single(run, catalog, spec)
        if i % PHRASE_EVERY == 0:
            phrase(run, catalog, *run.next_phrase())
        if i % gap == 0 and fresh:
            batch(run, catalog, fresh.pop(0))
    for specs in fresh:
        batch(run, catalog, specs)
    batch(run, catalog, block + run.next_blocks(BATCH // BLOCK - 1))


def warm_queries(run: Run, catalog) -> None:
    """One call down each query path, from the stream's tail (which the
    timed part never reaches)."""
    warm = run.queries[-BLOCK:]
    single(run, catalog, warm[0], timed=False)
    phrase(run, catalog, "warm", *run.phrases[-1], timed=False)
    batch(run, catalog, warm, timed=False)


WORKLOADS = {"index": index_workload, "query": query_workload}


# --- metrics ------------------------------------------------------------------------------

def end_to_end(run: Run, start_s: float) -> dict[str, float]:
    t = run.t
    return {
        "setup_s": start_s + median(t["setup_step"]),
        "build_docs_per_s": N_DOCS / median(t["build"]),
        "index_bytes_per_doc": run.facts["index_bytes_per_doc"],
        "search_p50_ms": 1000 * median(t["search"]),
        "phrase_p50_ms": 1000 * median(t["phrase"]),
        "bulk_qps": BATCH / median(t["batch"]),
    }


BUILD_PHASES = ("count", "analyze_tokens", "postings", "doc_stats_avgdl", "term_stats", "metrics")
GROW_PHASES = ("analyze_tokens", "postings", "term_stats", "metrics")


def per_layer(run: Run, session: dict, groups: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run; ``groups`` is the parsed
    event log (``tracing.parse_event_log``)."""
    from tracing import sum_groups

    tr = run.tracer
    out = dict(session)
    build = _median_phases(run.build_phases)
    for p in BUILD_PHASES:
        out[f"index.build.{p}_s"] = build.get(p, 0.0)
    out["index.build.commit_s"] = build["wall"] - sum(build.get(p, 0.0) for p in BUILD_PHASES)
    # the query workload neither grows nor deletes: its grow and delete
    # metrics read 0
    grow = _median_phases(run.grow_phases)
    for p in GROW_PHASES:
        out[f"index.grow.{p}_s"] = grow.get(p, 0.0)
    out["index.grow.commit_s"] = grow.get("wall", 0.0) - sum(
        grow.get(p, 0.0) for p in ("count", "doc_stats_avgdl") + GROW_PHASES)
    out["index.grow.docs_per_s"] = GROW_DOCS / grow["wall"] if grow else 0.0
    out["index.maintenance.delete_s"] = median(run.t["delete"]) if run.t.get("delete") else 0.0
    for k, v in run.facts.items():
        if k.startswith(("index.catalog.", "index.build.")):
            out[k] = v

    def per_span(layer: str) -> dict[str, float]:
        n = max(1, tr.span_count(layer))
        return {k: v / n for k, v in sum_groups(groups, tr.spans, layer).items()}

    b = per_span("index.build")
    for k in ("executor_cpu_s", "gc_s", "task_wait_s", "shuffle_write_bytes", "spill_bytes",
              "python_bytes_sent", "python_bytes_received", "python_run_s", "tasks"):
        out[f"index.build.{k}"] = b.get(k, 0)
    out["index.grow.output_bytes"] = per_span("index.grow").get("output_bytes", 0)
    m = per_span("index.maintenance")
    for k in ("executor_cpu_s", "output_bytes", "tasks"):
        out[f"index.maintenance.{k}"] = m.get(k, 0)

    q = per_span("query.search")
    out["analyzer.analyze_query_ms"] = 1000 * _p50(tr.call_seconds("query.search", "analyze_query"))
    out["query.bm25.idf_map_ms"] = 1000 * _p50(tr.call_seconds("query.search", "idf_map"))
    out["query.search.call_ms"] = 1000 * median(run.t["search.call"])
    out["query.search.collect_ms"] = 1000 * median(run.t["search.collect"])
    out["query.wand.call_ms"] = 1000 * _p50(tr.call_seconds("query.search", "bm25_topk_blockmax"))
    out["query.jobs_per_query"] = q.get("jobs", 0)
    out["query.stages_per_query"] = q.get("stages", 0)
    out["query.tasks_per_query"] = q.get("tasks", 0)
    out["query.scan_bytes_per_query"] = q.get("input_bytes", 0)
    # the queries ran on the grown and deleted index, not the fresh one
    queried = catalog_bytes(os.path.join(run.work_dir, "catalogs", "index"), 1)
    out["query.scan_fraction"] = q.get("scan_bytes.postings", 0) / queried["index.catalog.postings_bytes"]
    out["query.shuffle_bytes_per_query"] = q.get("shuffle_write_bytes", 0)
    out["query.executor_cpu_ms_per_query"] = 1000 * q.get("executor_cpu_s", 0)
    out["query.task_wait_ms_per_query"] = 1000 * q.get("task_wait_s", 0)
    out["query.python_run_ms_per_query"] = 1000 * q.get("python_run_s", 0)
    out["query.catalog_reads_per_query"] = (
        len(tr.call_seconds("query.search", "IndexCatalog.read"))
        + len(tr.call_seconds("query.search", "IndexCatalog.read_snapshot"))
    ) / max(1, tr.span_count("query.search"))
    out["query.term_reuse_ratio"] = term_reuse_ratio(run)
    asked = [*run.single.values(), *run.batched.values()]
    out["query.empty_result_ratio"] = sum(1 for r in asked if not r) / len(asked)

    p = per_span("query.phrase")
    out["query.phrase.call_ms"] = 1000 * median(run.t["phrase.call"])
    out["query.phrase.collect_ms"] = 1000 * median(run.t["phrase.collect"])
    out["query.phrase.scan_bytes_per_query"] = p.get("input_bytes", 0)
    bt = per_span("query.batch")
    out["query.batch.call_s"] = median(run.t["batch.call"])
    out["query.batch.collect_s"] = median(run.t["batch.collect"])
    out["query.batch.scan_bytes"] = bt.get("input_bytes", 0)
    out["query.batch.tasks"] = bt.get("tasks", 0)
    out["query.batch.executor_cpu_s"] = bt.get("executor_cpu_s", 0)
    return out


def term_reuse_ratio(run: Run) -> float:
    """Share of query-term occurrences whose term an earlier query of the
    run already used (what the driver-side df cache can serve)."""
    from datamart_spark.analyzer import analyze_query

    asked = set(run.single) | set(run.batched)
    seen: set[str] = set()
    total = reused = 0
    for q in run.queries:
        if q["query_id"] not in asked:
            continue
        for term in analyze_query(q["query"], tokenizer=run.tokenizer):
            total += 1
            reused += term in seen
            seen.add(term)
    return reused / total if total else 0.0


def _median_phases(phases: list[dict]) -> dict[str, float]:
    keys = {k for p in phases for k in p}
    return {k: median([p.get(k, 0.0) for p in phases]) for k in keys}


def _p50(values: list[float]) -> float:
    return median(values) if values else 0.0
