import datamart_spark.query as query_api
import workloads
from checks import Tally, same_ranking
from tracing import Tracer


def test_same_ranking():
    a = [(3, 2.5), (1, 1.25)]
    assert same_ranking(a, [(3, 2.5 + 1e-12), (1, 1.25)])
    assert not same_ranking(a, [(1, 1.25), (3, 2.5)])  # order matters
    assert not same_ranking(a, [(3, 2.5), (1, 1.3)])  # score differs
    assert not same_ranking(a, a[:1])


def test_tally_counts_raises_and_failed_checks():
    t = Tally()
    assert t.run("ok", lambda: 5) == 5
    assert t.run("boom", lambda: 1 / 0) is None
    t.check("ok", True)
    t.check("late", False)  # a check may fail an op counted elsewhere
    t.check("boom", False)  # an op fails at most once
    assert t.attempted == ["ok", "boom"]
    assert set(t.failed) == {"boom", "late"}


def _run_with(single, batched, deleted=()):
    run = workloads.Run(spark=None, work_dir="", corpus="", seed=1, tracer=Tracer())
    run.queries = [{"query_id": q, "query": "w", "lang": None, "ts_lo": None, "ts_hi": None}
                   for q in ("a", "b")]
    for qid, rows in single.items():
        run.tally.run(f"search:{qid}", lambda: None)
    run.single, run.batched, run.deleted = single, batched, set(deleted)
    return run


def test_planted_wrong_result_is_counted_as_failed(monkeypatch):
    monkeypatch.setattr(workloads, "ORACLE_SAMPLE", 0)
    good = [(1, 2.0), (2, 1.0)]
    run = _run_with({"a": good, "b": good}, {"a": good, "b": [(2, 1.0), (1, 2.0)]})
    workloads.check_outputs(run, catalog=None)
    assert set(run.tally.failed) == {"search:b"}


def test_deleted_doc_in_a_result_is_counted_as_failed(monkeypatch):
    monkeypatch.setattr(workloads, "ORACLE_SAMPLE", 0)
    rows = [(7, 2.0)]
    run = _run_with({"a": rows}, {"a": rows}, deleted=[7])
    workloads.check_outputs(run, catalog=None)
    assert "deleted-in:a" in run.tally.failed


def test_result_differing_from_the_dataframe_path_is_counted_as_failed(monkeypatch):
    class Frame:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return [{"doc_id": d, "score": s} for d, s in self.rows]

    monkeypatch.setattr(workloads, "ORACLE_SAMPLE", 2)
    monkeypatch.setattr(query_api, "bm25_topk_dataframe", lambda *a, **k: Frame([(1, 9.0)]))
    rows = [(1, 2.0)]
    run = _run_with({"a": rows, "b": rows}, {"a": rows, "b": rows})
    workloads.check_outputs(run, catalog=None)
    assert set(run.tally.failed) == {"search:a", "search:b"}


def test_read_mix_spreads_batches_and_replays_the_block_last(monkeypatch):
    calls = []
    monkeypatch.setattr(workloads, "single", lambda run, catalog, spec: calls.append(spec["query_id"]))
    monkeypatch.setattr(workloads, "phrase", lambda run, catalog, pid, text, source: calls.append(pid))
    monkeypatch.setattr(workloads, "batch", lambda run, catalog, specs: calls.append(
        [s["query_id"] for s in specs]))
    run = workloads.Run(spark=None, work_dir="", corpus="", seed=1, tracer=Tracer())
    run.queries = [{"query_id": f"q{i}"} for i in range(100)]
    run.phrases = [("a b", 0)] * 10
    workloads.read_mix(run, None, n_batches=4)
    block = [f"q{i}" for i in range(10)]
    assert [c for c in calls if isinstance(c, str) and c.startswith("q")] == block
    assert [c for c in calls if isinstance(c, str) and c.startswith("p")] == ["p1", "p2", "p3", "p4", "p5"]
    batches = [c for c in calls if isinstance(c, list)]
    assert len(batches) == 4 and all(len(b) == workloads.BATCH for b in batches)
    assert batches[-1][:10] == block  # every single is compared with its batch result
    assert not set(block) & {q for b in batches[:-1] for q in b}
    first = calls.index(batches[0])
    assert 0 < first < calls.index("q9")  # batches run between the single searches
