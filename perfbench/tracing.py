"""Tracing for the benchmark's traced runs, kept in the benchmark's own files.

Three parts, all outside the package under test:

- ``Tracer`` opens one span per layer call made by the workload, tags the
  Spark jobs launched inside it with ``setJobGroup``, and wraps the
  package's public entry points to time each call;
- ``parse_event_log`` reads the Spark event log of the traced session
  and sums task metrics and the Python-boundary SQL metrics per span;
- ``peak_rss_mb`` reads peak resident memory from ``/proc``.

With tracing off a ``Tracer`` only yields: no job groups, no wrappers.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# (module, attribute) of every public entry point a traced run times.
# A name a later refactor removes is reported as absent, not fatal.
WRAPPED = [
    ("datamart_spark.index.build", "build_index"),
    ("datamart_spark.index.maintenance", "delete_docs"),
    ("datamart_spark.analyzer", "analyze_query"),
    ("datamart_spark.query.bm25", "idf_map"),
    ("datamart_spark.query.wand", "bm25_topk_blockmax"),
    ("datamart_spark.query.phrase", "bm25_phrase_topk"),
    ("datamart_spark.query.batch", "bm25_topk_batch"),
    ("datamart_spark.index.catalog", "IndexCatalog.read"),
    ("datamart_spark.index.catalog", "IndexCatalog.read_snapshot"),
]

# index catalog tables, for attributing scanned bytes to a table
TABLES = ("tokens", "postings", "doc_stats", "term_stats", "lineage")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False, package: str = "datamart_spark"):
        self.spark = spark
        self.enabled = enabled
        self.package = package
        self.spans: list[tuple[str, str, float, float]] = []  # layer, group, start ms, end ms
        self.calls: list[tuple[str | None, str, float]] = []  # layer, entry point, seconds
        self.absent: list[str] = []
        self.current: str | None = None
        self._seq = 0
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def layer(self, name: str):
        """One span: the jobs launched inside it carry the group
        ``<name>#<n>``."""
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        self.current = name
        start = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, group, start, time.time() * 1000))
            self.current = None
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def install(self, targets=WRAPPED) -> None:
        """Wrap each target wherever the package holds a reference to it."""
        if not self.enabled:
            return
        for mod_name, attr in targets:
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                self.absent.append(f"{mod_name}.{attr}")
                continue
            owner_name, _, name = attr.rpartition(".")
            owner = getattr(mod, owner_name, None) if owner_name else mod
            orig = getattr(owner, name, None) if owner is not None else None
            if orig is None:
                self.absent.append(f"{mod_name}.{attr}")
                continue
            wrapped = self._timed(attr, orig)
            if owner_name:  # a method: patch the class
                self._patch(owner, name, wrapped)
                continue
            for m_name, m in list(sys.modules.items()):
                if m is None or not (m_name == self.package or m_name.startswith(self.package + ".")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patch(m, k, wrapped)

    def uninstall(self) -> None:
        for obj, name, orig in reversed(self._undo):
            setattr(obj, name, orig)
        self._undo.clear()

    def _patch(self, obj, name, value) -> None:
        self._undo.append((obj, name, getattr(obj, name)))
        setattr(obj, name, value)

    def _timed(self, label: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls.append((self.current, label, time.perf_counter() - t))

        return timed

    def call_seconds(self, layer: str | None, label: str) -> list[float]:
        return [s for lay, lab, s in self.calls if lab == label and (layer is None or lay == layer)]

    def span_count(self, layer: str) -> int:
        return sum(1 for s in self.spans if s[0] == layer)


# --- Spark event log ---------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to run Python workers": "python_run_ms",
}
_PATH = re.compile(r"file:([^,\]\s]+)")


def event_log_file(log_dir: str) -> str:
    """The single finished (uncompressed, non-rolling) log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    done = [n for n in names if not n.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, done[0])


def _scan_tables(plan: dict, out: dict[int, str]) -> None:
    """Map each metric id of a parquet scan node to the catalog table it reads."""
    if plan.get("nodeName", "").startswith("Scan"):
        tables = {
            part
            for path in _PATH.findall(plan.get("simpleString", ""))
            for part in path.split("/")
            if part in TABLES
        }
        if len(tables) == 1:
            table = tables.pop()
            for m in plan.get("metrics", []):
                out[m["accumulatorId"]] = table
    for child in plan.get("children", []):
        _scan_tables(child, out)


def parse_event_log(lines, spans) -> dict[str, Counter]:
    """Sum task metrics per span group.

    A job belongs to the group its ``spark.jobGroup.id`` names; a job
    without one (launched from a helper thread, which does not inherit
    the property) belongs to the span whose interval holds its
    submission time.  Returns ``{group: Counter}`` with keys ``jobs``,
    ``stages``, ``tasks``, ``executor_cpu_s``, ``run_s``, ``gc_s``,
    ``task_wait_s``, ``input_bytes``, ``output_bytes``,
    ``shuffle_write_bytes``, ``spill_bytes``, ``python_bytes_sent``,
    ``python_bytes_received``, ``python_run_s`` and ``scan_bytes.<table>``.
    """
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_accums: dict[int, set[int]] = defaultdict(set)
    scan_table: dict[int, str] = {}
    tasks = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                t = e.get("Submission Time", 0)
                group = next((g for _, g, a, b in spans if a <= t <= b), None)
            job_group[e["Job ID"]] = group
            for s in e.get("Stage IDs", []):
                stage_job.setdefault(s, e["Job ID"])
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            if info.get("Submission Time") is not None:
                stage_submit[info["Stage ID"]] = info["Submission Time"]
            stage_accums[info["Stage ID"]].update(a["ID"] for a in info.get("Accumulables", []))
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_tables(e.get("sparkPlanInfo", {}), scan_table)

    out: dict[str, Counter] = defaultdict(Counter)
    for job, group in job_group.items():
        if group is not None:
            out[group]["jobs"] += 1
    stages_seen: set[int] = set()
    for e in tasks:
        stage = e["Stage ID"]
        group = job_group.get(stage_job.get(stage))
        if group is None:
            continue
        c = out[group]
        if stage not in stages_seen:
            stages_seen.add(stage)
            c["stages"] += 1
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        c["tasks"] += 1
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        if stage in stage_submit:
            c["task_wait_s"] += max(0, info["Launch Time"] - stage_submit[stage]) / 1e3
        read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        c["input_bytes"] += read
        c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            key = _PY_METRICS.get(acc.get("Name"))
            if key and acc.get("Update") is not None:
                c[key] += float(acc["Update"])
        tables = {scan_table[a] for a in stage_accums.get(stage, ()) if a in scan_table}
        if read:
            c["scan_bytes." + (tables.pop() if len(tables) == 1 else "mixed")] += read
    for c in out.values():
        c["python_run_s"] = c.pop("python_run_ms", 0) / 1e3
    return out


def sum_groups(per_group: dict[str, Counter], spans, layer: str) -> Counter:
    total = Counter()
    for name, group, _, _ in spans:
        if name == layer:
            total.update(per_group.get(group, Counter()))
    return total


# --- peak memory from /proc ---------------------------------------------------

def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(name))
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, summed VmHWM of the Python processes under the JVM)."""
    workers, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        workers += _vm_hwm_mb(pid)
        todo.extend(_children(pid))
    return _vm_hwm_mb(jvm_pid), workers
