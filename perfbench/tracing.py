"""Spans and Spark status-store readings for the traced run.

``Tracer.install`` wraps public functions of the crawl and tables layers
from outside the program: ``CrawlEngine.init_from_seeds`` and
``run_round``, and ``SnapshotTable.commit``, ``commit_rows`` and
``expire_snapshots``. Each wrapper records a span (name, round, start,
end, parent) in memory and runs its Spark jobs under a job group named
``r<round>:<layer>``, set in the calling thread so that commits from the
round's thread pool are attributed to the right table. After the run,
``spark_by_group`` reads task metrics per group from Spark's status
store, and ``fetch_scan`` reads the SQL metrics of the pages scan inside
the ``analyses`` commit.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

COMMIT_TABLES = ("analyses", "frontier", "seen", "frontier_removed")
GROUPS = COMMIT_TABLES + ("maintenance", "other")


@dataclass
class Span:
    name: str
    round: int | None
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def _files_under(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        # round the next run_round will run: every workload starts at 0
        self.round = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, object]] = []

    # -- span bookkeeping --------------------------------------------------
    def _group(self, layer: str, rnd) -> str:
        return f"r{'x' if rnd is None else rnd}:{layer}"

    def _run(self, name: str, layer: str, rnd, parent: str | None, fn):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(self._group(layer, rnd), name)
        span = Span(name, rnd, time.perf_counter(), parent=parent)
        try:
            return span, fn()
        finally:
            span.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(span)

    def _wrap(self, cls: type, attr: str, make) -> None:
        orig = getattr(cls, attr)
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, make(orig))

    # -- install / uninstall -----------------------------------------------
    def install(self) -> None:
        from vyntr_spark.crawl import CrawlEngine
        from vyntr_spark.tables import SnapshotTable

        tracer = self

        def init_from_seeds(orig):
            def wrapped(eng, seeds):
                tracer.round = 0
                tracer._run("init", "other", None, "run", lambda: orig(eng, seeds))
            return wrapped

        def run_round(orig):
            def wrapped(eng):
                span, info = tracer._run("round", "other", tracer.round, "run",
                                         lambda: orig(eng))
                if info is not None:
                    span.round = info.round
                    tracer.round = info.round + 1
                return info
            return wrapped

        def commit(orig):
            def wrapped(tbl, df, mode="append", summary=None, **kw):
                summary = summary or {}
                if "compact_round" in summary:
                    layer, rnd, name = "maintenance", summary["compact_round"], "maintenance"
                else:
                    layer = tbl.name if tbl.name in COMMIT_TABLES else "other"
                    # seed ingestion and warehouse preparation carry no round
                    rnd, name = summary.get("round"), f"commit:{tbl.name}"
                span, sid = tracer._run(name, layer, rnd, "round",
                                        lambda: orig(tbl, df, mode, summary, **kw))
                snap = tbl.snapshots()[-1]
                span.attrs.update(table=tbl.name, snapshot=sid)
                span.attrs["files"], span.attrs["bytes"] = _files_under(snap.path)
                return sid
            return wrapped

        def commit_rows(orig):
            def wrapped(tbl, rows, mode="append", summary=None):
                rnd = (summary or {}).get("round", tracer.round)
                _span, sid = tracer._run("commit_rows", "other", rnd, "round",
                                         lambda: orig(tbl, rows, mode, summary))
                return sid
            return wrapped

        def expire_snapshots(orig):
            def wrapped(tbl, keep_last=1):
                _span, n = tracer._run("maintenance", "maintenance", tracer.round,
                                       "round", lambda: orig(tbl, keep_last))
                return n
            return wrapped

        self._wrap(CrawlEngine, "init_from_seeds", init_from_seeds)
        self._wrap(CrawlEngine, "run_round", run_round)
        self._wrap(SnapshotTable, "commit", commit)
        self._wrap(SnapshotTable, "commit_rows", commit_rows)
        self._wrap(SnapshotTable, "expire_snapshots", expire_snapshots)

    def uninstall(self) -> None:
        while self._undo:
            cls, attr, orig = self._undo.pop()
            setattr(cls, attr, orig)

    # -- per-round summaries -------------------------------------------------
    def round_rows(self, rounds: list[int]) -> list[dict]:
        """One row per round: wall and span times per layer, and the
        bytes and files each commit wrote."""
        rows = []
        for rnd in rounds:
            sp = [s for s in self.spans if s.round == rnd]
            row = {"round": rnd,
                   "round_ms": sum(s.ms for s in sp if s.name == "round"),
                   "commit_rows_ms": sum(s.ms for s in sp if s.name == "commit_rows"),
                   "maintenance_ms": sum(s.ms for s in sp if s.name == "maintenance")}
            for t in COMMIT_TABLES:
                cs = [s for s in sp if s.name == f"commit:{t}"]
                row[f"commit_ms.{t}"] = sum(s.ms for s in cs)
                row[f"bytes_written.{t}"] = sum(s.attrs.get("bytes", 0) for s in cs)
                row[f"files_written.{t}"] = sum(s.attrs.get("files", 0) for s in cs)
            rows.append(row)
        return rows

    # -- Spark status store ----------------------------------------------------
    def spark_by_group(self, rounds: list[int]) -> dict:
        """Task metrics of every job run under the given rounds' groups,
        summed per layer. A stage shared by two jobs counts once."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {g: {"jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0,
                   "jvm_cpu_ms": 0.0, "gc_ms": 0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0} for g in GROUPS}
        seen_stages: set[int] = set()
        for rnd in rounds:
            for g in GROUPS:
                for job in st.getJobIdsForGroup(self._group(g, rnd)):
                    info = st.getJobInfo(job)
                    if info is None:
                        continue
                    acc = out[g]
                    acc["jobs"] += 1
                    for sid in info.stageIds:
                        if sid in seen_stages:
                            continue
                        seen_stages.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:  # noqa: BLE001 — stage evicted or never run
                            continue
                        if sd.numCompleteTasks() == 0:
                            continue
                        acc["stages"] += 1
                        acc["tasks"] += sd.numCompleteTasks()
                        acc["task_run_ms"] += sd.executorRunTime()
                        acc["jvm_cpu_ms"] += sd.executorCpuTime() / 1e6
                        acc["gc_ms"] += sd.jvmGcTime()
                        acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        acc["spill_bytes"] += (sd.memoryBytesSpilled()
                                               + sd.diskBytesSpilled())
        return out

    def fetch_scan(self, spark, rounds: list[int], pages_dir: str) -> list[dict]:
        """Per round, the SQL metrics of the pages scan and the fetch join
        inside the ``analyses`` commit, and the Python UDF boundary. The
        same execution also scans the frontier tables, so only the scan of
        ``pages_dir`` and the inner (fetch) join count."""
        pages_tag = os.path.basename(pages_dir.rstrip("/"))
        sq = spark._jsparkSession.sharedState().statusStore()
        st = self.sc.statusTracker()
        job_round = {}
        for rnd in rounds:
            for job in st.getJobIdsForGroup(self._group("analyses", rnd)):
                job_round[job] = rnd
        per_round = {rnd: {"bytes_read": 0.0, "rows_scanned": 0, "rows_matched": 0,
                           "python_run_ms": 0.0, "bytes_to_python": 0.0,
                           "bytes_from_python": 0.0} for rnd in rounds}
        execs = sq.executionsList()
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            jobs = [int(j) for j in _scala_ints(ex.jobs().keySet())]
            hit = {job_round[j] for j in jobs if j in job_round}
            if len(hit) != 1:
                continue
            rnd = hit.pop()
            metrics = sq.executionMetrics(ex.executionId())
            nodes = sq.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    val = metrics.get(m.accumulatorId())
                    if not val.isDefined():
                        continue
                    v = _metric_value(val.get())
                    key = _FETCH_KEYS.get((name.strip(), m.name()))
                    if key in ("bytes_read", "rows_scanned") and pages_tag not in node.desc():
                        continue
                    if key == "rows_matched" and "Inner" not in node.desc():
                        continue
                    if key is not None:
                        per_round[rnd][key] += v
        return [dict(round=r, **per_round[r]) for r in rounds]


_FETCH_KEYS = {
    ("Scan parquet", "size of files read"): "bytes_read",
    ("Scan parquet", "number of output rows"): "rows_scanned",
    ("BroadcastHashJoin", "number of output rows"): "rows_matched",
    ("ArrowEvalPython", "time to run Python workers"): "python_run_ms",
    ("ArrowEvalPython", "data sent to Python workers"): "bytes_to_python",
    ("ArrowEvalPython", "data returned from Python workers"): "bytes_from_python",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``'20,000'``, ``'201.7 MiB'`` or
    ``'total (min, med, max ...)\\n21.3 s (...)'``, in bytes, ms or rows."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1)


def _scala_ints(scala_set) -> list[int]:
    out, it = [], scala_set.iterator()
    while it.hasNext():
        out.append(it.next())
    return out
