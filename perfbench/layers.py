"""Per-layer metrics of a traced run (``--trace 1``).

Counts and times are per timed round: the median for quantities every
round has, the mean for those only some rounds have (maintenance) and for
counts. The name prefix is the layer; each layer's metrics should move
the end-to-end metric named here, on the workload named here:

=============  ==============================================  ==================  ==================
prefix         layer (module · public function)                moves               loaded on
=============  ==============================================  ==================  ==================
crawl.         crawl · CrawlEngine.init_from_seeds, run_round  setup_s, op_p50_ms  both
fetch.         pages scan + fetch join in the analyses commit  op_p50_ms,          crawl_resume_seen
               (Spark SQL metrics of that execution)           items_per_s         (flat-ish on wide)
tables.        tables · SnapshotTable.commit per table,        items_per_s,        analyses: wide;
               commit_rows, expire_snapshots and compaction    op_p50_ms           seen/frontier:
               commits (``maintenance``)                                           crawl_resume_seen
extract.       extract · extract_html, bare, one process       items_per_s,        crawl_wide
                                                               cpu_s_per_kitem
extract_udf.   operators.extract_udf (Python workers: CPU      cpu_s_per_kitem     crawl_wide
               from /proc, Arrow boundary from SQL metrics)
spark.         Spark status store, per job group               op_p50_ms (jobs),   both
                                                               peak_rss_mb (GC)
trace.         traced throughput and its overhead against      —                   both
               the untraced runs logged in this checkout
=============  ==============================================  ==================  ==================

Jobs run in the engine's round-tail thread pool outside a wrapped call
(the per-round metrics aggregation) belong to no group and are not
counted. The seen anti-join feeds both the frontier and the seen commit;
its shuffle lands in whichever of the two materializes it first.
``operators.politeness`` runs inside the analyses commit's job and
``operators.bloom`` is off by default, so neither has metrics of its own.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import COMMIT_TABLES, GROUPS


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


RUNLOG = "runlog.jsonl"


def log_untraced(work: str, workload: str, seed: int, items_per_s: float) -> None:
    """Record an untraced run's throughput, the base of the tracing overhead."""
    with open(os.path.join(work, RUNLOG), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed,
                            "items_per_s": items_per_s}) + "\n")


def _untraced_base(work: str, workload: str) -> list[float]:
    try:
        with open(os.path.join(work, RUNLOG)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
    return [r["items_per_s"] for r in rows if r.get("workload") == workload]


def per_layer(bench, tracer, res: dict, infos: list) -> dict:
    rounds = [i.round for i in infos]
    n = max(len(rounds), 1)
    walls = res["walls"]
    pages = sum(i.selected for i in infos)
    items_per_s = pages / sum(walls) if walls else 0.0
    kernel = bench.details["kernel_probe_pages_per_s"]
    rows = tracer.round_rows(rounds)
    scan = tracer.fetch_scan(bench.spark, rounds, bench.pages_dir)
    spark = tracer.spark_by_group(rounds)
    inits = [s.ms for s in tracer.spans if s.name == "init"]
    bench.details["layer_rounds"] = rows
    bench.details["fetch_rounds"] = scan
    bench.details["spark_groups"] = spark

    m: dict[str, tuple[float, str]] = {
        "crawl.init_ms": (_median(inits), "ms"),
        "crawl.round_ms": (_median(r["round_ms"] for r in rows), "ms"),
        "crawl.selected": (_mean(i.selected for i in infos), "count"),
        "crawl.success": (_mean(i.success for i in infos), "count"),
        "crawl.new_urls": (_mean(i.new_urls for i in infos), "count"),
        "crawl.dedup_dropped": (_mean(i.dedup_dropped for i in infos), "count"),
        "fetch.bytes_read": (_median(s["bytes_read"] for s in scan), "B"),
        "fetch.rows_scanned": (_median(s["rows_scanned"] for s in scan), "count"),
        "fetch.rows_matched": (_median(s["rows_matched"] for s in scan), "count"),
        "fetch.useful_frac": (
            sum(s["rows_matched"] for s in scan)
            / max(sum(s["rows_scanned"] for s in scan), 1), "ratio"),
    }
    for t in COMMIT_TABLES:
        m[f"tables.commit_ms.{t}"] = (_median(r[f"commit_ms.{t}"] for r in rows), "ms")
        m[f"tables.bytes_written.{t}"] = (_median(r[f"bytes_written.{t}"] for r in rows), "B")
        m[f"tables.files_written.{t}"] = (_median(r[f"files_written.{t}"] for r in rows), "count")
    m["tables.commit_rows_ms"] = (_mean(r["commit_rows_ms"] for r in rows), "ms")
    m["tables.maintenance_ms"] = (_mean(r["maintenance_ms"] for r in rows), "ms")

    m["extract.kernel_pages_per_s"] = (kernel, "1/s")
    m["extract.kernel_frac"] = (items_per_s / (kernel * bench.cores) if kernel else 0.0,
                                "ratio")
    m["extract_udf.python_cpu_s"] = (res["python_cpu_s"] / n, "s")
    m["extract_udf.python_run_ms"] = (_median(s["python_run_ms"] for s in scan), "ms")
    m["extract_udf.bytes_to_python"] = (_median(s["bytes_to_python"] for s in scan), "B")
    m["extract_udf.bytes_from_python"] = (_median(s["bytes_from_python"] for s in scan), "B")

    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}"] = (sum(g[key] for g in spark.values()) / n, "count")
    m["spark.gc_ms"] = (sum(g["gc_ms"] for g in spark.values()) / n, "ms")
    m["spark.spill_bytes"] = (sum(g["spill_bytes"] for g in spark.values()) / n, "B")
    for g in GROUPS:
        m[f"spark.task_run_ms.{g}"] = (spark[g]["task_run_ms"] / n, "ms")
        m[f"spark.jvm_cpu_ms.{g}"] = (spark[g]["jvm_cpu_ms"] / n, "ms")
        m[f"spark.shuffle_write_bytes.{g}"] = (spark[g]["shuffle_write_bytes"] / n, "B")

    base = _untraced_base(bench.work, bench.wl.name)
    base_ips = _median(base)
    bench.details["trace_base_runs"] = len(base)
    m["trace.items_per_s"] = (items_per_s, "1/s")
    m["trace.overhead_frac"] = (1 - items_per_s / base_ips if base_ips else 0.0, "ratio")
    return m
