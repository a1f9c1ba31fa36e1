#!/usr/bin/env python
"""Long-horizon frontier-log + host_edges compaction stress (VERDICT r4
"Next round" #7): a >=30-round priority-mode crawl at the largest
sandbox scale, measuring per round

  * wall_ms            — RoundInfo round wall time
  * frontier_delta_mb  — bytes ADDED to the frontier table dir this
                         round (log-mode commit tail IO; docs/SCALE.md
                         claims O(round delta), with compaction +
                         snapshot expiry keeping the dir bounded)
  * frontier_total_mb  — frontier dir size after the round (must stay
                         bounded across compactions, not grow linearly
                         with crawl history)
  * host_edges_rows    — row count of the host_edges table (claims:
                         stays ~|distinct cross-host pairs| across
                         compactions, not O(appended rows))
  * host_edges_mb      — host_edges dir size after the round

Workload shape: n_pages=200k over 6k hosts (~33 pages/host) with
politeness cap=1 — every round sweeps ~1 page x 6k hosts, so the crawl
holds a FLAT steady state for ~33 rounds: any per-round IO growth is
engine bloat, not workload ramp. priority_frontier=True exercises the
host_edges append + compaction path; the frontier's append + removal
log is the O(delta) commit path under test; compact_every=8 gives 4
compaction cycles in 34 rounds.

Output: one JSON line to stdout + BENCH/long_crawl_stress.json.
Summary lands in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vyntr_spark.crawl import CrawlEngine  # noqa: E402
from vyntr_spark.session import (  # noqa: E402
    get_spark, local_scratch_dir, size_bench_session,
)
from vyntr_spark.synth import (  # noqa: E402
    cached_pages_path_spark, default_seeds_web,
)
from vyntr_spark.tables import PAGES, SnapshotStore  # noqa: E402

CACHE = os.path.join(REPO, ".bench_data")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    import shutil
    import tempfile

    cpus = size_bench_session()
    n_pages = int(os.environ.get("STRESS_PAGES", "200000"))
    n_hosts = int(os.environ.get("STRESS_HOSTS", "6000"))
    max_rounds = int(os.environ.get("STRESS_ROUNDS", "34"))
    spark = get_spark("vyntr-stress", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra={"spark.sql.files.maxPartitionBytes": "16m",
                             "spark.sql.files.openCostInBytes": "1m"})
    spark.sparkContext.setLogLevel("ERROR")

    pages_path = cached_pages_path_spark(CACHE, spark, n_pages, n_hosts,
                                         seed=42, zipf_s=0.25)
    pages = spark.read.schema(PAGES).parquet(pages_path)

    whdir = tempfile.mkdtemp(prefix="stress_wh_", dir=local_scratch_dir())
    store = SnapshotStore(spark, whdir)
    eng = CrawlEngine(spark, store, pages, max_pages=n_pages, seed=42,
                      cap=1, salt_buckets=max(8, cpus),
                      priority_frontier=True)
    eng.init_from_seeds(default_seeds_web(n_pages, n_hosts, k=n_hosts,
                                          per_host=5, zipf_s=0.25))

    frontier_dir = os.path.join(whdir, "frontier")
    edges_dir = os.path.join(whdir, "host_edges")
    rounds = []
    prev_frontier = dir_bytes(frontier_dir)
    t_all0 = time.monotonic()
    for _ in range(max_rounds):
        info = eng.run_round()
        if info is None:
            break
        cur_frontier = dir_bytes(frontier_dir)
        edges_t = store.table("host_edges")
        edges_rows = 0 if edges_t.is_empty() else edges_t.read().count()
        rounds.append({
            "round": info.round,
            "selected": info.selected,
            "new_urls": info.new_urls,
            "wall_ms": info.wall_ms,
            "frontier_delta_mb": round(
                (cur_frontier - prev_frontier) / 1e6, 2),
            "frontier_total_mb": round(cur_frontier / 1e6, 2),
            "host_edges_rows": edges_rows,
            "host_edges_mb": round(dir_bytes(edges_dir) / 1e6, 2),
        })
        prev_frontier = cur_frontier
        print(json.dumps(rounds[-1]), flush=True)
    wall = time.monotonic() - t_all0

    # ground truth for the host_edges bound: distinct cross-host pairs
    # in the final table (compaction claims row count == this)
    distinct_pairs = (0 if store.table("host_edges").is_empty()
                      else store.table("host_edges").read()
                      .select("src_host", "dst_host").distinct().count())

    n = len(rounds)
    if n == 0:
        print(json.dumps({"metric": "long_crawl_stress", "rounds": 0,
                          "error": "no rounds ran"}))
        shutil.rmtree(whdir, ignore_errors=True)
        return
    walls = sorted(r["wall_ms"] for r in rounds)
    q = max(n // 4, 1)  # quartile width; for n<4 both quartiles = 1 round
    out = {
        "metric": "long_crawl_stress",
        "rounds": n,
        "wall_sec": round(wall, 1),
        "pages_fetched": sum(r["selected"] for r in rounds),
        "median_round_ms": walls[n // 2],
        "p90_round_ms": walls[min(int(n * 0.9), n - 1)],
        "first_quarter_mean_ms": round(
            sum(r["wall_ms"] for r in rounds[:q]) / q),
        "last_quarter_mean_ms": round(
            sum(r["wall_ms"] for r in rounds[-q:]) / q),
        "frontier_total_mb_max": max(r["frontier_total_mb"] for r in rounds),
        "frontier_total_mb_final": rounds[-1]["frontier_total_mb"],
        "host_edges_rows_final": rounds[-1]["host_edges_rows"],
        "host_edges_distinct_pairs": distinct_pairs,
        "per_round": rounds,
        "cpus": cpus,
        "n_pages": n_pages,
        "n_hosts": n_hosts,
    }
    with open(os.path.join(REPO, "BENCH", "long_crawl_stress.json"),
              "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "per_round"}))
    shutil.rmtree(whdir, ignore_errors=True)


if __name__ == "__main__":
    main()
