#!/usr/bin/env python
"""One scaling-evidence run at a fixed parallelism (spawned by
run_scaling.py). Runs the north-rule crawl workload on the cached
web-profile synthetic web (realistic ~30 KB pages — Common-Crawl-sized,
so extraction/expansion work dominates scheduler overhead the way it
does on a real cluster) and prints one JSON line:
{wall_sec, fetched, frontier_processed, analyses_hash, cpus}.

The analyses_hash is an order-insensitive content hash — identical
hashes across parallelism levels evidence the determinism contract
(SURVEY.md §5.5) alongside the throughput scaling numbers.

Before the timed region the worker warms what a steady-state cluster
has warm: Python UDF workers (the extraction kernel import), JVM
codegen, and the page cache for the input parquet.

Usage: scaling_worker.py CPUS N_PAGES N_HOSTS [ROUNDS] [--gen-only]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vyntr_spark.crawl import CrawlEngine  # noqa: E402
from vyntr_spark.operators.extract_udf import extract_udf  # noqa: E402
from vyntr_spark.session import (  # noqa: E402
    get_spark, local_scratch_dir, size_bench_session,
)
from vyntr_spark.synth import cached_pages_path_spark, default_seeds_web  # noqa: E402
from vyntr_spark.tables import PAGES, SnapshotStore  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1])
    n_pages = int(sys.argv[2])
    n_hosts = int(sys.argv[3])
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    gen_only = "--gen-only" in sys.argv
    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_data"
    )

    # FIXED heap at both parallelism levels. Per-executor heap is constant
    # on a real cluster (more executors = more JVMs, not a bigger one), and
    # a one-JVM local[4N] with a 4x heap measurably anti-scales: a fresh
    # JVM growing a tens-of-GB G1 heap page-faults new memory mid-job and
    # serializes on kernel page-zeroing (observed: sum(length(html)) over
    # the corpus 1.2s at Xmx16g vs 6.2s at Xmx64g on 32 threads).
    # The heap is pre-faulted at JVM start: a cluster's long-lived
    # executors run with warm heaps, but a fresh benchmark JVM growing
    # its heap mid-round serializes on kernel page-zeroing exactly during
    # the first (widest) round — measured as the round-1 scaling loss
    # (interleaved A/B at local[32]: 45.1/62.0 s pre-touched vs
    # 57.5/72.3 s control in the same windows; best round-1 wall on
    # record, 14.9 s, came from a pre-touched run). The CPUS argument,
    # not the host's core count, sets the parallelism.
    size_bench_session()
    spark = get_spark(f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra={
                          # binary-heavy scan: default 128 MB splits pack
                          # the whole corpus into fewer tasks than cores,
                          # capping the fetch+extract stage's parallelism
                          "spark.sql.files.maxPartitionBytes": "16m",
                          "spark.sql.files.openCostInBytes": "1m",
                      })
    spark.sparkContext.setLogLevel("ERROR")

    pages_path = cached_pages_path_spark(cache, spark, n_pages, n_hosts,
                                         seed=42, zipf_s=0.25)
    if gen_only:
        print(json.dumps({"generated": pages_path}))
        return
    pages = spark.read.schema(PAGES).parquet(pages_path)

    # warehouse on the same local scratch bench.py uses (tmpfs when
    # present): snapshot commits are the phase whose writes otherwise
    # funnel all executor threads through the ONE shared virtio disk
    # queue — a single-host artifact a real cluster (object-store
    # commits) does not have; measured as multi-core system-time
    # storms in the host telemetry
    whdir = tempfile.mkdtemp(prefix=f"scal_wh_{cpus}_",
                             dir=local_scratch_dir())
    store = SnapshotStore(spark, whdir)
    io_coalesce_env = os.environ.get("VYNTR_IO_COALESCE", "")
    io_coalesce = None if io_coalesce_env == "none" else \
        int(io_coalesce_env) if io_coalesce_env else cpus
    eng = CrawlEngine(spark, store, pages, max_pages=n_pages, seed=42,
                      salt_buckets=32, io_coalesce=io_coalesce)
    # cap seeds per host => round 1 is already a full-width politeness
    # round; zipf_s=0.25 keeps the tail hosts deep enough that EVERY round
    # sweeps ~cap*n_hosts pages (the wide-crawl steady state the north
    # rule's throughput criterion is about), while still exercising ~50x
    # head/tail skew through the salted politeness window
    eng.init_from_seeds(default_seeds_web(n_pages, n_hosts, k=n_hosts,
                                          per_host=5, zipf_s=0.25))

    # warm-up outside the timed region: spin up every Python UDF worker on
    # the real extraction kernel (they pay pandas/pyarrow/package imports
    # once each) and fault the input parquet into cache. The warm DF is a
    # tiny local one — touching `pages` here would drag a scan into the
    # warm-up job.
    warm_html = "<html><body><p>warm <a href='http://w.example/a'>x</a></p></body></html>"
    warm = spark.createDataFrame(
        [(f"http://w.example/{i}", bytearray(warm_html.encode()))
         for i in range(cpus * 4)],
        "url string, html binary",
    ).repartition(cpus)
    warm.select(extract_udf(F.col("html"), F.col("url")).alias("ex")) \
        .select(F.sum(F.size("ex.links"))).collect()
    pages.select(F.sum(F.length("html"))).collect()

    # full pipeline warm-up: two small crawl rounds on a throwaway
    # warehouse warm JIT/codegen paths for every round-stage shape (the
    # first-ever round otherwise pays a ~30 s one-time JVM transient that
    # a steady-state cluster never sees)
    warm_dir = tempfile.mkdtemp(prefix=f"scal_warm_{cpus}_",
                                dir=local_scratch_dir())
    warm_eng = CrawlEngine(spark, SnapshotStore(spark, warm_dir), pages,
                           max_pages=3000, seed=42, salt_buckets=32,
                           io_coalesce=cpus)
    warm_eng.init_from_seeds(default_seeds_web(n_pages, n_hosts, k=1500,
                                               per_host=1, zipf_s=0.25))
    warm_eng.run(max_rounds=2)
    import shutil as _sh
    _sh.rmtree(warm_dir, ignore_errors=True)

    t0 = time.monotonic()
    infos = eng.run(max_rounds=rounds)
    wall = time.monotonic() - t0

    fetched = sum(i.selected for i in infos)
    frontier_processed = fetched + sum(i.new_urls for i in infos)

    an = store.table("analyses").read().select(
        F.md5(F.concat_ws("\x00", "url", "content_text", "title")).alias("h")
    )
    hashes = sorted(r["h"] for r in an.collect())
    digest = hashlib.md5("".join(hashes).encode()).hexdigest()

    import shutil

    shutil.rmtree(whdir, ignore_errors=True)
    print(json.dumps({
        "cpus": cpus,
        "wall_sec": round(wall, 3),
        "rounds": len(infos),
        "round_walls_ms": [i.wall_ms for i in infos],
        "fetched": fetched,
        "frontier_processed": frontier_processed,
        "pages_per_sec": round(fetched / wall, 2),
        "frontier_urls_per_sec": round(frontier_processed / wall, 2),
        "analyses_hash": digest,
        "n_analyses": len(hashes),
    }))


if __name__ == "__main__":
    main()
