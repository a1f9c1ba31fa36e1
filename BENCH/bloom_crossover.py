#!/usr/bin/env python
"""Bloom-prefilter crossover evidence (VERDICT r2 "What's wrong" #1).

The C4 scale path (operators/bloom.py) replaces the exact seen anti-join
with bloom-prefilter + exact confirm. At bench scale the seen table is
tiny, so the bloom is pure overhead — this harness measures BOTH paths
against pre-seeded `seen` tables of increasing size (same candidate set)
and reports the crossover:

  exact   : candidates LEFT ANTI JOIN seen        — shuffles BOTH sides
            (SortMergeJoin: O(|seen|) shuffle per round, forever).
  bloom   : flag candidates against the broadcast shards (Arrow UDF, no
            shuffle), confirm the small survivor set with the broadcast
            FLIP (seen is scanned once, streamed through a
            BroadcastHashJoin — never shuffled or sorted).

The bloom build is timed separately and amortized: a crawl builds the
shards once and extends them incrementally with each round's new URLs
(CrawlEngine does exactly this; BloomShards.add_df is the increment).

Each (size, path) cell is best-of-2 with the result row-count
cross-checked between paths (the bloom union must equal the exact
anti-join bit-for-bit — also property-tested in tests/test_bloom.py).

Usage: python BENCH/bloom_crossover.py [sizes_csv] [n_cand] [overlap]
       defaults: 100000,1000000,10000000   2000000   0.05
Prints one JSON line and appends a measured block to BENCH/BASELINE.md
(idempotent: replaces the previous block between the markers).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vyntr_spark.operators.bloom import (  # noqa: E402
    BloomShards, flag_maybe, split_by_flag,
)
from vyntr_spark.session import (  # noqa: E402
    get_spark, local_scratch_dir, size_bench_session,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def url_expr(id_col):
    """Deterministic Common-Crawl-shaped url from a row id (native exprs:
    the synthesis must not bottleneck what it feeds)."""
    host = F.concat(F.lit("https://h"), (id_col % 500_000).cast("string"),
                    F.lit(".example.com"))
    return F.concat(host, F.lit("/p/"), id_col.cast("string"),
                    F.lit("/index.html"))


def main() -> None:
    sizes = [int(x) for x in
             (sys.argv[1] if len(sys.argv) > 1
              else "100000,1000000,10000000").split(",")]
    n_cand = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    overlap = float(sys.argv[3]) if len(sys.argv) > 3 else 0.05

    cpus = size_bench_session()
    spark = get_spark("bloom-crossover", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra={
                          # url tables compress ~10x: default 128 MB splits
                          # collapse the scans (and everything fed by them)
                          # to 1-3 tasks — same setting as bench.py
                          "spark.sql.files.maxPartitionBytes": "16m",
                          "spark.sql.files.openCostInBytes": "1m",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    scratch = tempfile.mkdtemp(prefix="bloomx_", dir=local_scratch_dir())

    n_seen_hits = int(n_cand * overlap)

    def bench(fn, reps: int = 2) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        return round(best, 3)

    rows = []
    for n_seen in sizes:
        seen_path = os.path.join(scratch, f"seen_{n_seen}")
        cand_path = os.path.join(scratch, f"cand_{n_seen}")
        # ---- synthesize (untimed) -----------------------------------------
        # same shape as the crawl's seen table: url + stored F.hash(url)
        # (the broadcast confirm keys its probe on the int column)
        (spark.range(n_seen, numPartitions=cpus)
         .select(url_expr(F.col("id")).alias("url"))
         .select(F.hash("url").alias("url_hash"), "url")
         .write.mode("overwrite").parquet(seen_path))
        # candidates: `overlap` of them collide with seen rows (spread over
        # the whole id range via a multiplicative step), the rest are new
        hit_ids = (spark.range(n_seen_hits, numPartitions=cpus)
                   .select(((F.col("id") * 2654435761) % n_seen).alias("id")))
        new_ids = (spark.range(n_cand - n_seen_hits, numPartitions=cpus)
                   .select((F.col("id") + n_seen).alias("id")))
        (hit_ids.unionByName(new_ids)
         .select(url_expr(F.col("id")).alias("url"))
         .write.mode("overwrite").parquet(cand_path))
        seen = spark.read.parquet(seen_path)
        cand = spark.read.parquet(cand_path)
        # warm page cache / codegen once per size
        seen.count(), cand.count()

        # ---- exact path ----------------------------------------------------
        exact_n = cand.join(seen, "url", "left_anti").count()
        t_exact = bench(
            lambda: cand.join(seen, "url", "left_anti").count())

        # ---- bloom path (engine pattern: flag once, persist, split) --------
        t0 = time.monotonic()
        bloom = BloomShards.sized_for(int(n_seen * 1.5), fpp=0.01,
                                      n_shards=8).add_df(seen)
        t_build = round(time.monotonic() - t0, 3)

        def bloom_run() -> int:
            flagged = flag_maybe(bloom, cand).persist()
            try:
                return split_by_flag(flagged, seen, confirm="broadcast",
                                     seen_hash_col="url_hash").count()
            finally:
                flagged.unpersist()

        bloom_n = bloom_run()
        assert bloom_n == exact_n, (bloom_n, exact_n)
        t_bloom = bench(bloom_run)

        rows.append({
            "n_seen": n_seen, "n_cand": n_cand, "overlap": overlap,
            "unseen_rows": exact_n,
            "exact_sec": t_exact, "bloom_sec": t_bloom,
            "bloom_build_sec": t_build,
            "bloom_total_bytes": bloom.total_bytes(),
            "speedup": round(t_exact / t_bloom, 2),
        })
        print(json.dumps(rows[-1]), file=sys.stderr, flush=True)
        shutil.rmtree(seen_path, ignore_errors=True)
        shutil.rmtree(cand_path, ignore_errors=True)

    shutil.rmtree(scratch, ignore_errors=True)
    result = {"cpus": cpus, "rows": rows}
    print(json.dumps(result))

    # ---- record in BENCH/BASELINE.md (replace previous block) --------------
    START = "<!-- bloom-crossover:start -->"
    END = "<!-- bloom-crossover:end -->"
    table = "\n".join(
        f"| {r['n_seen']:,} | {r['n_cand']:,} | {r['exact_sec']} "
        f"| {r['bloom_sec']} | {r['speedup']}x | {r['bloom_build_sec']} "
        f"| {r['bloom_total_bytes'] / 1e6:.1f} MB |"
        for r in rows
    )
    block = f"""{START}
## Bloom-prefilter crossover (seen anti-join scale path)

Same candidate set ({rows[0]['n_cand']:,} URLs, {int(overlap * 100)}% already
seen) against pre-seeded `seen` tables of increasing size, local[{cpus}],
best-of-2, result row-counts cross-checked equal between paths. `bloom`
flags candidates against broadcast shards (Arrow-vectorized, no shuffle)
and confirms survivors with the broadcast flip — `seen` is scanned once,
never shuffled; `exact` is the plain left-anti SortMergeJoin that
shuffles both sides. Build time is one-time (a crawl extends the shards
incrementally per round — CrawlEngine + BloomShards.add_df — and
checkpoints them with the snapshot store).

| seen rows | candidates | exact anti-join (s) | bloom path (s) | speedup | bloom build (s, one-time) | bloom size |
|---|---|---|---|---|---|---|
{table}
{END}"""
    bl = os.path.join(HERE, "BASELINE.md")
    text = open(bl).read()
    if START in text:
        pre = text.split(START)[0]
        post = text.split(END)[1]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    open(bl, "w").write(text)


if __name__ == "__main__":
    main()
