"""Bloom-shard prefilter safety: no false negatives, exact-equivalence of
bloom_anti_join to the plain anti-join (SURVEY.md §5.4)."""

import os

from pyspark.sql import functions as F

from vyntr_spark.operators.bloom import (
    BloomShards, _shard_of, bloom_anti_join, shard_expr,
)


def test_bloom_equivalence(spark):
    seen = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p{i}.html",) for i in range(500)], "url string"
    )
    cand = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p{i}.html",) for i in range(400, 900)]
        + [("http://new.example/x",), (None,)],
        "url string",
    ).filter(F.col("url").isNotNull())

    bloom = BloomShards.sized_for(1000, fpp=0.01, n_shards=4).add_df(seen)
    plain = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    for route in ("sharded", "broadcast"):
        for confirm in ("shuffle", "broadcast"):
            via_bloom = {
                r["url"]
                for r in bloom_anti_join(
                    cand, seen, bloom, route=route, confirm=confirm
                ).collect()
            }
            assert via_bloom == plain, (route, confirm)
            # every truly-new url survived (no false negatives by design)
            assert "http://new.example/x" in via_bloom


def test_bloom_prefilter_rate(spark):
    """Most unseen urls should be dropped by the bloom (fpp ~1%), so the
    exact confirm join sees only a sliver."""
    seen = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(2000)], "url string"
    )
    unseen = spark.createDataFrame(
        [(f"http://b.example/{i}",) for i in range(2000)], "url string"
    )
    bloom = BloomShards.sized_for(4000, fpp=0.01, n_shards=8).add_df(seen)
    pred = bloom.might_contain_udf(spark)
    fp = unseen.withColumn("m", pred(F.col("url"))).filter("m").count()
    assert fp < 2000 * 0.05, f"false-positive rate too high: {fp}/2000"


def test_shard_expr_matches_python_hash(spark):
    """The native routing expr must agree with the Python _shard_of used
    at build time, else sharded lookups would consult the wrong bitmap."""
    urls = [(f"http://h{i % 13}.example/p{i}?q={i * 7}",) for i in range(300)]
    df = spark.createDataFrame(urls, "url string")
    for n_shards in (4, 8, 1024):
        got = df.select(
            "url", shard_expr(F.col("url"), n_shards).alias("s")
        ).collect()
        for r in got:
            assert r["s"] == _shard_of(r["url"], n_shards), (r["url"], n_shards)


def test_sharded_flagging_no_false_negatives_incremental(spark):
    """extend-then-apply through the sharded route: everything added to
    the bloom must flag as maybe-seen (zero false negatives), across an
    incremental add_df chain (partial bitmaps merged per shard)."""
    a = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(800)], "url string"
    ).repartition(7)
    b = spark.createDataFrame(
        [(f"http://b.example/{i}",) for i in range(800)], "url string"
    ).repartition(5)
    bloom = BloomShards.sized_for(2000, fpp=0.01, n_shards=8)
    bloom = bloom.add_df(a).add_df(b)
    flagged = bloom.flag_maybe_sharded(a.unionByName(b))
    assert flagged.filter(~F.col("_maybe")).count() == 0


def test_crawl_parity_with_bloom(spark, tmp_path):
    """Full crawl parity against the sequential oracle with the bloom
    prefilter ON (the scale path must not change the crawl's URL-seen
    set, fetch ordering, or expansion)."""
    from tests.test_crawl_oracle import (
        _assert_parity, _pages_map, _run_engine,
    )
    from vyntr_spark.oracle import run_oracle
    from vyntr_spark.synth import default_seeds, generate_pages

    rows = generate_pages(60, 4, seed=7)
    seeds = default_seeds(60, 4, k=2)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(
        spark, tmp_path, rows, seeds, seed=7,
        use_bloom=True, bloom_expected_n=10_000,
    )
    _assert_parity(store, infos, orc, rows)


def test_crawl_parity_with_auto_bloom_flip(spark, tmp_path):
    """use_bloom='auto' (cost-based path pick): with a tiny crossover
    the engine starts on the exact anti-join and flips to the bloom
    path mid-crawl once the tracked seen count crosses it — the crawl
    must stay bit-identical to the oracle across the flip (the bloom
    is a prefilter with exact confirm, so the flip can never change
    results, only plans)."""
    from tests.test_crawl_oracle import (
        _assert_parity, _pages_map, _run_engine,
    )
    from vyntr_spark.oracle import run_oracle
    from vyntr_spark.synth import default_seeds, generate_pages

    rows = generate_pages(60, 4, seed=7)
    seeds = default_seeds(60, 4, k=2)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(
        spark, tmp_path, rows, seeds, seed=7,
        use_bloom="auto", bloom_crossover_rows=10,
        bloom_expected_n=10_000,
    )
    _assert_parity(store, infos, orc, rows)
    # and with a huge crossover the engine never builds a bloom at all
    store2, infos2 = _run_engine(
        spark, tmp_path / "wh2", rows, seeds, seed=7,
        use_bloom="auto", bloom_crossover_rows=10**12,
    )
    _assert_parity(store2, infos2, orc, rows)


def test_confirm_broadcast_never_shuffles_seen(spark):
    """Plan pin for the broadcast-flip confirm: the physical plan must
    contain no SortMergeJoin / shuffle Exchange — seen is streamed through
    BroadcastHashJoins only (the whole point of the flip at 10^10 seen)."""
    seen = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(2000)], "url string"
    )
    cand = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(1900, 2100)], "url string"
    )
    bloom = BloomShards.sized_for(4000, fpp=0.01, n_shards=4).add_df(seen)
    out = bloom_anti_join(cand, seen, bloom, confirm="broadcast")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_bloom_save_load_roundtrip(spark, tmp_path):
    seen = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(1500)], "url string"
    )
    bloom = BloomShards.sized_for(3000, fpp=0.01, n_shards=8).add_df(seen)
    p = str(tmp_path / "bloom_ckpt.parquet")
    bloom.save(p, watermark=7)
    loaded, wm = BloomShards.load(p)
    assert wm == 7
    assert loaded.m_bits == bloom.m_bits
    assert loaded.k_hashes == bloom.k_hashes
    assert loaded.n_shards == bloom.n_shards
    for a, b in zip(loaded.shards, bloom.shards):
        assert (a == b).all()
    # no watermark round-trips as None
    bloom.save(p)
    _, wm2 = BloomShards.load(p)
    assert wm2 is None


def test_read_appended_since(spark, tmp_path):
    from vyntr_spark.tables import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "wh"))
    t = store.table("seen")
    mk = lambda urls: spark.createDataFrame(
        [(u,) for u in urls], "url string"
    ).select(F.hash("url").alias("url_hash"), "url")
    s1 = t.commit(mk(["http://a/1", "http://a/2"]), "append")
    s2 = t.commit(mk(["http://a/3"]), "append")
    delta = t.read_appended_since(s1)
    assert {r["url"] for r in delta.collect()} == {"http://a/3"}
    assert t.read_appended_since(s2).count() == 0
    # a replace after the watermark makes the delta undefined
    t.commit(mk(["http://a/9"]), "replace")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_appended_since(s1)


def test_crawl_bloom_checkpoint_resume(spark, tmp_path):
    """Kill-after-round-k with use_bloom: a fresh engine on the same store
    loads the checkpointed shards, catches up from the watermark, and the
    final state matches the sequential oracle — and the resumed engine's
    bloom must contain every committed seen url (no false negatives vs
    the table, the invariant that prevents duplicate re-crawls)."""
    from tests.test_crawl_oracle import (
        _assert_parity, _pages_map, _run_engine,
    )
    from vyntr_spark.crawl import CrawlEngine
    from vyntr_spark.oracle import run_oracle
    from vyntr_spark.synth import default_seeds, generate_pages
    from vyntr_spark.tables import SnapshotStore

    rows = generate_pages(60, 4, seed=11)
    seeds = default_seeds(60, 4, k=2)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=11)

    whdir = str(tmp_path / "wh")
    store = SnapshotStore(spark, whdir)
    from vyntr_spark.tables import PAGES

    pages = spark.createDataFrame(rows, PAGES)
    eng1 = CrawlEngine(spark, store, pages, max_pages=10_000, seed=11,
                       use_bloom=True, bloom_expected_n=10_000,
                       compact_every=1)  # checkpoint every round
    eng1.init_from_seeds(seeds)
    eng1.run(max_rounds=2)  # killed after round 2
    import os

    assert os.path.exists(eng1._bloom_ckpt_path())

    # resume: fresh engine + fresh store handle on the same warehouse
    store2 = SnapshotStore(spark, whdir)
    eng2 = CrawlEngine(spark, store2, pages, max_pages=10_000, seed=11,
                       use_bloom=True, bloom_expected_n=10_000,
                       compact_every=1)
    infos2 = eng2.run(max_rounds=50)
    # bloom ⊇ committed seen (zero false negatives against the table)
    seen_df = store2.table("seen").read().select("url")
    flagged = eng2._bloom.flag_maybe_sharded(seen_df)
    assert flagged.filter(~F.col("_maybe")).count() == 0

    # full-state parity vs the oracle needs the COMBINED round infos;
    # re-run uninterrupted for the canonical comparison
    store3, infos3 = _run_engine(
        spark, tmp_path / "wh3", rows, seeds, seed=11,
        use_bloom=True, bloom_expected_n=10_000, compact_every=1,
    )
    _assert_parity(store3, infos3, orc, rows)
    # resumed store's final tables match the uninterrupted run's
    a = {r["url"] for r in store2.table("seen").read().collect()}
    b = {r["url"] for r in store3.table("seen").read().collect()}
    assert a == b, "seen"
    a = {(r["url"], r["title"], r["content_text"])
         for r in store2.table("analyses").read().collect()}
    b = {(r["url"], r["title"], r["content_text"])
         for r in store3.table("analyses").read().collect()}
    assert a == b, "analyses"


def test_build_routes_equivalent(spark):
    """'partial' and 'shuffled' builds must produce identical bitmaps —
    the route only changes WHERE the ORs happen, never the bits."""
    urls = spark.createDataFrame(
        [(f"http://r{i % 31}.example/p{i}",) for i in range(3000)],
        "url string",
    ).repartition(9)
    base = BloomShards.sized_for(6000, fpp=0.01, n_shards=8)
    a = base.add_df(urls, build_route="partial")
    b = base.add_df(urls, build_route="shuffled")
    for sa, sb in zip(a.shards, b.shards):
        assert (sa == sb).all()


def test_confirm_hash_probe_equivalence(spark):
    """seen_hash_col (stored F.hash(url) int key + string residual) must
    be exactly the plain anti-join — int collisions are resolved by the
    residual equality."""
    seen = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p{i}",) for i in range(1000)],
        "url string",
    ).select(F.hash("url").alias("url_hash"), "url")
    cand = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p{i}",) for i in range(900, 1400)],
        "url string",
    )
    from vyntr_spark.operators.bloom import flag_maybe, split_by_flag

    bloom = BloomShards.sized_for(2000, fpp=0.01, n_shards=4).add_df(seen)
    plain = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    flagged = flag_maybe(bloom, cand)
    got = {
        r["url"]
        for r in split_by_flag(flagged, seen, confirm="broadcast",
                               seen_hash_col="url_hash").collect()
    }
    assert got == plain


def test_confirm_survives_real_hash_collision(spark):
    """A seen url and a candidate url with EQUAL Spark murmur3 hashes
    (found once by a birthday search over 300k generated urls): the
    int-keyed probe matches the pair, and only the url residual keeps
    the candidate new. Every candidate is forced through the exact
    confirm (_maybe=True, as for a bloom false positive)."""
    from vyntr_spark.operators.bloom import broadcast_anti_join, split_by_flag

    in_seen = "http://collide.example/p11434.html"
    in_cand = "http://collide.example/p276687.html"
    pair = spark.createDataFrame([(in_seen,), (in_cand,)], "url string")
    hashes = [r[0] for r in pair.select(F.hash("url")).collect()]
    assert hashes[0] == hashes[1] == -1240487870
    seen = spark.createDataFrame(
        [(in_seen,), ("http://collide.example/old.html",)], "url string"
    ).select(F.hash("url").alias("url_hash"), "url")
    cand = spark.createDataFrame(
        [(in_cand,), ("http://collide.example/old.html",)], "url string"
    )
    flagged = cand.withColumn("_maybe", F.lit(True))
    for confirm, hash_col in (("broadcast", "url_hash"),
                              ("broadcast", None), ("shuffle", None)):
        got = [r["url"] for r in split_by_flag(
            flagged, seen, confirm=confirm, seen_hash_col=hash_col
        ).collect()]
        assert got == [in_cand], (confirm, hash_col)
    got = [r["url"] for r in broadcast_anti_join(cand, seen).collect()]
    assert got == [in_cand]


def test_seen_mixed_spark_and_arrow_snapshots(spark, tmp_path):
    """A crawl's seen table holds Spark-written snapshots (F.hash int on
    disk) and driver-written ones (the same F.hash collected as Arrow,
    cast to long by commit_rows). Both read back as LongType with equal
    hashes, and the int-keyed broadcast confirm finds seen rows in either
    snapshot exactly like the plain anti-join."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from vyntr_spark.operators.bloom import split_by_flag
    from vyntr_spark.tables import SnapshotStore

    urls = [f"http://h{i % 5}.example/p{i}" for i in range(400)]
    spark_half = spark.createDataFrame(
        [(u,) for u in urls[:200]], "url string"
    ).select(F.hash("url").alias("url_hash"), "url")
    arrow_half = spark.createDataFrame(
        [(u,) for u in urls[200:]], "url string"
    ).select(F.hash("url").alias("url_hash"), "url").toArrow()
    t = SnapshotStore(spark, str(tmp_path / "wh")).table("seen")
    t.commit(spark_half, "append", {"round": 0}, coalesce=2)
    t.commit_rows(arrow_half, "append", {"round": 1})
    on_disk = [
        pq.read_schema(os.path.join(s.path, f)).field("url_hash").type
        for s in t.snapshots() for f in sorted(os.listdir(s.path))
        if f.endswith(".parquet")
    ]
    assert {str(x) for x in on_disk} == {"int32", "int64"}

    seen = t.read()
    assert seen.schema["url_hash"].dataType == T.LongType()
    got = {r["url"]: r["url_hash"] for r in seen.collect()}
    want = {r["url"]: r["h"] for r in spark.createDataFrame(
        [(u,) for u in urls], "url string"
    ).select("url", F.hash("url").alias("h")).collect()}
    assert got == want

    cand = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p{i}",) for i in range(150, 450)],
        "url string",
    )
    plain = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert plain == {f"http://h{i % 5}.example/p{i}" for i in range(400, 450)}
    flagged = cand.withColumn("_maybe", F.lit(True))
    got = {r["url"] for r in split_by_flag(
        flagged, seen, confirm="broadcast", seen_hash_col="url_hash"
    ).collect()}
    assert got == plain


def test_release_drops_broadcast_then_rebuilds_on_demand(spark):
    """round-3 review: superseded per-round blooms must free their
    executor-resident broadcast eagerly. release() drops the memoized
    broadcast, is idempotent, and a later flag call on the same
    instance transparently re-broadcasts with identical answers."""
    seen = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(500)], "url string"
    )
    bloom = BloomShards.sized_for(1000, fpp=0.01, n_shards=4).add_df(seen)
    pred = bloom.might_contain_udf(spark)
    before = seen.withColumn("m", pred(F.col("url"))).filter("m").count()
    assert before == 500 and bloom._bc is not None
    bloom.release()
    assert bloom._bc is None
    bloom.release()  # idempotent
    pred2 = bloom.might_contain_udf(spark)
    after = seen.withColumn("m", pred2(F.col("url"))).filter("m").count()
    assert after == 500 and bloom._bc is not None


def test_corrupt_bloom_checkpoint_degrades_to_rebuild(spark, tmp_path):
    """round-3 review: an unreadable bloom_ckpt.parquet (IO-level
    corruption, not just shape drift) must degrade to a logged full
    rebuild from the seen table — never crash the resume — and the
    resumed crawl must still match the uninterrupted run."""
    import os

    from tests.test_crawl_oracle import _run_engine
    from vyntr_spark.crawl import CrawlEngine
    from vyntr_spark.synth import default_seeds, generate_pages
    from vyntr_spark.tables import PAGES, SnapshotStore

    rows = generate_pages(60, 4, seed=13)
    seeds = default_seeds(60, 4, k=2)
    whdir = str(tmp_path / "wh")
    store = SnapshotStore(spark, whdir)
    pages = spark.createDataFrame(rows, PAGES)
    eng1 = CrawlEngine(spark, store, pages, max_pages=10_000, seed=13,
                       use_bloom=True, bloom_expected_n=10_000,
                       compact_every=1)
    eng1.init_from_seeds(seeds)
    eng1.run(max_rounds=2)
    p = eng1._bloom_ckpt_path()
    assert os.path.exists(p)
    with open(p, "wb") as fh:
        fh.write(b"\x00not a parquet file\xff" * 37)  # truncated garbage

    store2 = SnapshotStore(spark, whdir)
    eng2 = CrawlEngine(spark, store2, pages, max_pages=10_000, seed=13,
                       use_bloom=True, bloom_expected_n=10_000,
                       compact_every=1)
    eng2.run(max_rounds=50)  # must not raise
    # the rebuilt bloom covers every committed seen url
    seen_df = store2.table("seen").read().select("url")
    flagged = eng2._bloom.flag_maybe_sharded(seen_df)
    assert flagged.filter(~F.col("_maybe")).count() == 0
    # final tables match an uninterrupted reference run
    store3, _ = _run_engine(
        spark, tmp_path / "wh3", rows, seeds, seed=13,
        use_bloom=True, bloom_expected_n=10_000, compact_every=1,
    )
    a = {r["url"] for r in store2.table("seen").read().collect()}
    b = {r["url"] for r in store3.table("seen").read().collect()}
    assert a == b


def test_auto_bloom_resume_recounts_seen(spark, tmp_path):
    """use_bloom='auto' across a kill-and-resume: a fresh engine derives
    the seen count from the committed table, so a resume that starts
    past the crossover runs on the bloom path immediately — and the
    resumed crawl still matches an uninterrupted run bit-for-bit."""
    from tests.test_crawl_oracle import _pages_df, _run_engine
    from vyntr_spark.crawl import CrawlEngine
    from vyntr_spark.synth import default_seeds, generate_pages
    from vyntr_spark.tables import SnapshotStore

    rows = generate_pages(60, 4, seed=17)
    seeds = default_seeds(60, 4, k=2)
    whdir = str(tmp_path / "wh")
    kw = dict(use_bloom="auto", bloom_crossover_rows=5,
              bloom_expected_n=10_000)
    store = SnapshotStore(spark, whdir)
    eng1 = CrawlEngine(spark, store, _pages_df(spark, rows),
                       max_pages=10_000, seed=17, **kw)
    eng1.init_from_seeds(seeds)
    eng1.run(max_rounds=2)

    store2 = SnapshotStore(spark, whdir)
    eng2 = CrawlEngine(spark, store2, _pages_df(spark, rows),
                       max_pages=10_000, seed=17, **kw)
    # fresh engine has no cached count yet; the first activity check
    # must read the table (already > crossover) and pick the bloom path
    assert eng2._seen_rows is None
    assert eng2._bloom_active() is True
    assert eng2._seen_rows is not None and eng2._seen_rows > 5
    eng2.run(max_rounds=50)

    store3, _ = _run_engine(spark, tmp_path / "wh3", rows, seeds,
                            seed=17, **kw)
    a = {r["url"] for r in store2.table("seen").read().collect()}
    b = {r["url"] for r in store3.table("seen").read().collect()}
    assert a == b
