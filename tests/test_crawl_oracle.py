"""Spark crawl engine vs sequential oracle parity (SURVEY.md §5.2, §8).

The oracle is the pinned deterministic re-specification of the reference
crawler's core; the engine must match its per-round fetch sets, crawl
ordering, URL-seen set, analyses content and metrics — including after a
kill-and-resume.
"""

import pytest

from vyntr_spark.oracle import run_oracle
from vyntr_spark.synth import default_seeds, generate_pages
from vyntr_spark.tables import SnapshotStore


def _pages_map(rows):
    return {r["url"]: r for r in rows}


def _pages_df(spark, rows):
    from vyntr_spark.tables import PAGES

    return spark.createDataFrame(
        [
            (
                r["url"], r["warc_ts"], r["html"], r["text"], r["lang"],
                r["content_type"], r["status"], r["body_marker"],
            )
            for r in rows
        ],
        PAGES,
    )


def _run_engine(spark, tmp_path, rows, seeds, max_pages=10_000, max_rounds=100,
                robots=None, stop_after=None, **kw):
    from vyntr_spark.crawl import CrawlEngine

    store = SnapshotStore(spark, str(tmp_path / "wh"))
    robots_df = None
    if robots:
        robots_df = spark.createDataFrame(
            [(h, ps) for h, ps in robots.items()],
            "host string, disallow_prefixes array<string>",
        )
    eng = CrawlEngine(
        spark, store, _pages_df(spark, rows), max_pages=max_pages,
        collect_debug=True, robots=robots_df, **kw,
    )
    eng.init_from_seeds(seeds)
    infos = eng.run(max_rounds=stop_after or max_rounds)
    if stop_after is not None:
        # simulate a fresh process resuming from the committed snapshots
        eng2 = CrawlEngine(
            spark, SnapshotStore(spark, str(tmp_path / "wh")),
            _pages_df(spark, rows), max_pages=max_pages,
            collect_debug=True, robots=robots_df, **kw,
        )
        infos += eng2.run(max_rounds=max_rounds)
    return store, infos


def _assert_parity(store, infos, orc, rows):
    assert len(infos) == len(orc.rounds), (
        f"round count {len(infos)} vs oracle {len(orc.rounds)}"
    )
    for info, oround in zip(infos, orc.rounds):
        assert info.selected_urls == oround.selected, f"round {info.round} fetch order"
        assert info.outcomes == oround.outcomes, f"round {info.round} outcomes"
        assert info.new_url_list == oround.new_urls, f"round {info.round} expansion"
        assert info.dedup_dropped == oround.dedup_dropped

    # final URL-seen set
    seen_engine = {r["url"] for r in store.table("seen").read().collect()}
    assert seen_engine == orc.seen

    # analyses: byte-identical content per url vs oracle (and vs golden text)
    # duplicate urls (seed-quirk re-crawls) collapse to the LATEST round on
    # both sides explicitly — parquet union collect order is not contractual
    all_eng = store.table("analyses").read().collect()
    assert len(all_eng) == sum(len(rr.analyses) for rr in orc.rounds)
    eng_rows = {}
    for r in all_eng:
        prev = eng_rows.get(r["url"])
        if prev is None or r["round"] > prev["round"]:
            eng_rows[r["url"]] = r
    orc_rows = {a["url"]: a for a in (a for rr in orc.rounds for a in rr.analyses)}
    assert set(eng_rows) == set(orc_rows)
    golden = {r["url"]: r["text"] for r in rows}
    for url, o in orc_rows.items():
        e = eng_rows[url]
        assert e["content_text"] == o["content_text"], url
        assert e["title"] == o["title"], url
        assert e["language"] == o["language"], url
        assert e["canonical_url"] == o["canonical_url"], url
        assert [(m["name"], m["content"]) for m in e["meta_tags"]] == o["meta_tags"], url
        assert e["round"] == o["round"], url
        assert e["src_partition"] == o["src_partition"], url
        # the byte-identical invariant vs the pages.text golden column
        assert o["_raw_text"] == golden[url], url


@pytest.fixture(scope="module")
def tiny_web():
    rows = generate_pages(60, 4, seed=7)
    seeds = default_seeds(60, 4, k=2)
    return rows, seeds


def test_single_round_parity(spark, tmp_path, tiny_web):
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, max_rounds=1, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, max_rounds=1, seed=7)
    _assert_parity(store, infos, orc, rows)


def test_multi_round_full_crawl_parity(spark, tmp_path, tiny_web):
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7)
    _assert_parity(store, infos, orc, rows)


def test_parity_replace_frontier_mode(spark, tmp_path, tiny_web):
    """frontier_mode='replace' (the O(frontier)-rewrite fallback) must
    produce the identical crawl."""
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7,
                               frontier_mode="replace")
    _assert_parity(store, infos, orc, rows)


def test_parity_with_frequent_compaction(spark, tmp_path, tiny_web):
    """compact_every=1 folds the delta log into a fresh base after every
    round — parity must hold and compaction snapshots must exist."""
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7,
                               compact_every=1)
    _assert_parity(store, infos, orc, rows)
    compacts = [
        s for s in store.table("frontier").snapshots()
        if "compact_round" in s.summary
    ]
    assert len(compacts) == len(infos)
    # post-compaction maintenance expired superseded delta snapshots
    # (path cleared, lineage id kept) once history exceeded expire_keep
    snaps = store.table("frontier").snapshots()
    if len(snaps) > 4:
        assert any(s.path == "" for s in snaps)
    # current state still reads fine after expiration
    assert store.table("frontier").read().count() >= 0


def test_parity_broadcast_flip_dedup(spark, tmp_path, tiny_web):
    """Kill-and-resume parity with the exact dedup on the broadcast flip:
    with auto-broadcast off, the tiny seen table counts as too big to
    broadcast, so every round streams seen through a broadcast of its
    candidates instead of taking the plain anti-join."""
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7,
                                   stop_after=2)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    _assert_parity(store, infos, orc, rows)


def test_exact_dedup_never_shuffles_seen(spark, tmp_path, monkeypatch):
    """Plan pin for the default (non-bloom) dedup. A seen table within
    the planner's auto-broadcast threshold takes the plain anti-join,
    which broadcasts seen. Past the threshold, while the round's
    candidates fit a broadcast, seen is streamed through broadcasts only
    — no SortMergeJoin, no hash-partitioning Exchange. With the
    broadcast cap forced to 0 the shuffled anti-join fallback returns
    the same rows on every path."""
    from vyntr_spark.crawl import CrawlEngine
    from vyntr_spark.operators import bloom

    store = SnapshotStore(spark, str(tmp_path / "wh"))
    eng = CrawlEngine(spark, store, _pages_df(spark, []))
    eng.init_from_seeds(
        [f"http://h{i % 5}.example/p{i}.html" for i in range(2000)])
    cand = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p{i}.html", f"h{i % 5}.example")
         for i in range(1900, 2100)],
        "url string, host string",
    ).persist()
    expected = sorted(
        r["url"] for r in
        cand.join(store.table("seen").read(), "url", "left_anti").collect()
    )
    assert len(expected) == 100

    def plan_and_rows():
        new, flagged = eng._dedup(cand, use_bloom=False)
        assert flagged is None
        return (new._jdf.queryExecution().executedPlan().toString(),
                sorted(r["url"] for r in new.collect()))

    plan, rows = plan_and_rows()
    assert "LeftSemi" not in plan  # the plain anti-join, not the flip
    assert "SortMergeJoin" not in plan
    assert rows == expected

    # the seen table counts as too big to broadcast from here on
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan, rows = plan_and_rows()
        assert "LeftSemi" in plan  # the flip
        assert "SortMergeJoin" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert rows == expected

        monkeypatch.setattr(bloom, "BROADCAST_CONFIRM_MAX_ROWS", 0)
        plan, rows = plan_and_rows()
        assert "LeftSemi" not in plan
        assert "SortMergeJoin" in plan
        assert rows == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    cand.unpersist()


def test_politeness_cap(spark, tmp_path):
    # 1 hot host with 40 pages + small hosts: ≤5/host/round (crawler.rs:28-48)
    rows = generate_pages(60, 2, seed=11)  # zipf: host0 hot
    seeds = default_seeds(60, 2, k=2)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=11)
    for rr in orc.rounds:
        per_host = {}
        for u in rr.selected:
            h = u.split("/")[2]
            per_host[h] = per_host.get(h, 0) + 1
        assert all(v <= 5 for v in per_host.values())
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=11)
    _assert_parity(store, infos, orc, rows)


def test_budget_truncation(spark, tmp_path, tiny_web):
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=13, seed=7)
    assert sum(len(r.selected) for r in orc.rounds) == 13
    store, infos = _run_engine(spark, tmp_path, rows, seeds, max_pages=13, seed=7)
    _assert_parity(store, infos, orc, rows)


def test_resume_mid_frontier(spark, tmp_path, tiny_web):
    # kill after round 1, resume from snapshots -> same final state
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7, stop_after=1)
    _assert_parity(store, infos, orc, rows)


def test_inprocess_retry_recounts_frontier(spark, tmp_path, tiny_web,
                                           monkeypatch):
    """A round that raises mid-flight must leave the tracked frontier
    size invalidated (crawl.py run_round sets it to None for the round's
    duration), so an in-process retry on the SAME engine re-counts
    instead of making budget/empty decisions on a stale number — and the
    retried crawl still matches the sequential oracle exactly."""
    from vyntr_spark import crawl as crawl_mod
    from vyntr_spark.crawl import CrawlEngine

    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)

    store = SnapshotStore(spark, str(tmp_path / "wh"))
    eng = CrawlEngine(spark, store, _pages_df(spark, rows),
                      max_pages=10_000, collect_debug=True, seed=7)
    eng.init_from_seeds(seeds)
    infos = [eng.run_round()]  # round 0 clean

    # poison the tracked size, then blow up round 1 after it is read
    real_select = crawl_mod.politeness_select
    def boom(*a, **kw):
        raise RuntimeError("injected mid-round failure")
    monkeypatch.setattr(crawl_mod, "politeness_select", boom)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_round()
    assert eng._frontier_size is None, (
        "failed round must invalidate the tracked frontier size"
    )
    monkeypatch.setattr(crawl_mod, "politeness_select", real_select)

    # retry on the same engine instance: re-counts, crawls to completion
    infos += eng.run(max_rounds=100)
    _assert_parity(store, infos, orc, rows)


def test_robots_gating(spark, tmp_path, tiny_web):
    rows, seeds = tiny_web
    robots = {"host0.example": ["/p1", "/p3"]}
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7, robots=robots)
    blocked = [u for rr in orc.rounds for u, o in rr.outcomes.items() if o == "robots_blocked"]
    assert blocked, "fixture should block something"
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7, robots=robots)
    _assert_parity(store, infos, orc, rows)


def test_seed_quirks_normalize_true(spark, tmp_path, tiny_web):
    rows, _ = tiny_web
    seeds = ["  http://host0.example/p0.html  ", "", "HOST0.example/p0.html",
             "http://host1.example/p0.html"]
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7)
    _assert_parity(store, infos, orc, rows)


def test_seed_quirks_normalize_false(spark, tmp_path, tiny_web):
    # reference quirk (main.rs:217-224): raw seed in visited; its normalized
    # alias is NOT marked seen, so a link to it is re-discovered
    rows, _ = tiny_web
    seeds = ["HOST0.example/p0.html", "http://host1.example/p0.html"]
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7,
                     normalize_seeds=False)
    assert "HOST0.example/p0.html" in orc.seen
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7,
                               normalize_seeds=False)
    _assert_parity(store, infos, orc, rows)


def test_priority_mode_parity(spark, tmp_path, tiny_web):
    """priority_frontier=True vs the sequential priority oracle
    (oracle.py priority=True): identical per-round fetch sets, crawl
    ordering, expansion, seen set and analyses — the OPIC-style
    (priority desc, round, url) politeness+budget order re-specified
    sequentially, edges visible from the next round on."""
    rows, seeds = tiny_web
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=7,
                     priority=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=7,
                               priority_frontier=True)
    _assert_parity(store, infos, orc, rows)


def test_priority_mode_parity_budget_bound(spark, tmp_path):
    """Priority parity in the regime the mode exists for: the page
    budget binds every round, so the budget cut IS the priority queue
    (cross-host authority pick). A hub host with many backlink hosts
    must be crawled ahead of BFS order on BOTH sides, identically."""
    rows = generate_pages(120, 8, seed=11)
    seeds = default_seeds(120, 8, k=4)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=40, seed=11,
                     priority=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=11,
                               max_pages=40, priority_frontier=True)
    _assert_parity(store, infos, orc, rows)
    # (behavioral divergence from BFS under authority skew is proven
    # separately on a crafted hub web —
    # test_scheduling.py::test_priority_frontier_budget_cut_prefers_authority;
    # on this symmetric synthetic web the fetch SETS can coincide, and
    # the value here is the order/expansion/seen parity above)


def test_priority_mode_parity_hub_web(spark, tmp_path):
    """Priority parity on a web where the mode GENUINELY reorders: 6
    hosts, every non-hub page links 3 hub pages, budget binds in round
    1 — the engine and the sequential priority oracle must both crawl
    the authoritative hub ahead of BFS order, identically, and the
    priority crawl must diverge from the BFS oracle (non-vacuous)."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    hosts = [f"h{i}.example" for i in range(5)] + ["hub.example"]

    def u(host, i):
        return f"http://{host}/p{i}.html"

    rows = []
    for host in hosts:
        for i in range(4):
            if host == "hub.example":
                links = "".join(f'<a href="{u(host, j)}">l</a>'
                                for j in (1, 2, 3))
            else:
                links = ("".join(f'<a href="{u("hub.example", j)}">l</a>'
                                 for j in (1, 2, 3))
                         + "".join(f'<a href="{u(host, j)}">s</a>'
                                   for j in (1, 2, 3)))
            html = f"<html><body><p>pg</p>{links}</body></html>"
            rows.append({
                "url": u(host, i), "warc_ts": ts,
                "html": bytearray(html.encode()), "text": "pg",
                "lang": "en", "content_type": "text/html",
                "status": 200, "body_marker": "",
            })
    seeds = [u(h, 0) for h in hosts]

    orc = run_oracle(_pages_map(rows), seeds, max_pages=12, seed=3,
                     priority=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=3,
                               max_pages=12, priority_frontier=True)
    _assert_parity(store, infos, orc, rows)
    # non-vacuous: the priority oracle's round-1 set differs from BFS
    bfs = run_oracle(_pages_map(rows), seeds, max_pages=12, seed=3)
    hub_urls = {u("hub.example", j) for j in (1, 2, 3)}
    assert hub_urls <= set(orc.rounds[1].selected)
    assert not (hub_urls & set(bfs.rounds[1].selected))


def test_priority_mode_parity_half_up_rounding(spark, tmp_path):
    """Priority parity where rounding to 6 places decides the budget
    cut. Spark's round() on a double rounds the shortest decimal string
    HALF_UP, so the depth-1 penalty -5e-7 becomes -1e-6, while
    half-to-even on the binary value gives -0.0. Round 2 then holds two
    x.example depth-1 pages (held back by the politeness cap, priority
    -1e-6) and one h.example depth-2 page whose backlink term cancels
    its penalty to +1e-7 -> 0.0; the budget takes one page, and only a
    HALF_UP oracle picks the h.example page like the engine does."""
    import datetime
    import math

    ts = datetime.datetime(2026, 1, 1)

    def page(url, links=()):
        body = "".join(f'<a href="{t}">l</a>' for t in links)
        return {
            "url": url, "warc_ts": ts,
            "html": bytearray(f"<html><body><p>pg</p>{body}</body></html>"
                              .encode()),
            "text": "pg", "lang": "en", "content_type": "text/html",
            "status": 200, "body_marker": "",
        }

    x = [f"http://x.example/p{i}.html" for i in range(8)]
    s0, h0, h1 = ("http://s.example/p0.html", "http://h.example/p0.html",
                  "http://h.example/p1.html")
    rows = ([page(x[0], x[1:])] + [page(u) for u in x[1:]]
            + [page(s0, [h0]), page(h0, [h1]), page(h1)])
    seeds = [x[0], s0]
    # rounds 0+1 fetch 2 + 6 pages, so round 2 has a budget of one page
    kw = dict(max_pages=9, seed=5)
    weights = dict(w_backlinks=1.1e-6 / math.log(2), w_depth=5e-7)

    orc = run_oracle(_pages_map(rows), seeds, priority=True, **kw, **weights)
    assert orc.rounds[2].selected == [h1]
    store, infos = _run_engine(
        spark, tmp_path, rows, seeds, priority_frontier=True,
        priority_w_backlinks=weights["w_backlinks"],
        priority_w_depth=weights["w_depth"], **kw,
    )
    _assert_parity(store, infos, orc, rows)


def test_adaptive_rate_parity(spark, tmp_path):
    """adaptive_rate=True vs the sequential AIMD oracle
    (oracle.py adaptive=True): the synthetic web carries 403s,
    Cloudflare markers and non-HTML content types, so failing hosts get
    throttled caps — per-round fetch sets, ordering, expansion and seen
    set must match exactly, including the window arithmetic and the
    policy-outcome exclusions."""
    rows = generate_pages(100, 5, seed=13)
    seeds = default_seeds(100, 5, k=5)
    # non-vacuous: the web actually contains fetch-health failures
    assert any(r["status"] == 403 or (r["body_marker"] or "") != ""
               for r in rows)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=13,
                     adaptive=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=13,
                               adaptive_rate=True)
    _assert_parity(store, infos, orc, rows)
    # and the throttle engaged somewhere: some round selects fewer URLs
    # for a host than plain BFS politeness would
    bfs = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=13)
    assert [r.selected for r in orc.rounds] != \
        [r.selected for r in bfs.rounds]


def test_adaptive_rate_parity_all_healthy_identical(spark, tmp_path,
                                                    tiny_web):
    """On an all-success web the AIMD controller must be a no-op: the
    adaptive oracle equals the plain oracle bit-for-bit (the engine-side
    twin of test_scheduling's all-success invariance)."""
    rows, seeds = tiny_web
    healthy = [dict(r, status=200, body_marker="", content_type="text/html")
               for r in rows]
    a = run_oracle(_pages_map(healthy), seeds, max_pages=10_000, seed=7,
                   adaptive=True)
    b = run_oracle(_pages_map(healthy), seeds, max_pages=10_000, seed=7)
    assert [(r.selected, r.new_urls) for r in a.rounds] == \
        [(r.selected, r.new_urls) for r in b.rounds]


def test_priority_plus_adaptive_parity(spark, tmp_path):
    """Both opt-in modes together: authority-ordered politeness under
    AIMD caps — the oracle composes key-order and per-host caps the
    same way politeness_select does (the containment argument holds for
    any order × any cap), so parity must hold with both flags on."""
    rows = generate_pages(100, 5, seed=17)
    seeds = default_seeds(100, 5, k=5)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=17,
                     priority=True, adaptive=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=17,
                               priority_frontier=True, adaptive_rate=True)
    _assert_parity(store, infos, orc, rows)


def test_priority_adaptive_resume_parity(spark, tmp_path):
    """Kill-and-resume with BOTH opt-in modes on: the authority
    (host_edges) and AIMD (host_stats) state live in snapshot tables,
    so a fresh engine resuming mid-frontier must reproduce the exact
    uninterrupted crawl — same parity bar as the default-mode resume
    test, now covering the modes' cross-round state."""
    rows = generate_pages(100, 5, seed=19)
    seeds = default_seeds(100, 5, k=5)
    orc = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=19,
                     priority=True, adaptive=True)
    store, infos = _run_engine(spark, tmp_path, rows, seeds, seed=19,
                               stop_after=1, priority_frontier=True,
                               adaptive_rate=True)
    _assert_parity(store, infos, orc, rows)


def test_priority_zero_weights_is_bfs():
    """Degenerate-weight invariance (pure-Python, no Spark): with
    w_backlinks=0 and w_depth=0 every priority is 0, so the
    (priority desc, round, url) order collapses to BFS (round, url) —
    the priority oracle must equal the plain oracle bit-for-bit."""
    rows = generate_pages(80, 4, seed=29)
    seeds = default_seeds(80, 4, k=3)
    a = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=29,
                   priority=True, w_backlinks=0.0, w_depth=0.0)
    b = run_oracle(_pages_map(rows), seeds, max_pages=10_000, seed=29)
    assert [(r.selected, r.new_urls, r.outcomes) for r in a.rounds] == \
        [(r.selected, r.new_urls, r.outcomes) for r in b.rounds]
    assert a.seen == b.seen
