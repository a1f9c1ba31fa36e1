"""The crawl engine — iterative DataFrame rounds over snapshot tables.

Rebuild of the reference crawl lifecycle (genesis/src/main.rs:64-318,
traced in SURVEY.md §3.1) as one deterministic round of Spark jobs:

    round r:
      frontier ──politeness_select (C6: two-phase salted window)──► batch
      batch ──budget truncation in (round,url) order (C9), robots gate
            ──► selected, collected to the driver as Arrow
      pages ⋉ broadcast(selected)  (C10 "fetch" = semi-join of the big
             pages table against the small batch; at 10^10 scale the
             pages side is partition-pruned by url-bucket)
      native gate exprs (C11 content-type, C12 error class)
      extract_udf (C15, Arrow-vectorized)  ──► analyses snapshot (C19)
      explode(links) (C17) ──► distinct ──► anti-join seen (C4) ──► new
      ──► frontier(r+1) + seen append + metrics + round_state

Every round commits snapshots with summary props; resume = read the last
round_state snapshot and continue (kill-after-round-k produces the same
final state as an uninterrupted run — tested against the sequential
oracle in tests/test_crawl_oracle.py).

Scale notes (10^10-URL frontier design):
  * frontier/seen are hash-distributed on url; the seen anti-join never
    shuffles seen while the round's candidates fit a broadcast: seen is
    streamed once through a broadcast of the candidates and the (small)
    hit set broadcasts back (operators/bloom.py broadcast_anti_join); a
    seen table small enough for the planner to broadcast takes the plain
    anti-join, which broadcasts seen itself. In scale mode a bloom-shard
    prefilter shrinks the probe set to its survivors first; rounds too
    large to broadcast fall back to the shuffled anti-join.
  * frontier commits are O(round delta): discovered rows APPEND,
    fetched urls APPEND to a removal log, and the view (base ∪ adds −
    removed) compacts to a fresh base every compact_every rounds — the
    Parquet-fallback analog of Iceberg MERGE/positional deletes.
  * run_round is a fixed sequence of named phases over one _Round
    state object: select, fetch-extract, expand, tail (the independent
    commits, submitted together), record (metrics, then round_state
    last) and maintain.
  * the round's deltas are driver work: the selected batch, the
    outcome rows (metrics, host_stats) and the new urls are each
    collected once and committed with SnapshotTable.commit_rows — a
    distributed write of ~2k rows is scheduler overhead. Only the
    payload-heavy analyses write and the host_edges append are Spark
    writes. Driver memory bound: the batch (≤ cap per host, ≤ the
    page budget) and the round's new urls (≤ its distinct outlinks,
    i.e. batch × links per page) must fit in the Python driver; seen,
    frontier and pages never leave the executors.
  * no global rank anywhere: ordering is the composite (round, url).
"""

from __future__ import annotations

import os
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .canonicalize import try_domain, try_normalize
from .gates import (
    ALLOWED_CONTENT_TYPES, FAILED, MISSING, ROBOTS, SKIPPED_CT, SUCCESS,
)
from .operators.extract_udf import extract_udf, sanitize_col
from .operators.politeness import (
    MAX_PER_DOMAIN, batch_shuffle_key, politeness_select,
)
from .tables import FRONTIER, SnapshotStore


def _obs_count(obs, df: DataFrame) -> int:
    """Read a count Observation, falling back to a count job when the
    observed node never fired (AQE can collapse a provably-empty subtree
    to a LocalRelation, eliding the CollectMetrics node entirely — the
    observed value then does not exist)."""
    try:
        return int(obs.get["n"])
    except Exception:
        return df.count()


def _in_caller_job_group(spark: SparkSession, fn):
    """``fn`` wrapped to run with the calling thread's job group and
    tags. Pool threads are separate JVM threads in pinned-thread mode
    (PySpark's default), so they need the wrapper; with the mode off,
    ``inheritable_thread_target`` hands back its argument (the session)
    and ``fn`` runs as is."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def _md5_partition():
    """Lineage partition of a url: the first two hex digits of its md5."""
    return F.substring(F.md5(F.encode(F.col("url"), "utf-8")), 1, 2)


@dataclass
class RoundInfo:
    round: int
    selected: int
    success: int
    new_urls: int
    dedup_dropped: int
    wall_ms: int
    # populated only when collect_debug=True (test-scale)
    selected_urls: list[str] = field(default_factory=list)
    outcomes: dict[str, str] = field(default_factory=dict)
    new_url_list: list[str] = field(default_factory=list)


@dataclass
class _Round:
    """One round's state, handed from phase to phase by run_round."""
    rnd: int
    pages_count: int
    fsize: int  # tracked frontier size at the start of the round
    use_bloom: bool
    t0: float
    # the selected batch on the driver, with _robots, its lineage
    # partition _part and, under collect_debug, its fetch order _order
    batch: pa.Table
    sel: DataFrame  # its local relation (the fetch join's build side)
    obs_cand: Observation = field(default_factory=Observation)
    fetched_slim: DataFrame | None = None
    extracted: DataFrame | None = None
    cand: DataFrame | None = None
    new: DataFrame | None = None
    new_rows: pa.Table | None = None  # `new`, collected by the tail
    flagged: DataFrame | None = None
    # one dict per fetched or missing url: url, host, _part, outcome
    # (and _order under collect_debug)
    outcomes: list[dict] = field(default_factory=list)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        max_pages: int = 50_000,
        seed: int = 42,
        cap: int = MAX_PER_DOMAIN,
        salt_buckets: int = 32,
        normalize_seeds: bool = True,
        robots: DataFrame | None = None,
        collect_debug: bool = False,
        use_bloom: bool | str = False,
        bloom_expected_n: int = 1_000_000,
        bloom_crossover_rows: int = 40_000_000,
        io_coalesce: int | None = 4,
        compact_every: int = 8,
        adaptive_rate: bool = False,
        rate_window: int = 3,
        priority_frontier: bool = False,
        priority_w_backlinks: float = 1.0,
        priority_w_depth: float = 0.5,
        expire_keep: int | None = 4,
        logger=None,
    ):
        self.spark = spark
        # the engine's extract UDF needs vyntr_spark importable in the
        # Python workers; for sessions not built by get_spark (or not
        # launched via spark-submit --py-files) ship the package zip now
        from .session import ensure_pyfiles

        ensure_pyfiles(spark)
        self.store = store
        self.pages = pages
        self.max_pages = max_pages
        self.seed = seed
        self.cap = cap
        self.salt_buckets = salt_buckets
        self.normalize_seeds = normalize_seeds
        self.robots = robots
        self.collect_debug = collect_debug
        # use_bloom: False = exact anti-join, True = bloom prefilter,
        # 'auto' = cost-based pick (round-3 review): the bloom path only
        # pays once the seen table is large enough that its flag+confirm
        # overhead beats probing seen with every candidate. The 40M-row
        # default was measured (BENCH/bloom_crossover.py: bloom 1.5x at
        # 40M, 4.4x at 100M) against the old exact path, which shuffled
        # seen every round; the exact path now streams seen through a
        # broadcast instead (_dedup), so the crossover is unverified
        # until the curve is re-measured. 'auto' counts seen once on
        # start/resume, tracks it incrementally (+n_new per round), and
        # flips to the bloom path at bloom_crossover_rows — so the flag
        # stops being a footgun on small crawls and stops being
        # forgotten on big ones.
        self.use_bloom = use_bloom
        self.bloom_crossover_rows = bloom_crossover_rows
        self._seen_rows: int | None = None
        self.bloom_expected_n = bloom_expected_n
        # each round APPENDS the new rows and the selected urls to a
        # removal log — O(round delta) IO, the parquet-fallback analog of
        # Iceberg MERGE + positional deletes. Every `compact_every` rounds
        # maintenance compacts the view (base ∪ adds − removed) to a
        # replace snapshot so the anti-join side stays bounded.
        self.compact_every = compact_every
        # AIMD politeness (C6 extension, operators/scheduling.py): each
        # round appends per-host fetch aggregates to the host_stats table
        # and the NEXT round's politeness select caps failing hosts at
        # max(1, floor(cap * success_rate over the last rate_window
        # rounds)) — healthy hosts keep `cap`, so an all-success crawl is
        # bit-identical to adaptive_rate=False (tested).
        self.adaptive_rate = adaptive_rate
        self.rate_window = rate_window
        # OPIC-style priority frontier (C30 wired in, opt-in — default
        # off keeps reference BFS parity bit-identical): extraction
        # appends distinct cross-host link pairs to host_edges; the next
        # round's politeness select and budget truncation order by
        # (priority desc, round, url) with priority = w_backlinks *
        # ln(1 + backlink hosts) - w_depth * depth. Deterministic: the
        # authority table is a pure function of committed crawl history.
        self.priority_frontier = priority_frontier
        self.priority_w_backlinks = priority_w_backlinks
        self.priority_w_depth = priority_w_depth
        # post-compaction maintenance: expire superseded frontier
        # snapshot data files (Iceberg expire_snapshots analog) keeping
        # this many recent snapshots of time travel; None disables
        self.expire_keep = expire_keep
        # output-file sizing for snapshot commits (None = shuffle-partition
        # count; Iceberg proper would size files via its own write targets)
        self.io_coalesce = io_coalesce
        # optional C22 AsyncLogger (vyntr_spark/logger.py): per-round
        # summaries buffered + flushed like the reference's batch logs
        # (genesis/src/main.rs:106-108)
        self.logger = logger
        self._bloom = None  # built lazily from the seen table, then extended
        # seen-table snapshot id whose rows the bloom includes (checkpoint
        # watermark: resume catches up on just the appended delta)
        self._bloom_wm: int | None = None
        # previous round's candidate count: bounds this round's probe
        # set for the free dedup-strategy pick (_fits_broadcast)
        self._last_n_cand: int | None = None
        self._state_cache: tuple[int, int] | None = None
        # tracked frontier row count: lets a round skip the up-front
        # politeness-count job whenever the budget cannot bind (n_sel ≤
        # frontier_size ≤ remaining); None = unknown (fresh resume), one
        # count job re-establishes it
        self._frontier_size: int | None = None

    # -- bloom checkpoint (C4 scale path maintenance) ----------------------
    def _bloom_ckpt_path(self) -> str:
        return os.path.join(self.store.root, "bloom_ckpt.parquet")

    def _load_or_build_bloom(self, seen_t):
        """Checkpointed bloom with watermark catch-up: a resumed crawl
        loads the saved shards and adds only the seen rows appended after
        the checkpoint's snapshot watermark — at 10^10 URLs a from-scratch
        rebuild is a full seen scan plus 10^10 insertions, while the
        catch-up is O(rows since last checkpoint). Falls back to a full
        rebuild when the delta is unreadable (replace/expiry intervened).
        The bloom stays a SUPERSET of no table state it shouldn't: the
        watermark is only advanced to snapshot ids whose rows were added,
        so a crash between the seen commit and the checkpoint can only
        make the loaded bloom MISS recent rows — which the catch-up then
        re-adds (false negatives against committed seen would re-crawl
        duplicates; this path cannot produce them)."""
        from .operators.bloom import BloomShards

        p = self._bloom_ckpt_path()
        if os.path.exists(p):
            try:
                bloom, wm = BloomShards.load(p)
                cur = seen_t.current_snapshot_id()
                if wm is not None and wm == cur:
                    # checkpoint is current — metadata-only resume, no
                    # catch-up job at all
                    self._bloom_wm = cur
                    return bloom
                delta = (seen_t.read_appended_since(wm) if wm is not None
                         else seen_t.read())
                bloom = bloom.add_df(delta)
                self._bloom_wm = cur
                return bloom
            except Exception as e:  # noqa: BLE001 — any unreadable
                # checkpoint (ValueError/KeyError from shape drift, but
                # also OSError/ArrowException from a truncated or corrupt
                # parquet) degrades to the full rebuild the docstring
                # promises instead of crashing resume (round-3 review)
                if self.logger is not None:
                    self.logger.add_entry(
                        f"bloom checkpoint unreadable ({type(e).__name__}: "
                        f"{e}); rebuilding from the seen table"
                    )
        bloom = BloomShards.sized_for(
            self.bloom_expected_n, fpp=0.01, n_shards=8
        ).add_df(seen_t.read())
        self._bloom_wm = seen_t.current_snapshot_id()
        return bloom

    def _bloom_active(self) -> bool:
        """Cost-based dedup-path pick. Fixed modes pass through; 'auto'
        compares the seen-table row count (counted once on start/resume,
        then tracked incrementally — no per-round count job) against
        bloom_crossover_rows, the regime boundary where the bloom
        flag+confirm beats the exact path (measured by
        BENCH/bloom_crossover.py against the old shuffled exact path; see
        __init__). The flip is one-way in
        practice (seen only grows), and correctness is path-independent:
        the bloom is a prefilter with an exact confirm, so both paths
        produce identical rounds (tested)."""
        if self.use_bloom != "auto":
            return bool(self.use_bloom)
        if self._seen_rows is None:
            seen_t = self.store.table("seen")
            self._seen_rows = (0 if seen_t.is_empty()
                               else seen_t.read().count())
        return self._seen_rows >= self.bloom_crossover_rows

    def _fits_broadcast(self, probe: DataFrame) -> bool:
        """Dedup-strategy rule, shared by the exact path (probe = the
        round's candidates) and the bloom path's survivor confirm (probe
        = the survivors): take the broadcast flip while the probe set
        fits (a politeness-bounded round's candidates always do; seen
        grows without bound — exactly the flip's regime). Steady state
        is free: last round's candidate count bounds this round's ONLY
        while growth stays modest — an outlink burst (budget change,
        adaptive caps lifting) can multiply candidates round-over-round,
        so the stale bound demands 8x headroom and anything closer to
        the cap pays one count job over the (persisted) probe frame
        instead of risking an out-of-memory broadcast."""
        from .operators.bloom import BROADCAST_CONFIRM_MAX_ROWS

        if (self._last_n_cand is not None
                and self._last_n_cand * 8 <= BROADCAST_CONFIRM_MAX_ROWS):
            return True
        return probe.count() <= BROADCAST_CONFIRM_MAX_ROWS

    def _dedup(self, cand: DataFrame, use_bloom: bool
               ) -> tuple[DataFrame, DataFrame | None]:
        """The round's unseen candidates (C4): exactly
        ``cand.join(seen, "url", "left_anti")`` on every path, so the
        seen set never depends on the strategy. Returns ``(new,
        flagged)``; ``flagged`` is the persisted bloom-flagged frame the
        caller unpersists after the round (None on the exact path).
        ``cand`` should be persisted — the strategy pick may count it
        and the flip reads it twice."""
        from .operators.bloom import (
            broadcast_anti_join, flag_maybe, split_by_flag,
        )

        seen_t = self.store.table("seen")
        if use_bloom:
            # scale path: the bloom prefilter shrinks the probe set to its
            # survivors; the exact confirm keeps it false-negative-free.
            # Flag ONCE and persist — split_by_flag's two union branches
            # both read the flagged frame.
            if self._bloom is None:
                self._bloom = self._load_or_build_bloom(seen_t)
            flagged = flag_maybe(self._bloom, cand).persist()
            confirm = ("broadcast"
                       if self._fits_broadcast(flagged.filter(F.col("_maybe")))
                       else "shuffle")
            # the seen table stores url_hash = F.hash(url): the broadcast
            # confirm keys its probe on the stored int (split_by_flag)
            return split_by_flag(flagged, seen_t.read(), confirm=confirm,
                                 seen_hash_col="url_hash"), flagged
        seen = seen_t.read()
        # a seen table within the planner's auto-broadcast threshold
        # already makes the plain anti-join shuffle-free, with one
        # broadcast (of seen) instead of the flip's two — measurably
        # faster at ~10k seen rows; past it the plain join would shuffle
        # all of seen every round, so the flip takes over
        limit = (self.spark._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
        seen_bytes = (seen._jdf.queryExecution().optimizedPlan().stats()
                      .sizeInBytes())
        if seen_bytes > limit and self._fits_broadcast(cand):
            return broadcast_anti_join(cand, seen), None
        return cand.join(seen, "url", "left_anti"), None

    # -- state -----------------------------------------------------------
    def _round_state(self) -> tuple[int, int]:
        """(next_round, pages_count): cached in-engine after each round; the
        round_state table is only read on start/resume (one fewer Spark job
        per round; the table stays the durable source of truth)."""
        if self._state_cache is not None:
            return self._state_cache
        t = self.store.table("round_state")
        if t.is_empty():
            self._state_cache = (0, 0)
        else:
            row = t.read().collect()[0]
            self._state_cache = (row["round"] + 1, row["pages_count"])
        return self._state_cache

    # -- seed ingestion (C1 + visited-seed semantics main.rs:216-225) -----
    def init_from_seeds(self, seeds: list[str]) -> None:
        self._state_cache = None
        seen_keys: list[str] = []
        frontier_rows: list[tuple[str, str, int, int]] = []
        seen_set: set[str] = set()
        frontier_urls: set[str] = set()
        for raw in seeds:
            s = raw.strip()
            if not s:
                continue
            norm = try_normalize(s)
            if norm is None:
                continue
            visited_key = norm if self.normalize_seeds else s
            if visited_key in seen_set:
                continue
            seen_set.add(visited_key)
            seen_keys.append(visited_key)
            host = try_domain(norm)
            # frontier is keyed by url: a second raw seed normalizing to an
            # already-enqueued url is dropped (documented deviation — the
            # reference would enqueue it twice)
            if host is None or norm in frontier_urls:
                continue
            frontier_urls.add(norm)
            frontier_rows.append((norm, host, 0, 0))
        seen_df = self.spark.createDataFrame(
            [(u,) for u in seen_keys], "url string"
        ).select(F.hash("url").alias("url_hash"), "url")
        frontier_df = self.spark.createDataFrame(frontier_rows, FRONTIER)
        self._frontier_size = len(frontier_rows)
        self.store.table("seen").commit(seen_df, "append", {"stage": "seeds"},
                                        coalesce=self.io_coalesce)
        self.store.table("frontier").commit(frontier_df, "replace",
                                            {"stage": "seeds"},
                                            coalesce=self.io_coalesce)
        # reset the removal log alongside the fresh base
        self._reset_removals({"stage": "seeds"})

    def _reset_removals(self, summary: dict) -> None:
        self.store.table("frontier_removed").commit(
            self.spark.createDataFrame([], "url string, round int"),
            "replace", summary, coalesce=1,
        )

    def _read_frontier(self) -> DataFrame:
        """Current frontier view: the base/adds minus the removal log. A
        removal at round R covers rows discovered at rounds <= R only — a
        url re-discovered AFTER (or in the same round as) its removal is
        back in the frontier (remove-then-add ordering)."""
        fr = self.store.table("frontier").read()
        rem_t = self.store.table("frontier_removed")
        if not rem_t.is_empty():
            rem = rem_t.read().select(
                F.col("url").alias("_rm_url"),
                F.col("round").alias("_rm_round"),
            )
            fr = fr.join(
                rem,
                (fr["url"] == rem["_rm_url"])
                & (rem["_rm_round"] >= fr["round"]),
                "left_anti",
            )
        return fr

    # -- one crawl round ----------------------------------------------------
    def run_round(self) -> RoundInfo | None:
        """One round as named phases over one :class:`_Round`: select,
        fetch-extract (analyses commit), expand (dedup), tail (the
        overlapped commits), record (metrics + round_state) and
        maintain. ``None`` once the budget or the frontier is spent."""
        st = self._select()
        if st is None:
            return None
        self._fetch_extract(st)
        self._expand(st)
        bloom_before_extend = self._bloom
        self._tail(st)
        info = self._record(st)
        self._maintain(st)
        for df in (st.extracted, st.cand, st.flagged):
            if df is not None:
                df.unpersist()
        if (bloom_before_extend is not None
                and bloom_before_extend is not self._bloom):
            # every job that referenced the superseded bloom's flag UDF
            # (split_by_flag, the collect of `new`, add_df) has completed
            # by here — drop its executor-resident broadcast eagerly
            # instead of waiting for GC
            bloom_before_extend.release()
        return info

    def _select(self) -> _Round | None:
        """Politeness select (C6), budget truncation (C9) and the robots
        gate, collected to the driver once as Arrow: the batch is what the
        fetch join broadcasts anyway, so holding it locally adds no size
        assumption, and it serves as the fetch join's build side, as
        ``n_sel`` and as the round's ``frontier_removed`` rows. Spark
        computes its lineage partition (the analyses' ``src_partition``
        rule) and, under collect_debug, its C7 fetch-order key, so the
        driver never re-implements either."""
        t0 = time.monotonic()
        rnd, pages_count = self._round_state()
        remaining = self.max_pages - pages_count
        if remaining <= 0:
            return None
        use_bloom = self._bloom_active()
        frontier = self._read_frontier()
        if self._frontier_size is None:
            # fresh resume: one count re-establishes the tracked size
            self._frontier_size = frontier.count()
        if self._frontier_size == 0:
            return None
        fsize = self._frontier_size
        # invalidate for the duration of the round: if anything below
        # raises, a retry on this engine instance must re-count rather
        # than make budget/empty decisions on a stale size (restored by
        # _record on successful completion)
        self._frontier_size = None

        host_caps = None
        if self.adaptive_rate:
            hs_t = self.store.table("host_stats")
            if not hs_t.is_empty():
                from .operators.scheduling import adaptive_caps_from_stats

                host_caps = adaptive_caps_from_stats(
                    hs_t.read(), base_cap=self.cap,
                    window=self.rate_window, upto_round=rnd - 1,
                )
        order_cols = None
        trunc_order = [F.col("round"), F.col("url")]
        if self.priority_frontier:
            # OPIC-style priority mode (opt-in; the reference is strictly
            # BFS): score every frontier row by its host's backlink
            # authority minus a depth penalty. Within a host the score
            # varies only by depth (= BFS order), so the mode's real
            # effect is the CROSS-host pick when the page budget binds —
            # exactly the regime a 10^10 frontier lives in, where FIFO
            # treats a hub root and a spam-farm leaf as equals.
            from .operators.scheduling import with_frontier_priority

            he_t = self.store.table("host_edges")
            edges = None if he_t.is_empty() else he_t.read()
            frontier = with_frontier_priority(
                frontier, edges, w_backlinks=self.priority_w_backlinks,
                w_depth=self.priority_w_depth,
            )
            order_cols = [F.col("priority").desc(), F.col("round"),
                          F.col("url")]
            trunc_order = order_cols
        sel = politeness_select(frontier, self.cap, self.salt_buckets,
                                host_caps=host_caps, order_cols=order_cols)
        if fsize > remaining:
            # budget MIGHT bind (C9): truncate in pinned (round, url) order
            # — (priority desc, round, url) in priority mode, where the
            # budget cut IS the priority queue. A limit above the
            # selection's size keeps every row, so no count job decides it.
            sel = sel.orderBy(*trunc_order).limit(remaining)
        order = ([batch_shuffle_key(self.seed, rnd).alias("_order")]
                 if self.collect_debug else [])
        batch = self._with_robots(sel).select(
            *FRONTIER.fieldNames(), "_robots",
            _md5_partition().alias("_part"), *order).toArrow()
        return _Round(rnd, pages_count, fsize, use_bloom, t0, batch,
                      self.spark.createDataFrame(batch))

    def _with_robots(self, df: DataFrame) -> DataFrame:
        """Robots gating (north rule; permissive default = no-op): path =
        '/' + everything after the first '/' of the authority+path part,
        query stripped (gates.url_path parity, native exprs)."""
        after_scheme = F.element_at(F.split(F.col("url"), "://", 2), 2)
        no_query = F.split(after_scheme, "\\?", 2)[0]
        path = F.when(
            F.instr(no_query, "/") > 0,
            F.concat(F.lit("/"), F.element_at(F.split(no_query, "/", 2), 2)),
        ).otherwise(F.lit("/"))
        df = df.withColumn("_path", path)
        if self.robots is None:
            return df.withColumn("_robots", F.lit(False))
        return df.join(F.broadcast(self.robots), "host", "left").withColumn(
            "_robots",
            F.coalesce(
                F.exists(
                    "disallow_prefixes",
                    lambda p: F.col("_path").startswith(p),
                ),
                F.lit(False),
            ),
        ).drop("disallow_prefixes")

    def _fetch_extract(self, st: _Round) -> None:
        """Fetch (C10), gates (C11/C12), extraction (C15) and the
        analyses commit (C19): the round's one payload-heavy job."""
        # -- fetch: stream the big pages table through ONE BroadcastHashJoin
        # (BuildRight on the small batch). The 100-TB side is never
        # shuffled or sorted, and extraction parallelism = scan splits.
        # (A sel-preserving outer join here would force a SortMergeJoin
        # that shuffles the fetched rows WITH their html payloads — the
        # "missing" rows are instead the batch rows no fetched row
        # matched, found on the driver by the tail.)
        # Project to the fetch-relevant columns first so the parquet scan
        # prunes the heavy unused ones (text/warc_ts/lang).
        fetch_cols = self.pages.select(
            "url", "html", "content_type", "status", "body_marker"
        )
        fetched = fetch_cols.join(F.broadcast(st.sel), "url", "inner")

        # -- gate classification (C11/C12) as native exprs -------------------
        ct = F.trim(F.split(F.coalesce("content_type", F.lit("text/html")), ";")[0])
        marker = F.coalesce("body_marker", F.lit(""))
        # NOTE: no html.isNull() branch — the inner fetch join guarantees a
        # page row (pages.html is non-nullable), and referencing html here
        # would drag the whole html column into the pruned outcome re-scan
        outcome = (
            F.when(F.col("_robots"), F.lit(ROBOTS))
            .when(~ct.isin(*ALLOWED_CONTENT_TYPES), F.lit(SKIPPED_CT))
            .when(
                (F.col("status") == 403) | marker.contains("403 Forbidden"),
                F.lit(FAILED),
            )
            .when(
                marker.contains("Cloudflare")
                & marker.contains("Worker threw exception"),
                F.lit(FAILED),
            )
            .otherwise(F.lit(SUCCESS))
        )
        fetched = fetched.withColumn("outcome", outcome)
        # the SLIM outcome columns, collected once by the tail: the pruned
        # re-scan never reads the html column, so it costs far less than
        # caching the html payloads of the fetch would. _part (and
        # _order) are the batch's own columns, carried by the join.
        st.fetched_slim = fetched.select(
            "url", "host", "_part", *(["_order"] if self.collect_debug else []),
            "outcome")

        # -- extraction (C15) on successes only ------------------------------
        succ = fetched.filter(F.col("outcome") == SUCCESS)
        st.extracted = succ.select(
            "url",
            F.col("round").alias("_disc_round"),
            extract_udf(F.col("html"), F.col("url")).alias("ex"),
        ).persist()

        analyses = st.extracted.select(
            sanitize_col(F.col("url")).alias("url"),
            sanitize_col(F.col("ex.language")).alias("language"),
            sanitize_col(F.col("ex.title")).alias("title"),
            F.transform(
                "ex.meta_tags",
                lambda m: F.struct(
                    sanitize_col(m["name"]).alias("name"),
                    sanitize_col(m["content"]).alias("content"),
                ),
            ).alias("meta_tags"),
            sanitize_col(F.col("ex.canonical_url")).alias("canonical_url"),
            sanitize_col(F.col("ex.content_text")).alias("content_text"),
            F.lit(st.rnd).alias("round"),
            _md5_partition().alias("src_partition"),
        )
        # payload-heavy commit: coalesce (no Exchange) at ≥ core-count
        # width — extraction parallelism stays = cores, and the extracted
        # text is written by the SAME stage instead of being shuffled
        # first (the repartition exchange was the widest round's largest
        # non-scaling cost: ~600 MB of text serialized through the
        # shuffle per round at sf0.1)
        n_out = self.io_coalesce
        if n_out is not None:
            n_out = max(n_out, self.spark.sparkContext.defaultParallelism)
        self.store.table("analyses").commit(
            analyses, "append", {"round": st.rnd}, coalesce=n_out,
            shuffle=False,
        )

    def _expand(self, st: _Round) -> None:
        """Expansion (C17 explode → C4 seen dedup). The candidate count
        rides the dedup's first job as an Observation; `new` is left
        lazy for the tail's one collect."""
        links = st.extracted.select(F.explode("ex.links").alias("url"))
        links = links.withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
        links = links.filter(F.col("host").isNotNull() & (F.col("host") != ""))
        st.cand = (
            links.select("url", "host").distinct()
            .observe(st.obs_cand, F.count(F.lit(1)).alias("n"))
            .persist()
        )
        st.new, st.flagged = self._dedup(st.cand, st.use_bloom)

    def _tail(self, st: _Round) -> None:
        """The round's independent tail jobs, submitted together to one
        thread pool (each carries the caller's job group and tags). The
        round's deltas are driver work: the outcome rows are collected
        once and aggregated in Python (metrics, host_stats); `new` is
        collected once and appended to frontier and seen with
        ``commit_rows``; frontier_removed comes from the selected batch.
        host_edges is the one Spark write."""
        jobs = [self._collect_outcomes, self._commit_new_rows]
        if self.priority_frontier:
            jobs.append(self._commit_host_edges)
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futs = [pool.submit(_in_caller_job_group(self.spark, fn), st)
                    for fn in jobs]
            # O(round delta) removal log: the fetched urls (Iceberg
            # positional-delete analog — no O(frontier) rewrite)
            self.store.table("frontier_removed").commit_rows(
                pa.table({"url": st.batch["url"],
                          "round": pa.array([st.rnd] * st.batch.num_rows,
                                            pa.int32())}),
                "append", {"round": st.rnd},
            )
            for fut in futs:
                fut.result()

    def _collect_outcomes(self, st: _Round) -> None:
        """Outcome rows of the whole batch: the fetched rows, collected
        once, plus the batch rows no page matched ("missing", robots
        still preceding the fetch attempt). Feeds the metrics and, in
        adaptive mode, the host_stats append."""
        st.outcomes = st.fetched_slim.toArrow().to_pylist()
        hit = {r["url"] for r in st.outcomes}
        for r in st.batch.to_pylist():
            if r["url"] not in hit:
                r["outcome"] = ROBOTS if r["_robots"] else MISSING
                st.outcomes.append(r)
        if self.adaptive_rate:
            self._commit_host_stats(st)

    def _commit_new_rows(self, st: _Round) -> None:
        """`new` collected once (``url_hash`` still computed by Spark's
        F.hash, so the bloom confirm's int-keyed probe keeps matching),
        then appended to frontier and seen from the driver; in bloom mode
        only these rows are inserted into the bloom (never a rebuild)."""
        st.new_rows = new = st.new.select(
            F.hash("url").alias("url_hash"), "url", "host").toArrow()
        nxt = pa.array([st.rnd + 1] * new.num_rows, pa.int32())
        self.store.table("frontier").commit_rows(
            pa.table({"url": new["url"], "host": new["host"],
                      "depth": nxt, "round": nxt}),
            "append", {"round": st.rnd},
        )
        self.store.table("seen").commit_rows(
            new.select(["url_hash", "url"]), "append", {"round": st.rnd})
        if st.use_bloom:
            self._bloom = self._bloom.add_df(
                self.spark.createDataFrame(new.select(["url"])))

    def _commit_host_stats(self, st: _Round) -> None:
        # per-host aggregates feeding the NEXT round's AIMD caps
        # (adaptive_caps_from_stats). Only FETCH-HEALTH outcomes count as
        # attempts: robots_blocked and skipped_ct are content/policy
        # signals, not server-health ones — a host full of
        # robots-disallowed or non-HTML URLs must not be throttled to
        # cap 1 when no request ever failed
        attempts, successes = Counter(), Counter()
        for r in st.outcomes:
            if r["outcome"] not in (ROBOTS, SKIPPED_CT):
                attempts[r["host"]] += 1
                successes[r["host"]] += r["outcome"] == SUCCESS
        self.store.table("host_stats").commit_rows(
            [(h, st.rnd, n, successes[h]) for h, n in sorted(attempts.items())],
            "append", {"round": st.rnd},
        )

    def _commit_host_edges(self, st: _Round) -> None:
        # distinct cross-host pairs from this round's extraction —
        # |host-pair|-sized (map-side combine collapses the link
        # explosion before the shuffle), appended for the NEXT round's
        # authority aggregate
        src_host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
        e = (
            st.extracted.select(src_host.alias("src_host"),
                                F.explode("ex.links").alias("_l"))
            .withColumn("dst_host",
                        F.lower(F.parse_url(F.col("_l"), F.lit("HOST"))))
            .filter(
                F.col("src_host").isNotNull()
                & F.col("dst_host").isNotNull()
                & (F.col("dst_host") != "")
                & (F.col("src_host") != F.col("dst_host"))
            )
            .select("src_host", "dst_host").distinct()
        )
        self.store.table("host_edges").commit(
            e, "append", {"round": st.rnd}, coalesce=self.io_coalesce
        )

    def _record(self, st: _Round) -> RoundInfo:
        """Metrics and round_state: round_state, committed last, is the
        round's durability barrier (resume reads only it). Metrics (C20)
        are outcome counts per md5-partition lineage (≤256 rows at any
        scale), aggregated from the collected outcome rows; the round
        totals are their sums."""
        rnd = st.rnd
        n_sel = st.batch.num_rows
        n_cand = _obs_count(st.obs_cand, st.cand)
        self._last_n_cand = n_cand
        n_new = st.new_rows.num_rows
        if self._seen_rows is not None:
            # auto mode's incremental seen-size tracker (no count job)
            self._seen_rows += n_new
        if st.use_bloom:
            # watermark advances to the seen snapshot that carries exactly
            # the rows just inserted (committed by the tail)
            self._bloom_wm = self.store.table("seen").current_snapshot_id()
        # per partition: total, success, failed (incl. missing),
        # skipped_ct, robots_blocked
        col = {SUCCESS: 1, FAILED: 2, MISSING: 2, SKIPPED_CT: 3, ROBOTS: 4}
        parts: dict[str, list[int]] = {}
        for r in st.outcomes:
            c = parts.setdefault(r["_part"], [0] * 5)
            c[0] += 1
            c[col[r["outcome"]]] += 1
        totals = [sum(c[i] for c in parts.values()) for i in range(5)]
        n_succ = totals[1]
        wall_ms = int((time.monotonic() - st.t0) * 1000)
        metric_tuples = [(rnd, p, *c, 0, 0, 0) for p, c in sorted(parts.items())]
        metric_tuples.append((rnd, "__round__", n_sel, *totals[1:],
                              n_cand - n_new, n_new, wall_ms))
        # tiny control tables: driver-side pyarrow commits (no Spark jobs)
        self.store.table("metrics").commit_rows(
            metric_tuples, "append", {"round": rnd}
        )
        self.store.table("round_state").commit_rows(
            [(rnd, st.pages_count + n_sel, rnd, self.seed)],
            "replace", {"round": rnd},
        )
        self._state_cache = (rnd + 1, st.pages_count + n_sel)
        self._frontier_size = st.fsize - n_sel + n_new

        info = RoundInfo(
            round=rnd, selected=n_sel, success=n_succ, new_urls=n_new,
            dedup_dropped=n_cand - n_new, wall_ms=wall_ms,
        )
        if self.logger is not None:
            # main.rs per-batch summary shape: totals + rate
            self.logger.add_entry(
                f"round {rnd}: selected={n_sel} success={n_succ} "
                f"new_urls={n_new} dedup_dropped={n_cand - n_new} "
                f"wall_ms={wall_ms} "
                f"pages_per_sec={n_sel / max(wall_ms, 1) * 1000:.1f}"
            )
        if self.collect_debug:
            # fetch order = the pinned seeded shuffle (_order, from
            # operators/politeness.py batch_shuffle_key)
            ordered = sorted(st.outcomes, key=lambda r: r["_order"])
            info.selected_urls = [r["url"] for r in ordered]
            info.outcomes = {r["url"]: r["outcome"] for r in ordered}
            info.new_url_list = sorted(st.new_rows["url"].to_pylist())
        return info

    def _maintain(self, st: _Round) -> None:
        """Maintenance every ``compact_every`` rounds (Iceberg maintenance
        analog), in this order: frontier compaction, snapshot expiry,
        the host_edges fold, the bloom checkpoint."""
        rnd = st.rnd
        if (rnd + 1) % self.compact_every:
            return
        # fold the delta log into a fresh base so the removal anti-join
        # and snapshot-path fan-in stay bounded. Idempotent under crash:
        # replaying a removal against an already-compacted base is a
        # no-op anti-join.
        frontier_t = self.store.table("frontier")
        frontier_t.commit(self._read_frontier(), "replace",
                          {"compact_round": rnd}, coalesce=self.io_coalesce)
        self._reset_removals({"compact_round": rnd})
        if self.expire_keep is not None:
            # drop the data files of pre-compaction delta snapshots and of
            # the one-row round_state replaces (disk would otherwise grow
            # O(rounds)); manifest ids survive for lineage
            for name in ("frontier", "frontier_removed", "round_state"):
                self.store.table(name).expire_snapshots(
                    keep_last=self.expire_keep)
        if self.priority_frontier:
            # host_edges is append-only and every round re-appends pairs
            # already recorded in earlier rounds, so the table grows
            # O(rounds x pairs/round) while its information content is
            # the DISTINCT pair set; fold it so the per-round authority
            # aggregate scans |distinct pairs|, not the whole history.
            # Idempotent under crash (a replay re-distincts to the same set).
            he_t = self.store.table("host_edges")
            if not he_t.is_empty():
                he_t.commit(
                    he_t.read().select("src_host", "dst_host").distinct(),
                    "replace", {"compact_round": rnd},
                    coalesce=self.io_coalesce,
                )
                if self.expire_keep is not None:
                    he_t.expire_snapshots(keep_last=self.expire_keep)
        if st.use_bloom:
            # checkpoint the shards: resume then catches up from the
            # watermark instead of rebuilding from the full seen table
            self._bloom.save(self._bloom_ckpt_path(), self._bloom_wm)

    def run(self, max_rounds: int = 1_000) -> list[RoundInfo]:
        out = []
        for _ in range(max_rounds):
            info = self.run_round()
            if info is None:
                break
            out.append(info)
        return out
