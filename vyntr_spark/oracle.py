"""Sequential pure-Python crawl oracle (SURVEY.md §5.2).

A ~150-line simulator of the deterministic core of the reference crawler
(DomainQueues add/collect_batch with cap 5, crawler.rs:19-48; visited-set
insert-at-discovery, main.rs:217-279; page budget, main.rs:243-246) under
the pinned determinism contract of SURVEY.md §8:

  N1  intra-round order = sort by md5("{seed}:{round}:{url}")
  N2  per-page link order = lexicographic
  N3  round barrier (all fetches of a round complete before expansion)
  N4  a batch = one politeness sweep over the whole frontier, cap 5/host;
      budget applied in (discovered_round, url) order
  N5  within a round, newly discovered URLs are ordered lexicographically
  N6  normalize_seeds flag (True pins normalize-everywhere; False
      replicates the raw-seed visited quirk of main.rs:217-224)

The Spark engine must produce identical per-round fetch sets, crawl
ordering, URL-seen set, analyses and metrics — at every scale and
parallelism. The oracle and engine share the canonicalizer, extractor and
gate classifier, so "matching the reference" = matching this pinned
algorithm.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from .canonicalize import try_domain, try_normalize
from .extract import extract_html, sanitize_text
from .gates import SUCCESS, classify, robots_match, url_path

MAX_PER_DOMAIN = 5  # genesis/src/main.rs:175


def spark_round6(x: float) -> float:
    """Twin of Spark's ``F.round(col, 6)`` on a double: Spark rounds the
    value's shortest decimal string HALF_UP, where Python's ``round()``
    rounds the binary value half-to-even (-5e-7 gives -1e-6 in Spark,
    -0.0 in Python)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def shuffle_key(seed: int, rnd: int, url: str) -> str:
    """Pinned N1 'seeded shuffle': md5 of seed:round:url (hex)."""
    return hashlib.md5(f"{seed}:{rnd}:{url}".encode()).hexdigest()


def md5_partition(url: str) -> str:
    """Output partition = first md5(url) byte, hex (genesis/src/db.rs:110-114)."""
    return hashlib.md5(url.encode()).hexdigest()[:2]


@dataclass
class RoundResult:
    round: int
    selected: list[str]          # fetch set in pinned crawl order (N1)
    outcomes: dict[str, str]     # url -> gate outcome
    analyses: list[dict]         # success rows (sanitized, reference C18)
    new_urls: list[str]          # N5 order
    dedup_dropped: int = 0


@dataclass
class CrawlResult:
    rounds: list[RoundResult] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    pages_count: int = 0


def run_oracle(
    pages: dict[str, dict],
    seeds: list[str],
    max_pages: int = 50_000,
    seed: int = 42,
    max_rounds: int = 1_000,
    normalize_seeds: bool = True,
    robots: dict[str, list[str]] | None = None,
    priority: bool = False,
    w_backlinks: float = 1.0,
    w_depth: float = 0.5,
    adaptive: bool = False,
    rate_window: int = 3,
) -> CrawlResult:
    """pages: url -> row dict with keys html/text/content_type/status/body_marker.

    ``priority=True`` simulates the engine's opt-in OPIC-style frontier
    mode (crawl.py priority_frontier; operators/scheduling.py
    with_frontier_priority) sequentially: every frontier row scores
    ``w_backlinks * ln(1 + backlink_hosts) - w_depth * depth`` rounded
    to 6 places HALF_UP like Spark (:func:`spark_round6`), where
    backlink_hosts counts distinct OTHER hosts with an extracted
    cross-host link to this host in rounds < the current one (the
    engine's host_edges table, committed per round after fetch), and
    both the per-host politeness pick AND the page-budget cut order by
    (priority desc, round, url) instead of BFS (round, url). Host keys
    mirror the engine exactly: edges use the raw lowercased hostname
    (parse_url HOST), the frontier join key is the canonical domain.

    ``adaptive=True`` simulates the engine's AIMD politeness mode
    (crawl.py adaptive_rate; operators/scheduling.py
    adaptive_caps_from_stats): round r's per-host cap is
    ``max(1, floor(MAX_PER_DOMAIN * successes / attempts))`` summed over
    the host's stats rows with round in (r-1-window, r-1], where a
    round's stats count only FETCH-HEALTH outcomes (robots_blocked and
    skipped_ct are policy signals, excluded); hosts absent from the
    window keep the base cap."""
    import math
    from urllib.parse import urlsplit

    robots = robots or {}
    res = CrawlResult()
    seen = res.seen
    # frontier entries: (discovered_round, url, host, depth)
    frontier: list[tuple[int, str, str, int]] = []

    # -- seed ingestion (main.rs:142-153, 216-225) ---------------------------
    for raw in seeds:
        s = raw.strip()
        if not s:
            continue
        norm = try_normalize(s)
        if norm is None:
            continue  # unparseable seed never reaches the frontier
        visited_key = norm if normalize_seeds else s
        if visited_key in seen:
            continue
        seen.add(visited_key)
        host = try_domain(norm)
        if host is None:
            continue
        frontier.append((0, norm, host, 0))

    edges: set[tuple[str, str]] = set()  # priority mode: host_edges twin
    # adaptive mode: host_stats twin — (host, round) -> (attempts, succ)
    host_stats: dict[tuple[str, int], tuple[int, int]] = {}

    def host_of(u: str) -> str | None:
        try:
            h = urlsplit(u).hostname
        except ValueError:
            return None
        return h.lower() if h else None

    for rnd in range(max_rounds):
        remaining = max_pages - res.pages_count
        if remaining <= 0 or not frontier:
            break
        # -- politeness sweep: first cap per host by (round, url) (N4);
        # priority mode orders by (priority desc, round, url) instead,
        # with priority from the PREVIOUS rounds' edge history ----------
        if priority:
            indeg: dict[str, int] = {}
            for _src, dst in edges:
                indeg[dst] = indeg.get(dst, 0) + 1

            def key(e):
                pri = spark_round6(
                    w_backlinks * math.log1p(indeg.get(e[2], 0))
                    - w_depth * e[3])
                return (-pri, e[0], e[1])
        else:
            def key(e):
                return (e[0], e[1])
        caps: dict[str, int] = {}
        if adaptive:
            # adaptive_caps_from_stats twin: window (r-1-W, r-1]
            agg: dict[str, list[int]] = {}
            for (h, r_), (att, suc) in host_stats.items():
                if (rnd - 1) - rate_window < r_ <= rnd - 1:
                    a = agg.setdefault(h, [0, 0])
                    a[0] += att
                    a[1] += suc
            caps = {
                h: max(1, (MAX_PER_DOMAIN * suc) // att)
                for h, (att, suc) in agg.items() if att
            }
        frontier.sort(key=key)
        per_host: dict[str, int] = {}
        candidates: list[tuple[int, str, str, int]] = []
        for e in frontier:
            host = e[2]
            if per_host.get(host, 0) < caps.get(host, MAX_PER_DOMAIN):
                per_host[host] = per_host.get(host, 0) + 1
                candidates.append(e)
        selected = candidates[:remaining]  # budget cut in the same order
        res.pages_count += len(selected)
        sel_set = {e[1] for e in selected}
        frontier = [e for e in frontier if e[1] not in sel_set]

        # -- fetch + gates + extract (round barrier, N3) ---------------------
        order = sorted(selected, key=lambda e: shuffle_key(seed, rnd, e[1]))
        rr = RoundResult(round=rnd, selected=[e[1] for e in order], outcomes={},
                         analyses=[], new_urls=[])
        children: set[str] = set()
        for _, url, host, depth in order:
            row = pages.get(url)
            rb = robots_match(url_path(url), robots.get(host))
            outcome = classify(
                found=row is not None,
                content_type=row.get("content_type") if row else None,
                status=row.get("status") if row else None,
                body_marker=row.get("body_marker") if row else None,
                robots_blocked=rb,
            )
            rr.outcomes[url] = outcome
            if outcome != SUCCESS:
                continue
            parsed = extract_html(row["html"], url)
            rr.analyses.append(
                {
                    "url": sanitize_text(url),
                    "language": sanitize_text(parsed.language),
                    "title": sanitize_text(parsed.title),
                    "meta_tags": [
                        (sanitize_text(n), sanitize_text(c))
                        for n, c in parsed.meta_tags
                    ],
                    "canonical_url": None
                    if parsed.canonical_url is None
                    else sanitize_text(parsed.canonical_url),
                    "content_text": sanitize_text(parsed.content_text),
                    "round": rnd,
                    "src_partition": md5_partition(url),
                    # raw (pre-sanitize) extraction for the byte-identical gate
                    "_raw_text": parsed.content_text,
                }
            )
            if priority:
                # engine's _commit_host_edges twin: distinct cross-host
                # pairs from this round's successful extractions, raw
                # lowercased hostnames, visible from the NEXT round on
                src_h = host_of(url)
                if src_h:
                    for link in parsed.links:
                        dst_h = host_of(link)
                        if dst_h and dst_h != src_h:
                            edges.add((src_h, dst_h))
            for link in parsed.links:  # already canonical + sorted (N2)
                norm = try_normalize(link)
                if norm is None or try_domain(norm) is None:
                    continue
                children.add(norm)

        if adaptive:
            # _commit_host_stats twin: per-host fetch-health aggregates
            # for the NEXT rounds' caps (policy outcomes excluded)
            for _, url, host, _d in order:
                oc = rr.outcomes[url]
                if oc in ("robots_blocked", "skipped_ct"):
                    continue
                att, suc = host_stats.get((host, rnd), (0, 0))
                host_stats[(host, rnd)] = (
                    att + 1, suc + (1 if oc == SUCCESS else 0))

        # -- expansion: dedup vs seen, N5 lexicographic discovery order ------
        new = sorted(c for c in children if c not in seen)
        rr.dedup_dropped = len(children) - len(new)
        rr.new_urls = new
        for u in new:
            seen.add(u)
            host = try_domain(u)
            if host is None:
                continue
            frontier.append((rnd + 1, u, host, rnd + 1))
        res.rounds.append(rr)

    return res
