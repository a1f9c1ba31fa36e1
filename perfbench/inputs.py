"""Generated inputs for the crawl benchmark, cached in the checkout.

Three kinds of input, each made from seeds and cached on disk with a
content digest that is checked on every reuse:

* a **web** (the ``pages`` table the engine fetches from) per shape.
  Pages come from ``vyntr_spark.synth.write_pages_parquet_spark`` with a
  fixed content seed. Generating a page and its golden text costs about
  4 ms of CPU, so a fresh web per ``--seed`` would cost more than the
  measured window; the web is built once per checkout instead.
* a **link skeleton** of each web: per url, the out-links the engine's
  extraction UDF finds, an html body made of just those links, and the
  gate columns. ``run_oracle`` runs on skeleton pages, which reproduces
  the full oracle's crawl decisions (selection, outcomes, expansion,
  dedup) at a small fraction of its extraction cost; page text is
  checked separately against the web's golden ``text`` column. Every
  skeleton page is checked to extract to exactly the original links.
* the disjoint pre-seeded ``seen`` urls of the resume shape, once per
  checkout (only their number matters to the crawl).
* per ``--seed``: the crawl's start pages and engine seed, and the
  oracle's expectations, cached per (web, seed).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

WEB_CONTENT_SEED = 42


@dataclass(frozen=True)
class Web:
    name: str
    hosts: int
    pages_per_host: int

    @property
    def n_pages(self) -> int:
        return self.hosts * self.pages_per_host


@dataclass(frozen=True)
class Workload:
    name: str
    web: Web
    preseed_urls: int = 0    # disjoint urls already in `seen` (resume shape)


SEEDS_PER_HOST = 5  # = the politeness cap, so every round takes 5 pages per host
MAX_ROUNDS = 8      # rounds the oracle and the pins cover; a run stops far earlier

# Why these shapes: crawl_wide makes extraction the largest share of a
# round (1000 pages per round, seen stays small); crawl_resume_seen makes
# the seen anti-join the largest share (100 pages per round against 4M
# seen urls) while every round still scans the whole pages table.
WIDE = Web("wide", hosts=200, pages_per_host=40)
DEEP = Web("deep", hosts=20, pages_per_host=500)

WORKLOADS = {
    "crawl_wide": Workload("crawl_wide", WIDE),
    "crawl_resume_seen": Workload("crawl_resume_seen", DEEP, preseed_urls=4_000_000),
}


# -- digests ---------------------------------------------------------------

def dir_digest(path: str) -> str:
    """Digest of every data file's bytes under ``path``. Part-file names
    carry a per-write uuid, so files are keyed by their own hash."""
    per_file = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            h = hashlib.blake2b(digest_size=16)
            with open(os.path.join(root, f), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            per_file.append(h.hexdigest())
    top = hashlib.blake2b(digest_size=16)
    for d in sorted(per_file):
        top.update(d.encode())
    return top.hexdigest()


def _cached_dir(path: str, build) -> str:
    """Build ``path`` once (via ``build(tmp_path)``), record its digest in
    ``path + '.digest'``, and verify the digest on every reuse; a
    mismatch or a half-written directory is rebuilt."""
    stamp = path + ".digest"
    if os.path.isdir(path) and os.path.exists(stamp):
        with open(stamp) as f:
            want = f.read().strip()
        if dir_digest(path) == want:
            return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    with open(stamp, "w") as f:
        f.write(dir_digest(path))
    return path


# -- webs --------------------------------------------------------------------

def web_path(cache: str, spark, web: Web) -> str:
    from vyntr_spark.synth import write_pages_parquet_spark

    path = os.path.join(cache, f"web_{web.name}_h{web.hosts}_p{web.pages_per_host}"
                               f"_s{WEB_CONTENT_SEED}")
    return _cached_dir(path, lambda tmp: write_pages_parquet_spark(
        spark, tmp, web.n_pages, web.hosts, seed=WEB_CONTENT_SEED, zipf_s=0.0))


def _html_escape(col):
    """Spark twin of ``html.escape(s, quote=True)``."""
    from pyspark.sql import functions as F

    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;"), ("'", "&#x27;")):
        col = F.replace(col, F.lit(raw), F.lit(ent))
    return col


def skeleton_path(cache: str, spark, web: Web, pages_dir: str) -> str:
    """Per url: the links the engine's extraction UDF finds on the page,
    an html body of just those links, and the gate columns. The body is
    checked to extract to exactly the same links."""
    from pyspark.sql import functions as F

    from vyntr_spark.operators.extract_udf import extract_udf
    from vyntr_spark.tables import PAGES

    def build(tmp: str) -> None:
        pages = spark.read.schema(PAGES).parquet(pages_dir)
        links = pages.select(
            "url", "content_type", "status", "body_marker",
            extract_udf(F.col("html"), F.col("url"))["links"].alias("links"))
        anchors = F.transform("links", lambda u: F.concat(
            F.lit('<a href="'), _html_escape(u), F.lit('">l</a>')))
        skel = links.withColumn("html", F.concat(
            F.lit("<html><body>"), F.array_join(anchors, ""),
            F.lit("</body></html>")))
        skel.write.mode("overwrite").parquet(tmp)
        back = spark.read.parquet(tmp)
        bad = back.filter(
            extract_udf(F.encode("html", "utf-8"), F.col("url"))["links"]
            != F.col("links")).count()
        if bad:
            raise RuntimeError(f"{bad} skeleton pages do not reproduce their links")

    path = os.path.join(cache, os.path.basename(pages_dir) + "_skeleton")
    return _cached_dir(path, build)


# -- per-seed inputs ---------------------------------------------------------

def start_pages(wl: Workload, seed: int) -> list[str]:
    """``SEEDS_PER_HOST`` distinct pages of every host, picked by ``seed``.
    Keyed by the web, so workloads on one web start from the same pages."""
    from vyntr_spark.synth import host_prefix, plan_hosts, url_at

    web = wl.web
    pre = host_prefix(plan_hosts(web.n_pages, web.hosts, 0.0))
    rng = random.Random(f"{web.name}:{seed}")
    out = []
    for h in range(web.hosts):
        lo, hi = pre[h], pre[h + 1]
        for idx in sorted(rng.sample(range(lo, hi), SEEDS_PER_HOST)):
            out.append(url_at(pre, idx)[1])
    return out


def engine_seed(seed: int) -> int:
    return random.Random(f"engine:{seed}").randrange(1 << 30)


PRESEED_HOSTS = 50_000
PRESEED_MARK = ".preseed.example/"  # in every pre-seeded url, in no web url


def preseed(cache: str, spark, n: int, pages_dir: str) -> dict:
    """``n`` urls on ``*.preseed.example`` hosts in the seen table's
    schema, with their count and digest. The web's hosts are
    ``host<i>.example``; disjointness is checked when the set is built.
    Only the set's size matters to the crawl, so it is built once per
    checkout rather than per seed."""
    from pyspark.sql import functions as F

    def build(tmp: str) -> None:
        nparts = spark.sparkContext.defaultParallelism
        (spark.range(n, numPartitions=nparts)
         .select(F.concat(
             F.lit("https://h"),
             (F.col("id") % PRESEED_HOSTS).cast("string"),
             F.lit(PRESEED_MARK + "p"),
             F.col("id").cast("string")).alias("url"))
         .select(F.hash("url").alias("url_hash"), "url")
         .write.mode("overwrite").parquet(tmp))
        pages = spark.read.parquet(pages_dir).select("url")
        overlap = spark.read.parquet(tmp).join(pages, "url").count()
        if overlap:
            raise RuntimeError(f"pre-seeded urls overlap the web in {overlap} urls")
        count, xor = set_digest(spark.read.parquet(tmp))
        with open(os.path.join(tmp, "_digest.json"), "w") as f:
            json.dump({"count": count, "xor": xor}, f)

    path = _cached_dir(os.path.join(cache, f"preseed_n{n}"), build)
    with open(os.path.join(path, "_digest.json")) as f:
        info = json.load(f)
    return {"path": path, **info}


def set_digest(df, cols=("url",)) -> tuple[int, int]:
    """(row count, xor of xxhash64 over ``cols``): order-independent, and
    the digests of disjoint sets combine by xor."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("x")).first()
    return int(row["n"]), int(row["x"])


# -- oracle expectations -----------------------------------------------------

def expectations(cache: str, wl: Workload, seed: int, skeleton_dir: str,
                 n_rounds: int) -> dict:
    """``run_oracle`` on the skeleton web for at least ``n_rounds``
    rounds, cached per (web, seed); a cached run of more rounds is
    reused, since the oracle is sequential. The pre-seeded urls of the
    resume shape are disjoint from the web, so they change no expectation.

    Holds per-round counts and success urls, the seed urls and each
    round's new urls (so the seen set after any round can be rebuilt)."""
    os.makedirs(cache, exist_ok=True)
    prefix = f"oracle_{wl.web.name}_s{seed}_r"
    for f in sorted(os.listdir(cache)):
        if f.startswith(prefix) and f.endswith(".json"):
            if int(f[len(prefix):-5]) < n_rounds:
                continue
            with open(os.path.join(cache, f)) as fh:
                doc = json.load(fh)
            if doc.get("digest") == _doc_digest(doc):
                return doc
    import pyarrow.parquet as pq

    from vyntr_spark.oracle import run_oracle

    cols = ["url", "html", "content_type", "status", "body_marker"]
    pages = {r["url"]: r for r in pq.read_table(skeleton_dir, columns=cols).to_pylist()}
    seeds = start_pages(wl, seed)
    res = run_oracle(pages, seeds, max_pages=wl.web.n_pages,
                     seed=engine_seed(seed), max_rounds=n_rounds)
    new = {u for rr in res.rounds for u in rr.new_urls}
    doc = {
        "web": wl.web.name, "seed": seed,
        "rounds": [
            {"selected": len(rr.selected), "success": len(rr.analyses),
             "new_urls": len(rr.new_urls), "dedup_dropped": rr.dedup_dropped,
             "success_urls": sorted(a["url"] for a in rr.analyses),
             "new_url_list": rr.new_urls}
            for rr in res.rounds
        ],
        "seed_urls": sorted(res.seen - new),
    }
    doc["digest"] = _doc_digest(doc)
    path = os.path.join(cache, f"{prefix}{n_rounds:03d}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(doc, f)
    os.replace(path + ".tmp", path)
    return doc


def _doc_digest(doc: dict) -> str:
    body = {k: v for k, v in doc.items() if k != "digest"}
    return hashlib.blake2b(json.dumps(body, sort_keys=True).encode(),
                           digest_size=16).hexdigest()


def seen_after(doc: dict, n_rounds: int) -> list[str]:
    """The oracle's seen set after ``n_rounds`` rounds."""
    out = list(doc["seed_urls"])
    for rr in doc["rounds"][:n_rounds]:
        out.extend(rr["new_url_list"])
    return out
