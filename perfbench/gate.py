"""Correctness gate, run after the timed rounds.

For every timed round the engine's counts (selected, success, new urls,
dedup dropped) must equal the oracle's, the round's analyses rows must be
exactly the oracle's successful urls of that round, and each row's
``content_text`` must equal the sanitized golden ``text`` of its page,
byte for byte. After the last round the engine's ``seen`` table must hold
exactly the oracle's seen set (plus the pre-seeded urls). For the default
seed the oracle's own figures are also compared with the values pinned in
``expected.json``, so a drift in the generator or the oracle shows.
"""

from __future__ import annotations

import hashlib
import json
import os


def _digest(urls) -> str:
    h = hashlib.blake2b(digest_size=16)
    for u in sorted(urls):
        h.update(u.encode())
        h.update(b"\n")
    return h.hexdigest()


def _expected_rows(spark, doc: dict, n_rounds: int, pages_dir: str):
    """(url, e_round, golden) for the oracle's successes of the first
    ``n_rounds`` rounds; golden = the page's sanitized ``text``."""
    from pyspark.sql import functions as F

    from vyntr_spark.operators.extract_udf import sanitize_col
    from vyntr_spark.tables import PAGES

    exp = spark.createDataFrame(
        [(u, r) for r in range(n_rounds) for u in doc["rounds"][r]["success_urls"]],
        "url string, e_round int")
    text = spark.read.schema(PAGES).parquet(pages_dir).select("url", "text")
    return (exp.join(text, "url", "left")
            .select("url", "e_round", sanitize_col(F.col("text")).alias("golden")))


def check_crawl(spark, store, pages_dir: str, doc: dict, infos: list,
                preseed: dict | None) -> tuple[list[bool], list[str], dict]:
    """Returns per-round verdicts, run-level problems, and the expected
    per-round content digests (for the pinned comparison)."""
    from pyspark.sql import functions as F

    import inputs

    n = len(infos)
    ok = [True] * n
    problems: list[str] = []
    for i, info in enumerate(infos):
        want = doc["rounds"][i]
        got = (info.round, info.selected, info.success, info.new_urls, info.dedup_dropped)
        exp = (i, want["selected"], want["success"], want["new_urls"], want["dedup_dropped"])
        if got != exp:
            ok[i] = False
            problems.append(f"round {i}: engine (round, selected, success, new, "
                            f"dropped) {got} != oracle {exp}")
    if n == 0:
        return ok, problems, {}

    exp = _expected_rows(spark, doc, n, pages_dir)
    an = store.table("analyses").read().select(
        "url", F.col("round").alias("a_round"), "content_text")
    j = an.join(exp, "url", "full_outer")
    bad = (F.col("a_round").isNull() | F.col("e_round").isNull()
           | (F.col("a_round") != F.col("e_round")) | F.col("golden").isNull()
           | (F.col("content_text") != F.col("golden")))
    rows = (j.groupBy(F.coalesce("a_round", "e_round").alias("round"))
            .agg(F.sum(bad.cast("long")).alias("bad"),
                 F.count(F.lit(1)).alias("rows"),
                 F.coalesce(F.bit_xor(F.xxhash64("url", "golden")), F.lit(0)).alias("want_xor"))
            .collect())
    content_xor = {}
    for r in rows:
        rnd = r["round"]
        if rnd is None or not 0 <= rnd < n:
            problems.append(f"analyses rows outside the timed rounds: round {rnd}")
            continue
        content_xor[rnd] = int(r["want_xor"])
        if r["bad"]:
            ok[rnd] = False
            problems.append(f"round {rnd}: {r['bad']} of {r['rows']} analyses rows "
                            "differ from the oracle's urls or the golden text")

    # seen: the web's urls compared as a set, the pre-seeded ones by digest
    pre = F.col("url").contains(inputs.PRESEED_MARK)
    seen = store.table("seen").read().select("url")
    got = {r["url"] for r in seen.filter(~pre).collect()}
    want = set(inputs.seen_after(doc, n))
    if got != want:
        ok[n - 1] = False
        problems.append(f"seen set after round {n - 1}: {len(got - want)} urls not in "
                        f"the oracle's, {len(want - got)} missing")
    if preseed is not None:
        got_pre = inputs.set_digest(seen.filter(pre))
        if got_pre != (preseed["count"], preseed["xor"]):
            ok[n - 1] = False
            problems.append(f"pre-seeded part of seen changed: {got_pre} != "
                            f"{(preseed['count'], preseed['xor'])}")
    return ok, problems, content_xor


def _oracle_rows(doc: dict, content_xor: dict) -> list[dict]:
    import inputs

    out = []
    for i, rr in enumerate(doc["rounds"]):
        out.append({
            "selected": rr["selected"], "success": rr["success"],
            "new_urls": rr["new_urls"], "dedup_dropped": rr["dedup_dropped"],
            "success_digest": _digest(rr["success_urls"]),
            "seen_digest": _digest(inputs.seen_after(doc, i + 1)),
            "content_xor": content_xor.get(i),
        })
    return out


def check_pinned(path: str, workload: str, doc: dict, content_xor: dict,
                 n_rounds: int) -> list[str]:
    """Compare the oracle's first ``n_rounds`` rounds with the pinned
    default-seed values."""
    try:
        with open(path) as f:
            pinned = json.load(f).get(workload)
    except OSError:
        pinned = None
    if pinned is None:
        return [f"no pinned values for {workload} in {os.path.basename(path)}"]
    got = _oracle_rows(doc, content_xor)[:n_rounds]
    problems = []
    for i, (g, p) in enumerate(zip(got, pinned["rounds"])):
        if g != p:
            diff = sorted(k for k in g if g[k] != p.get(k))
            problems.append(f"round {i}: oracle differs from pinned values in {diff}")
    return problems


def pin(bench, path: str) -> None:
    """Write the default seed's oracle values for ``bench``'s workload
    (every round the oracle covers) into ``path``."""
    from pyspark.sql import functions as F

    import inputs

    wl, spark = bench.wl, bench.spark
    doc = inputs.expectations(bench.cache, wl, bench.args.seed, bench.skeleton_dir,
                              inputs.MAX_ROUNDS)
    exp = _expected_rows(spark, doc, len(doc["rounds"]), bench.pages_dir)
    rows = (exp.groupBy("e_round")
            .agg(F.bit_xor(F.xxhash64("url", "golden")).alias("x")).collect())
    content_xor = {int(r["e_round"]): int(r["x"]) for r in rows}
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
    pinned[wl.name] = {"seed": bench.args.seed, "rounds": _oracle_rows(doc, content_xor)}
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
