"""Crawl benchmark: drives ``CrawlEngine`` through its public API.

Usage, from the repository root::

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

One run starts a local Spark session on every core of the host, warms
the JVM and the Python workers up with one round of the workload's own
shape on a throwaway warehouse, times the engine set-up three times, then
runs whole crawl rounds until ``--seconds`` have passed and at least two
rounds have run, and checks the crawl against
``vyntr_spark.oracle.run_oracle`` (see ``gate.py``). The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it carries the per-run details (round walls, warm-up, host
telemetry, and with ``--trace 1`` the per-round layer rows).

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (session start
plus the median engine set-up), ``op_p50_ms`` (median round wall),
``items_per_s`` (pages fetched over summed round walls),
``cpu_s_per_kitem`` (CPU of this process, the JVM and the Python workers per 1000
pages) and ``peak_rss_mb`` (their summed peak RSS). ``--trace 1`` wraps
the crawl and tables layers (see ``tracing.py``) and reports the
per-layer metrics named in ``BENCHMARK.json`` instead.

Inputs, warehouses and Spark's local directories live under ``.perfbench/`` in
the working directory; the run reads and writes nothing outside it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gate
import inputs
import layers
import telemetry
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 1
SETUP_REPS = 3
WARMUP_ROUNDS = 1  # the cold round; later rounds run at the timed rounds' speed
MIN_ROUNDS = 2  # so a slow first round never leaves a run with one sample
KERNEL_PROBE_PAGES = 200
EXPECTED_FILE = os.path.join(HERE, "expected.json")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true",
                   help="write the default seed's oracle expectations to expected.json")
    return p.parse_args(argv)


def heap_mb(mem_total: int | None) -> int:
    """Fixed JVM heap: a fifth of the host's memory, 1-4 GiB."""
    if not mem_total:
        return 2048
    mb = mem_total // (5 << 20) // 256 * 256
    return max(1024, min(4096, mb))


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.wl = inputs.WORKLOADS[args.workload]
        self.work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.work, "cache")
        self.rundir = os.path.join(self.work, f"run-{os.getpid()}")
        self.cores = telemetry.cores()
        self.heap_mb = heap_mb(telemetry.mem_total_bytes())
        self.details: dict = {"workload": self.wl.name, "seed": args.seed,
                              "cores": self.cores, "heap_mb": self.heap_mb,
                              "proc": telemetry.proc_available()}
        self.spark = None

    # -- session -------------------------------------------------------------
    def start_session(self) -> float:
        from vyntr_spark.session import get_spark

        tmp = os.path.join(self.rundir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_DRIVER_MEM"] = f"{self.heap_mb}m"
        os.environ["VYNTR_DRIVER_JAVA_OPTS"] = (
            f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}")
        os.environ["VYNTR_LOCAL_DIR"] = os.path.join(self.rundir, "local")
        # spark-submit's short-lived launcher JVM: no perf-data file in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra={
                "spark.ui.showConsoleProgress": "false",
                # binary-heavy pages scan: small splits keep every core busy
                "spark.sql.files.maxPartitionBytes": "16m",
                "spark.sql.files.openCostInBytes": "1m",
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "10000",
                "spark.sql.ui.retainedExecutions": "5000",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        telemetry.wait_children()

    # -- inputs ----------------------------------------------------------------
    def prepare_inputs(self) -> None:
        """Build (first run in a checkout) or verify every workload's
        cached inputs, so only the very first run pays for generation."""
        t0 = time.perf_counter()
        for wl in inputs.WORKLOADS.values():
            pages_dir = inputs.web_path(self.cache, self.spark, wl.web)
            skeleton_dir = inputs.skeleton_path(self.cache, self.spark, wl.web, pages_dir)
            preseed = (inputs.preseed(self.cache, self.spark, wl.preseed_urls, pages_dir)
                       if wl.preseed_urls else None)
            if wl is self.wl:
                self.pages_dir, self.skeleton_dir, self.preseed = (
                    pages_dir, skeleton_dir, preseed)
        self.seeds = inputs.start_pages(self.wl, self.args.seed)
        self.engine_seed = inputs.engine_seed(self.args.seed)
        self.details["inputs_s"] = time.perf_counter() - t0

    def engine(self, warehouse: str):
        """Open the inputs and build an engine on ``warehouse``."""
        from vyntr_spark.crawl import CrawlEngine
        from vyntr_spark.tables import PAGES, SnapshotStore

        pages = self.spark.read.schema(PAGES).parquet(self.pages_dir)
        store = SnapshotStore(self.spark, warehouse)
        eng = CrawlEngine(self.spark, store, pages, max_pages=self.wl.web.n_pages,
                          seed=self.engine_seed)
        return eng, store

    def fresh_warehouse(self, name: str) -> str:
        path = os.path.join(self.rundir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def prepared_warehouse(self, name: str) -> str:
        """Warehouse of the resume shape: seeds ingested, then the
        pre-seeded urls appended to ``seen``. Not timed as set-up."""
        path = self.fresh_warehouse(name)
        eng, store = self.engine(path)
        eng.init_from_seeds(self.seeds)
        store.table("seen").commit(self.spark.read.parquet(self.preseed["path"]),
                                   "append", {"stage": "preseed"})
        return path

    def set_up(self):
        """``SETUP_REPS`` timed set-ups: open the inputs, build the engine
        and ingest the seeds on a fresh warehouse, or, for the resume
        shape, build a fresh engine on the prepared warehouse. Returns
        the times and the last engine, which the timed rounds use."""
        times = []
        prepared = (self.prepared_warehouse("resume")
                    if self.preseed is not None else None)
        for i in range(SETUP_REPS):
            path = prepared or self.fresh_warehouse(f"wh{i}")
            t0 = time.perf_counter()
            eng, store = self.engine(path)
            if prepared is None:
                eng.init_from_seeds(self.seeds)
            times.append(time.perf_counter() - t0)
        return times, eng, store

    # -- phases ------------------------------------------------------------------
    def warm_up(self) -> None:
        t0 = time.perf_counter()
        path = self.fresh_warehouse("warmup")
        eng, _store = self.engine(path)
        eng.init_from_seeds(self.seeds)
        walls = []
        for _ in range(WARMUP_ROUNDS):
            t = time.perf_counter()
            eng.run_round()
            walls.append(time.perf_counter() - t)
        shutil.rmtree(path, ignore_errors=True)
        self.details["warmup_s"] = time.perf_counter() - t0
        self.details["warmup_round_s"] = walls

    def kernel_probe(self) -> float:
        """Single-thread ``extract_html`` pages/s on a fixed page sample."""
        import pyarrow.parquet as pq

        from vyntr_spark.extract import extract_html

        ds = pq.ParquetDataset(self.pages_dir)
        tab = ds.fragments[0].to_table(columns=["url", "html"]).slice(
            0, KERNEL_PROBE_PAGES).to_pylist()
        extract_html(tab[0]["html"], tab[0]["url"])
        t0 = time.perf_counter()
        for r in tab:
            extract_html(r["html"], r["url"])
        return len(tab) / (time.perf_counter() - t0)

    def crawl(self, eng):
        """Timed rounds until ``--seconds`` have passed and at least
        ``MIN_ROUNDS`` have run. A round that raises ends the crawl and
        counts as failed."""
        infos, walls, errors = [], [], []
        cpu0 = telemetry.tree_usage()
        ticks0 = telemetry.cpu_ticks()
        rss = telemetry.RssSampler()
        rss.start()
        t_start = time.perf_counter()
        while ((time.perf_counter() - t_start < self.args.seconds
                or len(infos) < MIN_ROUNDS) and len(infos) < inputs.MAX_ROUNDS):
            t = time.perf_counter()
            try:
                info = eng.run_round()
            except Exception as e:  # noqa: BLE001 — a failed op is reported, not fatal
                errors.append(f"{type(e).__name__}: {e}")
                break
            if info is None:
                errors.append("frontier or budget exhausted before --seconds")
                break
            walls.append(time.perf_counter() - t)
            infos.append(info)
        elapsed = time.perf_counter() - t_start
        peak = rss.stop()
        cpu1 = telemetry.tree_usage()
        ticks1 = telemetry.cpu_ticks()
        host = telemetry.host_cores(ticks0, ticks1, elapsed)
        if host:
            host["own_cores"] = (cpu1[0] - cpu0[0]) / elapsed
        return {"infos": infos, "walls": walls, "errors": errors,
                "elapsed": elapsed, "cpu_s": cpu1[0] - cpu0[0],
                "python_cpu_s": cpu1[2] - cpu0[2], "peak_rss": peak, "host": host}

    # -- correctness -------------------------------------------------------------
    def check(self, store, infos: list) -> tuple[list[bool], list[str]]:
        """Per-round verdicts against the oracle, plus run-level failures."""
        n = len(infos)
        t0 = time.perf_counter()
        doc = inputs.expectations(self.cache, self.wl, self.args.seed,
                                  self.skeleton_dir, max(n, 1))
        self.details["oracle_s"] = time.perf_counter() - t0
        ok, more, content_xor = gate.check_crawl(self.spark, store, self.pages_dir,
                                                 doc, infos, self.preseed)
        if self.args.seed == DEFAULT_SEED:
            more += gate.check_pinned(EXPECTED_FILE, self.wl.name, doc, content_xor, n)
        return ok, more

    # -- the run ---------------------------------------------------------------------
    def run(self) -> dict:
        os.makedirs(self.rundir, exist_ok=True)
        session_s = self.start_session()
        self.prepare_inputs()
        self.warm_up()
        tracer = None
        if self.args.trace:
            tracer = tracing.Tracer(self.spark)
            tracer.install()
        try:
            t0 = time.perf_counter()
            setups, eng, store = self.set_up()
            self.details["setup_phase_s"] = time.perf_counter() - t0
            # start the timed window from collected heaps on both sides
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            res = self.crawl(eng)
        finally:
            if tracer is not None:
                tracer.uninstall()
        # single-thread kernel speed, taken while the JVM is idle
        self.details["kernel_probe_pages_per_s"] = self.kernel_probe()
        self.details["session_s"] = session_s
        self.details["setup_reps_s"] = setups
        infos, walls = res["infos"], res["walls"]
        t0 = time.perf_counter()
        round_ok, problems = self.check(store, infos)
        self.details["check_s"] = time.perf_counter() - t0
        problems = res["errors"] + problems
        failed = round_ok.count(False) + (1 if res["errors"] else 0)
        attempted = len(infos) + (1 if res["errors"] else 0)
        pages = sum(i.selected for i in infos)
        items_per_s = pages / sum(walls) if walls else 0.0
        self.details.update(
            round_s=walls, rounds=[i.round for i in infos],
            selected=[i.selected for i in infos], host=res["host"],
            problems=problems)

        if tracer is not None:
            metrics = layers.per_layer(self, tracer, res, infos)
        else:
            metrics = {
                "setup_s": (session_s + statistics.median(setups), "s"),
                "op_p50_ms": (statistics.median(walls) * 1000 if walls else 0.0, "ms"),
                "items_per_s": (items_per_s, "1/s"),
                "cpu_s_per_kitem": (res["cpu_s"] / max(pages, 1) * 1000, "s"),
                "peak_rss_mb": (res["peak_rss"] / (1 << 20), "MB"),
            }
            if not problems:
                layers.log_untraced(self.work, self.wl.name, self.args.seed, items_per_s)
        return {
            "correct": not problems,
            "attempted": max(attempted, 1),
            "failed": failed if attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vyntr_spark", "crawl.py")):
        print("perfbench: vyntr_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(inputs.WORKLOADS)}", file=sys.stderr)
        return 2
    # every temporary file of this process and its children stays inside
    # the working directory (set before anything calls tempfile)
    run_tmp = os.path.join(root, ".perfbench", f"run-{os.getpid()}", "tmp")
    os.makedirs(run_tmp, exist_ok=True)
    os.environ["TMPDIR"] = run_tmp

    bench = Bench(args, root)
    try:
        if args.pin:
            bench.start_session()
            bench.prepare_inputs()
            gate.pin(bench, EXPECTED_FILE)
            return 0
        result = bench.run()
    finally:
        try:
            bench.stop_session()
        finally:
            shutil.rmtree(bench.rundir, ignore_errors=True)
    print(json.dumps(bench.details, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
