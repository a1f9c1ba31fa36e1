"""Table schemas and the snapshot-commit storage layer.

Schemas mirror the reference data model (SURVEY.md §1, FIXTURES.md §1-2):
``SeoAnalysis`` (genesis/src/db.rs:11-18) plus the crawl-state tables the
reference keeps in memory (visited HashSet main.rs:159, DomainQueues
crawler.rs:4-8) which the rebuild persists.

Storage: Iceberg is the production target (``--packages
org.apache.iceberg:iceberg-spark-runtime``), but no Iceberg jar ships in
this sandbox, so ``SnapshotStore`` implements the same *semantics* —
snapshot-id lineage, per-snapshot summary props (metrics), time travel,
rollback — as versioned Parquet directories plus a JSON manifest. The
engine only talks to this small interface, so swapping the backend is a
config change, not a rewrite.

Layout on disk::

    <root>/<table>/manifest.json
    <root>/<table>/snap-00000001/part-*.parquet

``append`` mode: a read unions every live snapshot directory (the Iceberg
append pattern — analyses, seen, metrics). ``replace`` mode: a read sees
only the newest snapshot (frontier, round_state).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Schemas (explicit StructTypes, never inferred — SURVEY.md §1.4)
# --------------------------------------------------------------------------

META_TAG = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# input_hint shape: Common-Crawl-style pages + auxiliary gate columns
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        # auxiliary, nullable, not part of the contract (FIXTURES.md §1)
        T.StructField("content_type", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("body_marker", T.StringType(), True),
    ]
)

SEEDS = T.StructType([T.StructField("url", T.StringType(), False)])

# Frontier ordering contract (SURVEY.md §8 N4/N5): the per-domain FIFO /
# budget-truncation order is the composite (round, url) — discovery round,
# then lexicographic URL (links are already pinned to sorted order, N2).
# No materialized global sequence number: a dense global rank would need a
# single-partition window (a 10^10-row bottleneck); (round, url) gives the
# same deterministic total order for free.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),  # discovered_round
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),  # murmur3 F.hash
        T.StructField("url", T.StringType(), False),
    ]
)

ROBOTS_RULES = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), False),
    ]
)

ANALYSES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("language", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("meta_tags", T.ArrayType(META_TAG), False),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField("content_text", T.StringType(), False),
        # lineage columns (north rule: per-partition lineage)
        T.StructField("round", T.IntegerType(), False),
        T.StructField("src_partition", T.StringType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition", T.StringType(), False),
        T.StructField("total", T.LongType(), False),
        T.StructField("success", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("skipped_ct", T.LongType(), False),
        T.StructField("robots_blocked", T.LongType(), False),
        T.StructField("dedup_dropped", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# rotation_offset: the reference rotates its domain round-robin vector per
# batch (crawler.rs:43-45); under the pinned round-barrier semantics a full
# sweep visits every domain each round, so rotation cannot change the fetch
# set — the offset is carried for lineage/debug parity only (= round index).
ROUND_STATE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("pages_count", T.LongType(), False),
        T.StructField("rotation_offset", T.IntegerType(), False),
        T.StructField("rng_seed", T.LongType(), False),
    ]
)


# --------------------------------------------------------------------------
# Snapshot store
# --------------------------------------------------------------------------

# Spark → Arrow types of the driver-side commit path (commit_rows)
_PA = {
    T.StringType(): pa.string(),
    T.IntegerType(): pa.int32(),
    T.LongType(): pa.int64(),
    T.DoubleType(): pa.float64(),
    T.BooleanType(): pa.bool_(),
}


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    mode: str  # "append" | "replace"
    timestamp_ms: int
    summary: dict[str, Any] = field(default_factory=dict)
    path: str = ""


class SnapshotTable:
    """One versioned table. Semantics-equivalent stand-in for an Iceberg
    table: commit = new immutable snapshot dir + manifest update."""

    def __init__(self, spark: SparkSession, root: str, name: str, schema: T.StructType):
        self.spark = spark
        self.name = name
        self.schema = schema
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)
        self._manifest_path = os.path.join(self.dir, "manifest.json")

    # -- manifest ----------------------------------------------------------
    def _load(self) -> list[Snapshot]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            raw = json.load(f)
        return [Snapshot(**s) for s in raw["snapshots"]]

    def _save(self, snaps: list[Snapshot]) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshots": [vars(s) for s in snaps]}, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def _commit_snapshot(self, mode: str, summary: dict[str, Any] | None,
                         write) -> int:
        """The one commit path: take the next snapshot id, let ``write``
        fill its dir, then append the snapshot to the manifest."""
        snaps = self._load()
        sid = (snaps[-1].snapshot_id + 1) if snaps else 1
        path = os.path.join(self.dir, f"snap-{sid:08d}")
        write(path)
        snaps.append(
            Snapshot(
                snapshot_id=sid,
                parent_id=snaps[-1].snapshot_id if snaps else None,
                mode=mode,
                timestamp_ms=int(time.time() * 1000),
                summary=summary or {},
                path=path,
            )
        )
        self._save(snaps)
        return sid

    # -- public API ----------------------------------------------------------
    def commit(self, df: DataFrame, mode: str = "append",
               summary: dict[str, Any] | None = None,
               coalesce: int | None = None, shuffle: bool = True) -> int:
        if coalesce is not None:
            # bound the output file count (Iceberg would handle file sizing
            # via its own write targets). shuffle=True (repartition) is the
            # safe default: a bare coalesce() narrows the WHOLE upstream
            # stage to the target, which collapses post-shuffle stages
            # (e.g. a distinct feeding the frontier commit). shuffle=False
            # is for payload-heavy map-only plans (the analyses commit:
            # scan → broadcast join → extract UDF) where the caller keeps
            # the target ≥ the core count — the write then rides the same
            # stage with zero Exchange instead of shuffling the full
            # extracted-text payload before every commit.
            df = df.repartition(coalesce) if shuffle else df.coalesce(coalesce)
        return self._commit_snapshot(
            mode, summary, lambda path: df.write.mode("overwrite").parquet(path))

    def commit_rows(self, rows: list[tuple] | pa.Table, mode: str = "append",
                    summary: dict[str, Any] | None = None) -> int:
        """Driver-side commit of batch-sized local rows via pyarrow — no
        Spark job. Same snapshot/manifest semantics as ``commit``; meant
        for rows already on the driver (metrics, round_state, a crawl
        round's frontier/seen deltas) where a distributed write is pure
        scheduler overhead (the Iceberg analog is a data-file append
        written by the committing process). ``rows`` is a list of tuples
        in schema field order, or a ``pyarrow.Table`` holding the schema's
        columns (cast to the schema's types, e.g. an int32 ``F.hash`` to
        the long ``url_hash``)."""
        import pyarrow.parquet as pq

        arrow_schema = pa.schema(
            [(f.name, _PA[f.dataType]) for f in self.schema.fields]
        )
        if isinstance(rows, pa.Table):
            table = rows.select(arrow_schema.names).cast(arrow_schema)
        else:
            cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
            table = pa.table(
                [pa.array(list(c), f.type) for f, c in zip(arrow_schema, cols)],
                schema=arrow_schema,
            )

        def write(path: str) -> None:
            os.makedirs(path, exist_ok=True)
            pq.write_table(table, os.path.join(path, "part-00000.parquet"))

        return self._commit_snapshot(mode, summary, write)

    def snapshots(self) -> list[Snapshot]:
        return self._load()

    def current_snapshot_id(self) -> int | None:
        snaps = self._load()
        return snaps[-1].snapshot_id if snaps else None

    def _live_paths(self, as_of: int | None = None) -> list[str]:
        snaps = self._load()
        if as_of is not None:
            snaps = [s for s in snaps if s.snapshot_id <= as_of]
        live: list[str] = []
        for s in snaps:
            if s.mode == "replace":
                live = [s.path]
            else:
                live.append(s.path)
        if any(not p for p in live):
            raise ValueError(
                f"table {self.name!r}: snapshot data expired for as_of={as_of} "
                "(expire_snapshots removed it; widen keep_last to retain "
                "time travel)"
            )
        return live

    def read(self, as_of: int | None = None) -> DataFrame:
        """Current (or time-travel) view of the table."""
        paths = self._live_paths(as_of)
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)

    def read_appended_since(self, snapshot_id: int) -> DataFrame:
        """Rows committed by APPEND snapshots after ``snapshot_id`` — the
        incremental-read primitive (Iceberg's incremental scan between two
        snapshot ids). Lets a consumer with a watermark (e.g. a bloom
        checkpoint) catch up on just the delta instead of re-reading the
        table. Raises if a replace snapshot intervened (the delta is then
        not expressible as appended rows) or if an appended snapshot's
        data files were expired — callers fall back to a full read."""
        snaps = self._load()
        newer = [s for s in snaps if s.snapshot_id > snapshot_id]
        if any(s.mode == "replace" for s in newer):
            raise ValueError(
                f"table {self.name!r}: replace snapshot after "
                f"{snapshot_id}; incremental append read undefined"
            )
        paths = [s.path for s in newer]
        if any(not p for p in paths):
            raise ValueError(
                f"table {self.name!r}: appended snapshot after "
                f"{snapshot_id} was expired"
            )
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)

    def upsert(self, df: DataFrame, keys: list[str],
               summary: dict[str, Any] | None = None,
               coalesce: int | None = None) -> int:
        """MERGE INTO analog (E4/E7/W2 upserts: ``INSERT ... ON CONFLICT
        (keys) DO UPDATE``, generate_embeddings.py:347-361): new state =
        current rows anti-joined on keys ∪ incoming rows, committed as a
        replace snapshot. With Iceberg proper this is a real MERGE with
        positional deletes; semantics are identical."""
        current = self.read()
        kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(df.select(*current.columns))
        return self.commit(merged, "replace", summary, coalesce=coalesce)

    def rollback(self, snapshot_id: int) -> None:
        """Drop every snapshot newer than ``snapshot_id`` (Iceberg
        rollback_to_snapshot analog). Physical dirs are removed.

        Refuses when the target snapshot's live lineage contains a path
        already removed by ``expire_snapshots`` — completing such a
        rollback would leave the table permanently unreadable (every
        subsequent read would hit the expired-data guard)."""
        # mirrors the read-time guard in _live_paths (raises ValueError
        # on an expired path in the target lineage) BEFORE any deletion
        self._live_paths(as_of=snapshot_id)
        snaps = self._load()
        keep = [s for s in snaps if s.snapshot_id <= snapshot_id]
        drop = [s for s in snaps if s.snapshot_id > snapshot_id]
        for s in drop:
            shutil.rmtree(s.path, ignore_errors=True)
        self._save(keep)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg ``expire_snapshots`` analog: delete the data files of
        snapshots that no current-or-recent read can reference, keeping
        time travel for the ``keep_last`` most recent snapshots. A long
        crawl appends frontier deltas every round and replaces round_state,
        so without expiration disk grows O(rounds); run this per-N-rounds
        like an Iceberg maintenance job. Returns the number of snapshot
        dirs removed. Expired snapshots stay in the manifest (marked by a
        cleared path) so lineage/ids remain auditable."""
        snaps = self._load()
        if not snaps:
            return 0
        # live = snapshots any read(as_of >= cutoff) can touch: everything
        # at/after the newest `replace` within the protected window, plus
        # all appends after it; for pure-append tables every snapshot is
        # data-live and only the manifest window applies.
        cutoff_idx = max(0, len(snaps) - keep_last)
        live_paths: set[str] = set()
        for as_of_idx in range(cutoff_idx, len(snaps)):
            live: list[str] = []
            for s in snaps[: as_of_idx + 1]:
                if s.mode == "replace":
                    live = [s.path]
                else:
                    live.append(s.path)
            live_paths.update(live)
        removed = 0
        for s in snaps:
            if s.path and s.path not in live_paths:
                shutil.rmtree(s.path, ignore_errors=True)
                s.path = ""
                removed += 1
        self._save(snaps)
        return removed

    def is_empty(self) -> bool:
        return not self._live_paths()


class SnapshotStore:
    """A warehouse of SnapshotTables rooted at one directory."""

    SCHEMAS = {
        "pages": PAGES,
        "seeds": SEEDS,
        "frontier": FRONTIER,
        # frontier removal log: round = the round the url
        # was SELECTED (removed); a removal covers frontier rows whose
        # discovery round is <= it, so a same-round re-discovery (the
        # normalize_seeds=False alias quirk) survives
        "frontier_removed": T.StructType(
            [
                T.StructField("url", T.StringType(), False),
                T.StructField("round", T.IntegerType(), False),
            ]
        ),
        "seen": SEEN,
        "robots_rules": ROBOTS_RULES,
        "analyses": ANALYSES,
        "metrics": METRICS,
        "round_state": ROUND_STATE,
        # per-round per-host fetch aggregates feeding the AIMD politeness
        # caps (CrawlEngine adaptive_rate mode): host-dimension rows,
        # appended each round, deduped by max() per (host, round) at read
        "host_stats": T.StructType(
            [
                T.StructField("host", T.StringType(), False),
                T.StructField("round", T.IntegerType(), False),
                T.StructField("attempts", T.LongType(), False),
                T.StructField("successes", T.LongType(), False),
            ]
        ),
        # distinct cross-host link pairs observed by extraction, feeding
        # the OPIC-style frontier priority (CrawlEngine priority_frontier
        # mode): appended per round, re-deduped by the authority
        # aggregate at read — |host-pair|-dimension, not |links|
        "host_edges": T.StructType(
            [
                T.StructField("src_host", T.StringType(), False),
                T.StructField("dst_host", T.StringType(), False),
            ]
        ),
    }

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str, schema: T.StructType | None = None) -> SnapshotTable:
        if name not in self._tables:
            sch = schema or self.SCHEMAS.get(name)
            if sch is None:
                raise KeyError(f"no schema registered for table {name!r}")
            self._tables[name] = SnapshotTable(self.spark, self.root, name, sch)
        return self._tables[name]
