"""SnapshotStore semantics: append/replace reads, time travel, rollback."""

from vyntr_spark.tables import SnapshotStore


def test_append_replace_timetravel_rollback(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "wh"))
    t = store.table("seeds")

    assert t.is_empty()
    assert t.read().count() == 0

    s1 = t.commit(spark.createDataFrame([("a",)], "url string"), "append", {"n": 1})
    s2 = t.commit(spark.createDataFrame([("b",)], "url string"), "append", {"n": 2})
    assert {r["url"] for r in t.read().collect()} == {"a", "b"}
    assert {r["url"] for r in t.read(as_of=s1).collect()} == {"a"}

    s3 = t.commit(spark.createDataFrame([("c",)], "url string"), "replace")
    assert {r["url"] for r in t.read().collect()} == {"c"}
    assert {r["url"] for r in t.read(as_of=s2).collect()} == {"a", "b"}

    t.commit(spark.createDataFrame([("d",)], "url string"), "append")
    assert {r["url"] for r in t.read().collect()} == {"c", "d"}

    t.rollback(s3)
    assert {r["url"] for r in t.read().collect()} == {"c"}
    assert t.current_snapshot_id() == s3

    # lineage chain
    snaps = t.snapshots()
    assert [s.parent_id for s in snaps] == [None, s1, s2]
    assert snaps[0].summary == {"n": 1}


def test_fresh_store_reopens(spark, tmp_path):
    root = str(tmp_path / "wh2")
    store = SnapshotStore(spark, root)
    store.table("seeds").commit(spark.createDataFrame([("x",)], "url string"))
    # a second store instance (new "process") sees committed state
    store2 = SnapshotStore(spark, root)
    assert [r["url"] for r in store2.table("seeds").read().collect()] == ["x"]


def test_expire_snapshots(spark, tmp_path):
    import os

    import pytest

    store = SnapshotStore(spark, str(tmp_path / "wh3"))
    t = store.table("frontier", store.SCHEMAS["seeds"])

    def df(u):
        return spark.createDataFrame([(u,)], "url string")

    s1 = t.commit(df("a"), "replace")
    s2 = t.commit(df("b"), "replace")
    s3 = t.commit(df("c"), "replace")
    paths = {s.snapshot_id: s.path for s in t.snapshots()}

    removed = t.expire_snapshots(keep_last=1)
    assert removed == 2
    assert not os.path.exists(paths[s1]) and not os.path.exists(paths[s2])
    assert os.path.exists(paths[s3])
    # current read unaffected; lineage ids survive expiration
    assert [r["url"] for r in t.read().collect()] == ["c"]
    assert [s.snapshot_id for s in t.snapshots()] == [s1, s2, s3]
    # expired time travel raises a clear error instead of silent wrong data
    with pytest.raises(ValueError, match="expired"):
        t.read(as_of=s2)

    # append tables: every snapshot stays data-live, nothing is removed
    ta = store.table("seen_like", store.SCHEMAS["seeds"])
    a1 = ta.commit(df("x"), "append")
    ta.commit(df("y"), "append")
    assert ta.expire_snapshots(keep_last=1) == 0
    assert {r["url"] for r in ta.read(as_of=a1).collect()} == {"x"}

    # rollback to an expired snapshot must refuse BEFORE deleting
    # anything (completing it would leave the table unreadable forever)
    with pytest.raises(ValueError, match="expired"):
        t.rollback(s2)
    assert [r["url"] for r in t.read().collect()] == ["c"]
    assert [s.snapshot_id for s in t.snapshots()] == [s1, s2, s3]


def test_expire_keeps_window_replace_history(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "wh4"))
    t = store.table("frontier", store.SCHEMAS["seeds"])

    def df(u):
        return spark.createDataFrame([(u,)], "url string")

    t.commit(df("a"), "replace")
    s2 = t.commit(df("b"), "replace")
    t.commit(df("c"), "append")
    # keep_last=2 must preserve everything a read(as_of >= s2) touches:
    # the replace at s2 plus the append after it
    assert t.expire_snapshots(keep_last=2) == 1
    assert {r["url"] for r in t.read(as_of=s2).collect()} == {"b"}
    assert {r["url"] for r in t.read().collect()} == {"b", "c"}


def test_commit_rows_arrow_table_roundtrip(spark, tmp_path):
    """commit_rows takes a pyarrow.Table as well as tuples: columns are
    picked by name and cast to the table schema (an int32 F.hash becomes
    the long url_hash), and the rows read back through read()."""
    import pyarrow as pa

    store = SnapshotStore(spark, str(tmp_path / "wh"))
    cases = {
        "frontier": pa.table({
            # extra and reordered columns: commit_rows selects by name
            "round": pa.array([1, 1], pa.int32()),
            "host": ["a.example", "b.example"],
            "url": ["http://a.example/", "http://b.example/x"],
            "depth": pa.array([1, 2], pa.int32()),
            "_robots": [False, True],
        }),
        "seen": pa.table({
            "url_hash": pa.array([-7, 2**31 - 1], pa.int32()),
            "url": ["http://a.example/", "http://b.example/x"],
        }),
        "frontier_removed": pa.table({
            "url": ["http://a.example/"],
            "round": pa.array([3], pa.int32()),
        }),
    }
    for name, tbl in cases.items():
        t = store.table(name)
        sid = t.commit_rows(tbl, "append", {"round": 0})
        assert t.snapshots()[-1].snapshot_id == sid
        assert t.snapshots()[-1].summary == {"round": 0}
        cols = t.schema.fieldNames()
        got = sorted(tuple(r) for r in t.read().collect())
        want = sorted(zip(*(tbl[c].to_pylist() for c in cols)))
        assert got == want, name
