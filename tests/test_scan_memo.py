"""The statement store's head scan is resolved and listed once per
commit version: ``StatementStore.raw()`` memoizes the scan it builds
for the head version, so a repeated read of an unchanged table starts
no Spark file-listing job, while any commit (from any store handle)
and any non-head ``as_of`` read resolve afresh."""

import uuid
from datetime import datetime, timedelta, timezone

import pytest

from ftm_lakehouse_spark.lakehouse import Lakehouse
from ftm_lakehouse_spark.sources.commits import LogTruncated
from ftm_lakehouse_spark.sources.statement_store import StatementStore

from .helpers import make_df, stmt

#: more explicit paths than Spark's parallel-listing threshold (32), so
#: the parent's per-call scan build runs a listing job a test can see
N_PARTITIONS = 40


def _rows(tag, n=N_PARTITIONS):
    return [
        stmt(id=f"{tag}{i}", entity_id=f"{tag}{i}", value=f"{tag}-{i}", origin=f"o{i}")
        for i in range(n)
    ]


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"scan-memo-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_second_raw_at_unchanged_version_starts_no_job(spark, lake_root):
    ds = Lakehouse(spark, lake_root).dataset("memo1")
    ds.store.append(make_df(spark, _rows("a")))
    assert len(ds.store.commits.snapshot()) >= N_PARTITIONS

    first, built = _jobs_during(spark, ds.store.raw)
    assert built, "a cold head scan lists its files with a Spark job"
    second, jobs = _jobs_during(spark, ds.store.raw)
    assert jobs == []
    assert second is first
    # the head pinned explicitly is the same version: served alike
    assert ds.store.raw(as_of=ds.store.commits.current_version()) is first
    assert _ids(second) == sorted(f"a{i}" for i in range(N_PARTITIONS))


def test_append_through_another_store_is_seen(spark, lake_root):
    ds = Lakehouse(spark, lake_root).dataset("memo2")
    ds.store.append(make_df(spark, _rows("a", 3)))
    assert _ids(ds.store.raw()) == ["a0", "a1", "a2"]

    other = StatementStore(spark, ds.store.path, ds.config)
    other.append(make_df(spark, _rows("b", 2)))
    assert _ids(ds.store.raw()) == ["a0", "a1", "a2", "b0", "b1"]
    assert ds.count() == 5


def test_recreated_dataset_at_the_same_version_is_not_served_stale(spark, lake_root):
    """A handle whose memo holds version 1 of a dataset that another
    catalog handle drops and re-creates (again at version 1) must read
    the new table, not the dropped one's vanished files."""
    ds = Lakehouse(spark, lake_root).dataset("memo5")
    ds.store.append(make_df(spark, _rows("a", 2)))
    assert _ids(ds.store.raw()) == ["a0", "a1"]

    other = Lakehouse(spark, lake_root)
    other.drop_dataset("memo5")
    other.dataset("memo5").store.append(make_df(spark, _rows("b", 1)))
    assert ds.store.commits.current_version() == 1
    assert _ids(ds.store.raw()) == ["b0"]


def test_time_travel_below_head_is_not_served_from_head_scan(spark, lake_root):
    ds = Lakehouse(spark, lake_root).dataset("memo3")
    store = ds.store
    store.append(make_df(spark, _rows("a", 2)))
    v1 = store.commits.current_version()
    store.raw()  # memo at v1
    store.append(make_df(spark, _rows("b", 2)))
    head = store.commits.current_version()
    assert head > v1
    assert _ids(store.raw()) == ["a0", "a1", "b0", "b1"]
    old = store.raw(as_of=v1)
    assert old is not store.raw()
    assert _ids(old) == ["a0", "a1"]
    assert _ids(ds.statements(as_of=v1)) == ["a0", "a1"]

    # reach a checkpoint with metadata-only commits, then let log
    # cleanup drop the records of v1: time travel to it must refuse
    while store.commits.current_version() % 20:
        store.commits.commit("append", [], files_added=[])
    store.commits.cleanup(datetime.now(timezone.utc) + timedelta(seconds=1))
    assert store.commits.oldest_version() > v1
    with pytest.raises(LogTruncated):
        store.raw(as_of=v1)
    with pytest.raises(LogTruncated):
        store.live(as_of=v1)
    assert _ids(store.raw()) == ["a0", "a1", "b0", "b1"]


def test_diff_with_delete_over_memoized_scans(spark, lake_root):
    """Self-join audit: every frame built from ``raw()``/``live()`` now
    shares the head scan's attribute ids, so ``diff`` joins two frames
    of one relation. Its joins are name-keyed; pin its rows."""
    ds = Lakehouse(spark, lake_root).dataset("memo4")
    old, new = "2024-01-01T00:00:00", "2024-06-01T00:00:00"
    since = datetime(2024, 3, 1, tzinfo=timezone.utc)
    ds.store.append(make_df(spark, [
        stmt(id="j1", entity_id="jane", value="Jane", first_seen=old, last_seen=old),
        stmt(id="k1", entity_id="kim", value="Kim", first_seen=old, last_seen=old),
        stmt(id="m1", entity_id="max", value="Max", first_seen=old, last_seen=old),
    ]))
    ds.store.append(make_df(spark, [
        stmt(id="p1", entity_id="pia", value="Pia", first_seen=new, last_seen=new),
        stmt(id="k2", entity_id="kim", prop="alias", value="K", first_seen=new, last_seen=new),
    ]))
    ds.store.raw()  # warm the memo: both diff branches read one scan
    ds.delete_entity("jane")

    got = sorted(
        (r["op"], r["entity_id"],
         tuple(sorted((k, tuple(v)) for k, v in r["entity"]["properties"].items()))
         if r["entity"] else None)
        for r in ds.diff(since).collect()
    )
    assert got == [
        ("ADD", "pia", (("name", ("Pia",)),)),
        ("DEL", "jane", None),
        ("MOD", "kim", (("alias", ("K",)), ("name", ("Kim",)))),
    ]
