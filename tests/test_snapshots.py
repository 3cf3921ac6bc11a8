"""Snapshot table layout: time travel, CAS commits, rollback, vacuum."""

import os

import pytest

from gan_deeplearning4j_spark.sources.snapshots import (
    SnapshotConflictError,
    SnapshotTable,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 as v")


def test_snapshot_commit_append_overwrite_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.version() is None

    assert t.commit(_df(spark, 0, 10)) == 0            # v0: 10 rows
    assert t.commit(_df(spark, 10, 15)) == 1           # v1: +5 (append)
    assert t.commit(_df(spark, 100, 102), mode="overwrite") == 2

    assert t.read(spark).count() == 2                  # HEAD == v2
    assert t.read(spark, version=0).count() == 10
    assert t.read(spark, version=1).count() == 15
    assert sorted(r.id for r in t.read(spark, version=2).collect()) == [100, 101]

    ops = [h["operation"] for h in t.history()]
    assert ops == ["append", "append", "overwrite"]
    with pytest.raises(ValueError, match="version 9 does not exist"):
        t.read(spark, version=9)


def test_snapshot_optimistic_concurrency(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, 0, 5))
    # writer A bases on v0; writer B commits first; A must CAS-fail
    t.commit(_df(spark, 5, 6), expected_version=0)     # -> v1
    with pytest.raises(SnapshotConflictError, match="expected HEAD v0"):
        t.commit(_df(spark, 6, 7), expected_version=0)
    # retry on the fresh head succeeds
    assert t.commit(_df(spark, 6, 7), expected_version=1) == 2
    assert t.read(spark).count() == 7


def test_snapshot_manifest_slot_is_claimed_exclusively(spark, tmp_path):
    """The TOCTOU race the expected_version guard can't see: a racing
    writer publishes v{N+1} between our HEAD read and our manifest write.
    The manifest slot claim must be an exclusive create — the loser gets
    SnapshotConflictError and the winner's manifest is NOT clobbered."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, 0, 5))                         # v0

    real_version = t.version
    stale_head = real_version()                        # our writer sees v0
    # simulate the race: after our writer reads HEAD (v0), a second writer
    # lands v1 before our manifest write — our writer keeps acting on the
    # stale head it already read
    def stale_head_with_racer():
        t2 = SnapshotTable(str(tmp_path / "tbl"))
        if not os.path.exists(t2._manifest_path(1)):
            t2._publish({"files": ["data/x/winner.parquet"],
                         "operation": "append"}, None)
        return stale_head

    t.version = stale_head_with_racer
    with pytest.raises(SnapshotConflictError, match="already committed"):
        t.commit(_df(spark, 5, 9))
    t.version = real_version
    # the winner's manifest survived untouched
    assert t._read_manifest(1)["files"] == ["data/x/winner.parquet"]
    # and no stray temp files leaked into the manifest dir
    assert not [f for f in os.listdir(t._manifest_dir)
                if f.endswith(".tmp")]
    # a clean retry on the fresh head proceeds to v2
    assert t.commit(_df(spark, 5, 9)) == 2


def test_snapshot_rollback_preserves_history(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, 0, 10))
    t.commit(_df(spark, 0, 3), mode="overwrite")       # bad load
    v = t.rollback(0)
    assert v == 2
    assert t.read(spark).count() == 10                 # HEAD content == v0
    assert t.read(spark, version=1).count() == 3       # bad version auditable
    assert t.history()[2]["operation"] == "rollback:v0"


def test_snapshot_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, 0, 10))                        # v0 files
    t.commit(_df(spark, 0, 4), mode="overwrite")       # v1 files
    t.commit(_df(spark, 0, 6), mode="overwrite")       # v2 files
    data_dirs = os.listdir(str(tmp_path / "tbl" / "data"))
    assert len(data_dirs) == 3

    removed = t.vacuum(keep_last=2)                    # keep v1, v2
    assert removed == 1
    assert t.read(spark, version=1).count() == 4       # kept travel works
    assert t.read(spark).count() == 6
    with pytest.raises(Exception):                     # v0 files are gone
        t.read(spark, version=0).count()

    # appended files are shared across manifests: vacuum must keep them
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    t2.commit(_df(spark, 0, 5))
    t2.commit(_df(spark, 5, 8))                        # append shares v0 dir
    assert t2.vacuum(keep_last=1) == 0                 # nothing unreachable
    assert t2.read(spark).count() == 8


def test_snapshot_commit_without_hardlink_support(spark, tmp_path,
                                                  monkeypatch):
    """Filesystems without hardlinks (FUSE/object-store mounts, SMB)
    raise EPERM/ENOTSUP from os.link; commit must fall back to an
    O_CREAT|O_EXCL exclusive create with the SAME lose-the-race-loudly
    contract instead of failing outright (ADVICE r8)."""
    def no_link(src, dst, **kw):
        raise PermissionError("Operation not permitted")

    monkeypatch.setattr(os, "link", no_link)
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.commit(_df(spark, 0, 5)) == 0             # v0 via fallback
    assert t.commit(_df(spark, 5, 9)) == 1             # v1 via fallback
    assert t.read(spark, version=0).count() == 5
    assert t.read(spark).count() == 9
    # no temp leakage on the fallback path either
    assert not [f for f in os.listdir(t._manifest_dir)
                if f.endswith(".tmp")]

    # the race still loses loudly: pre-claim v2's slot, then commit
    with open(t._manifest_path(2), "w") as f:
        f.write("{}")
    with pytest.raises(SnapshotConflictError, match="already committed"):
        t._publish({"files": [], "operation": "append"}, None)


def test_snapshot_stale_claim_repair(spark, tmp_path, monkeypatch):
    """A fallback writer that crashes between claiming a slot and
    publishing leaves v{N}.json.claim blocking every later commit.
    repair_stale_claims() is the explicit recovery path: it removes only
    orphaned claims (no matching manifest) older than min_age_sec, and
    commits work again afterwards (ADVICE r9)."""
    def no_link(src, dst, **kw):
        raise PermissionError("Operation not permitted")

    monkeypatch.setattr(os, "link", no_link)
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.commit(_df(spark, 0, 5)) == 0

    # simulate the crash: claim v1's slot, no manifest ever published
    stale = t._manifest_path(1) + ".claim"
    with open(stale, "w"):
        pass
    with pytest.raises(SnapshotConflictError, match="repair_stale_claims"):
        t.commit(_df(spark, 5, 9))

    # a fresh claim is NOT reclaimed (could be a live slow writer) ...
    assert t.repair_stale_claims(min_age_sec=3600) == []
    assert os.path.exists(stale)
    # ... an old one is; debris next to a published manifest is ignored
    harmless = t._manifest_path(0) + ".claim"
    with open(harmless, "w"):
        pass
    old = os.stat(stale).st_mtime - 7200
    os.utime(stale, (old, old))
    os.utime(harmless, (old, old))
    assert t.repair_stale_claims(min_age_sec=3600) == [stale]
    assert not os.path.exists(stale) and os.path.exists(harmless)

    # the slot is usable again
    assert t.commit(_df(spark, 5, 9)) == 1
    assert t.read(spark).count() == 9


def test_connected_components_logn_raises_on_round_cap(spark):
    """Star contraction must never RETURN a possibly-split labeling: with
    an absurdly low max_iter on a chain it raises instead of warning —
    the escalation path from propagation relies on this strictness
    (ADVICE r9)."""
    from gan_deeplearning4j_spark.operators.dedup import _cc_star_contraction

    rows = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    with pytest.raises(RuntimeError, match="possibly-split"):
        _cc_star_contraction(df, "a", "b", max_iter=1)
