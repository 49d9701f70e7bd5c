"""Topic catalog DDL semantics (A1-A3, Broker.java:87-116,340-353)."""

import pytest

from flux_spark.catalog import Catalog
from flux_spark.errors import InvalidTopicError, TopicExistsError, ValidationError


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(tmp_path / "wh")


def test_create_and_get(catalog):
    meta = catalog.create_topic("Bob", 3)
    assert meta.num_partitions == 3
    assert meta.partition_ids() == [0, 1, 2]
    assert catalog.topic_exists("Bob")
    assert catalog.get_topic("Bob").replication_factor == 1


def test_fixture_topics(catalog):
    # SharedTestServer fixture set (FIXTURES.md F2)
    for name, n in [("Bob", 3), ("TestTopic", 5), ("Topic", 3), ("test-topic", 3)]:
        catalog.create_topic(name, n)
    assert catalog.list_topics() == ["Bob", "TestTopic", "Topic", "test-topic"]
    assert catalog.partitions_for("TestTopic") == [0, 1, 2, 3, 4]


def test_validation(catalog):
    with pytest.raises(ValidationError):
        catalog.create_topic("", 3)
    with pytest.raises(ValidationError):
        catalog.create_topic("   ", 3)
    with pytest.raises(ValidationError):
        catalog.create_topic("t", 0)
    with pytest.raises(ValidationError):
        catalog.create_topic("t", 3, replication_factor=4)
    with pytest.raises(ValidationError):
        catalog.create_topic("t", 3, replication_factor=-1)
    catalog.create_topic("t", 1, replication_factor=0)
    with pytest.raises(TopicExistsError):
        catalog.create_topic("t", 2)


def test_delete(catalog):
    catalog.create_topic("t", 2)
    catalog.delete_topic("t")
    assert not catalog.topic_exists("t")
    with pytest.raises(InvalidTopicError):
        catalog.delete_topic("t")
    with pytest.raises(InvalidTopicError):
        catalog.get_topic("nonexistenttopic")


def test_hwm_roundtrip(catalog):
    catalog.create_topic("t", 2)
    catalog.advance_hwm("t", {0: 10, 1: 5})
    meta = catalog.get_topic("t")
    assert meta.next_offset(0) == 10
    assert meta.next_offset(1) == 5
    # hwm never regresses
    catalog.advance_hwm("t", {0: 7})
    assert catalog.get_topic("t").next_offset(0) == 10


def test_create_partitions_grow_only(catalog):
    from flux_spark.errors import ValidationError

    catalog.create_topic("t", 2)
    catalog.advance_hwm("t", {0: 10, 1: 5})
    meta = catalog.create_partitions("t", 4)
    assert meta.num_partitions == 4
    # existing offsets untouched; new partitions start empty
    assert meta.next_offset(0) == 10 and meta.next_offset(1) == 5
    assert meta.next_offset(2) == 0 and meta.next_offset(3) == 0
    with pytest.raises(ValidationError):
        catalog.create_partitions("t", 4)   # not an increase
    with pytest.raises(ValidationError):
        catalog.create_partitions("t", 3)   # shrink
    with pytest.raises(InvalidTopicError):
        catalog.create_partitions("nope", 5)


def test_advance_hwm_cross_process_no_lost_updates(tmp_path):
    """TRUE multi-process race on the catalog's read-modify-write: two OS
    processes each advance the hwm 40 times; without the warehouse flock
    in the catalog's LockedJson.update the interleaved load->save would
    lose updates. The hwm is max-merged, so each process advances a
    DISTINCT partition and every increment must survive."""
    import subprocess
    import sys
    import textwrap

    from flux_spark.catalog import Catalog

    wh = tmp_path / "wh"
    cat = Catalog(wh)
    cat.create_topic("race", 2)

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from flux_spark.catalog import Catalog
        cat = Catalog({wh!r})
        p = int(sys.argv[1])
        for _ in range(40):
            cur = cat.get_topic("race").next_offset(p)
            cat.advance_hwm("race", {{p: cur + 1}})
        """
    ).format(repo=str(__import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__)))), wh=str(wh))

    procs = [
        subprocess.Popen([sys.executable, "-c", script, str(p)])
        for p in (0, 1)
    ]
    for pr in procs:
        assert pr.wait(timeout=120) == 0
    meta = cat.get_topic("race")
    assert meta.next_offset(0) == 40
    assert meta.next_offset(1) == 40


def test_reader_waits_out_inflight_swap_cross_process(tmp_path):
    """TRUE multi-process in-flight-swap window: another OS process holds
    the warehouse swap guard with the live directory renamed away (the
    exact state a reader would otherwise misread as a crash, or — before
    the deterministic-backup fix — as an empty store). recover_dir_swap
    must BLOCK on the guard until the swap completes, then see the
    swapped-in directory and restore nothing."""
    import os
    import subprocess
    import sys
    import textwrap
    import time

    from flux_spark.catalog import recover_dir_swap

    live = tmp_path / "data"
    live.mkdir()
    (live / "old.txt").write_text("old")
    tmp = tmp_path / ".rewrite"
    tmp.mkdir()
    (tmp / "new.txt").write_text("new")
    guard = tmp_path / ".swap.lock"
    started = tmp_path / "swap-started"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, {repo!r})
        from flux_spark.catalog import file_lock
        live, tmp, guard, started = sys.argv[1:5]
        with file_lock(type(__import__('pathlib').Path())(guard)):
            backup = live + ".swap-backup"
            os.replace(live, backup)
            open(started, "w").write("1")   # signal: mid-swap, guard held
            time.sleep(2.0)                 # hold the dangerous window open
            os.replace(tmp, live)
            import shutil; shutil.rmtree(backup, ignore_errors=True)
        """
    ).format(repo=repo)
    proc = subprocess.Popen(
        [sys.executable, "-c", script, str(live), str(tmp), str(guard), str(started)]
    )
    try:
        deadline = time.time() + 30
        while not started.exists():
            assert time.time() < deadline, "swap process never started"
            time.sleep(0.02)
        t0 = time.time()
        restored = recover_dir_swap(live, guard)
        waited = time.time() - t0
        # we blocked until the swapper finished, found the NEW live dir,
        # and restored nothing
        assert not restored
        assert waited > 1.0, waited
        assert (live / "new.txt").exists()
        assert not (tmp_path / "data.swap-backup").exists()
    finally:
        assert proc.wait(timeout=60) == 0


def test_delete_topic_drops_orphaned_swap_backup(tmp_path):
    """delete_topic(drop_data=True) must also remove a crash-recovery
    backup for that topic, or re-creating the topic would 'recover' the
    deleted contents."""
    import os

    from flux_spark.catalog import Catalog

    cat = Catalog(tmp_path / "wh")
    cat.create_topic("gone", 1)
    backup = tmp_path / "wh" / "gone.swap-backup"
    backup.mkdir()
    (backup / "stale.parquet").write_text("x")
    cat.delete_topic("gone", drop_data=True)
    assert not backup.exists()
    assert not (tmp_path / "wh" / "gone").exists()


def test_warehouse_format_marker_rejects_foreign_format(tmp_path):
    """The writer-lock layout changed at format 2 (flock moved out of the
    topic dir) and the replay-window layout at format 3 (batch ids moved
    out of the catalog); a warehouse declaring another format must be
    refused so mixed-version writers can't silently share it and mint
    duplicate offsets or re-append replayed batches."""
    import json

    from flux_spark.catalog import Catalog
    from flux_spark.errors import IncompatibleWarehouseError

    cat = Catalog(tmp_path)
    cat.create_topic("t", 1)
    state = json.loads((tmp_path / "_catalog.json").read_text())
    assert state["format"] == 3

    for old in (1, 2):
        state["format"] = old
        (tmp_path / "_catalog.json").write_text(json.dumps(state))
        with pytest.raises(IncompatibleWarehouseError):
            Catalog(tmp_path).get_topic("t")
        with pytest.raises(IncompatibleWarehouseError):
            Catalog(tmp_path).create_topic("t2", 1)


def test_keyless_catalog_is_refused(tmp_path):
    """A catalog without a 'format' key predates the marker, so it was
    written by format-1 or format-2 code: refused like any foreign
    format, whatever lock files the warehouse holds."""
    import json

    from flux_spark.catalog import Catalog
    from flux_spark.errors import IncompatibleWarehouseError

    cat = Catalog(tmp_path)
    cat.create_topic("t", 1)
    state = json.loads((tmp_path / "_catalog.json").read_text())
    del state["format"]
    (tmp_path / "_catalog.json").write_text(json.dumps(state))
    with pytest.raises(IncompatibleWarehouseError, match="format None"):
        Catalog(tmp_path).get_topic("t")
