"""DeltaProtocolTable.state() keeps one folded snapshot per table path
for the whole process and folds only the commits newer than it. These
tests pin what that cache may never change: every commit is seen, a
re-created table is never served stale, callers cannot corrupt it,
time travel and cleaned logs still fold from disk, and concurrent
writers and readers agree. Spark-free: version 0 is written by hand,
later commits by the sessionless append_arrow."""

import json
import os
import shutil
import threading
import time
import uuid

import pyarrow as pa
import pytest

from featureform_spark.sources import delta_protocol as dp
from featureform_spark.sources.delta_protocol import DeltaProtocolTable

SCHEMA = {
    "type": "struct",
    "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}],
}


def _create(path: str, appends: int = 0) -> DeltaProtocolTable:
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(SCHEMA),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    t = DeltaProtocolTable(None, path)
    for i in range(appends):
        t.append_arrow(pa.table({"k": pa.array([i], pa.int64())}))
    return t


def _from_disk(t: DeltaProtocolTable, version: int | None = None):
    commits, cps = t._scan_log()
    v = t._latest(commits, cps) if version is None else version
    return t._fold(v, t._fold_start(v, commits, cps), commits, cps)[0]


def _no_full_fold(monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("state() refolded the whole log")

    monkeypatch.setattr(DeltaProtocolTable, "_fold", boom)


def test_commit_through_other_instance_is_seen(tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    reader = _create(path, appends=2)
    assert reader.state().version == 2
    writer = DeltaProtocolTable(None, path)
    _no_full_fold(monkeypatch)  # the new commit folds onto the snapshot
    v = writer.append_arrow(pa.table({"k": pa.array([9], pa.int64())}))
    st = reader.state()
    assert st.version == v == 3
    assert len(st.adds) == 3
    monkeypatch.undo()
    assert st.adds == _from_disk(reader).adds


def test_recreated_table_in_same_millisecond_is_not_served_stale(
    tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    # every commit of both incarnations carries the same timestamp, and
    # both logs hold the same versions: only content tells them apart
    monkeypatch.setattr(dp.time, "time", lambda: 1_700_000_000.0)
    old = _create(path, appends=2).state()
    # the second incarnation is written elsewhere and moved in, so no
    # state() call at this path sees it being built
    _create(str(tmp_path / "elsewhere"), appends=2)
    shutil.rmtree(path)
    os.rename(str(tmp_path / "elsewhere"), path)
    new_table = DeltaProtocolTable(None, path)
    st = new_table.state()
    assert st.version == old.version
    assert set(st.adds).isdisjoint(old.adds)
    assert st.metadata["id"] != old.metadata["id"]
    assert st.adds == _from_disk(new_table).adds


def test_mutating_a_returned_state_leaves_the_next_unchanged(tmp_path):
    t = _create(str(tmp_path / "t"), appends=2)
    t.append_arrow(pa.table({"k": pa.array([5], pa.int64())}), txn=("app", 1))
    st = t.state()
    want = (dict(st.adds), dict(st.txns), st.version)
    st.adds.clear()
    st.txns["app"] = 99
    st.domains["d"] = "x"
    st.metadata["configuration"]["delta.appendOnly"] = "true"
    st.metadata["schemaString"] = "{}"
    st.protocol["minReaderVersion"] = 9
    again = t.state()
    assert (again.adds, again.txns, again.version) == want
    assert again.domains == {}
    assert again.metadata["configuration"] == {}
    assert again.metadata["schemaString"] == json.dumps(SCHEMA)
    assert again.protocol["minReaderVersion"] == 1


def test_time_travel_below_the_cached_version(tmp_path):
    t = _create(str(tmp_path / "t"), appends=4)
    assert t.state().version == 4
    for v in range(5):
        st = t.state(v)
        assert st.version == v
        assert st.adds == _from_disk(t, v).adds
        assert len(st.adds) == v
    assert len(t.state().adds) == 4  # the snapshot still serves latest
    with pytest.raises(dp.DeltaProtocolError, match="> latest"):
        t.state(5)


def test_checkpoint_and_cleaned_log(tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = _create(path, appends=3)
    t.checkpoint()
    assert t.clean_log() == 4  # commits 0..3 are covered
    monkeypatch.setattr(dp, "_snapshots", type(dp._snapshots)())
    st = DeltaProtocolTable(None, path).state()  # checkpoint only
    assert st.version == 3 and len(st.adds) == 3
    t.append_arrow(pa.table({"k": pa.array([7], pa.int64())}))
    st = DeltaProtocolTable(None, path).state()
    assert st.version == 4
    assert st.adds == _from_disk(t).adds
    with pytest.raises(dp.DeltaProtocolError, match="missing commits"):
        t.state(2)  # cleaned away


def test_validate_checksum_reads_the_log_not_the_snapshot(tmp_path):
    t = _create(str(tmp_path / "t"), appends=3)
    assert t.validate_checksum() is True
    p = os.path.join(t.log_path, "%020d.json" % 1)
    kept = [ln for ln in open(p) if '"add"' not in ln]
    with open(p, "w") as f:
        f.writelines(kept)
    assert len(t.state().adds) == 3  # v1 is older than the snapshot
    with pytest.raises(dp.DeltaProtocolError, match="checksum mismatch"):
        t.validate_checksum()


def test_threads_commit_while_others_fold(tmp_path):
    """More threads than cores, switching often: every state a reader
    sees is a whole version (one file per append), versions never go
    backwards, and no commit is lost."""
    import sys

    path = str(tmp_path / "t")
    _create(path)
    writers_n, per_writer = 4, 8
    errors: list[BaseException] = []
    done = threading.Event()

    def write(base: int) -> None:
        t = DeltaProtocolTable(None, path)
        try:
            for i in range(per_writer):
                t.append_arrow(
                    pa.table({"k": pa.array([base + i], pa.int64())})
                )
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    def read() -> None:
        t = DeltaProtocolTable(None, path)
        last = -1
        try:
            while not done.is_set():
                st = t.state()
                # each append adds one file; version 0 adds none
                assert len(st.adds) == st.version >= last
                last = st.version
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    writers = [
        threading.Thread(target=write, args=(1000 * w,))
        for w in range(writers_n)
    ]
    readers = [threading.Thread(target=read) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in readers + writers:
            th.start()
        for th in writers:
            th.join(timeout=60)
        done.set()
        for th in readers:
            th.join(timeout=60)
    finally:
        done.set()
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in readers + writers)
    assert not errors, errors
    t = DeltaProtocolTable(None, path)
    st = t.state()
    assert st.version == writers_n * per_writer
    assert st.adds == _from_disk(t).adds
    assert t.validate_checksum() is True
