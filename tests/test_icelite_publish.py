"""The one publish path of icelite: every pointer write after
create_table goes through IceliteTable._publish, which claims the
commit marker, checks the pointer's metadata_version, writes and
releases the marker.  These tests pin that no operation can drop a
rival's publish, that markers never pile up, and that retention keeps
the newest snapshot."""

from __future__ import annotations

import ast
import os
import shutil
from datetime import datetime

import pytest

from data_eng_iceberg_demo_spark.tables import icelite
from data_eng_iceberg_demo_spark.tables.icelite import (CommitConflict,
                                                        IceliteCatalog,
                                                        IceliteTable)

_SCHEMA = "x int, ts timestamp"


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """A one-row table: snapshot 1 (insert), snapshot 2 (empty append on
    main, a delta manifest over 1), branch b at snapshot 3 ahead of
    main, tag t at snapshot 2.  Every operation below has something to
    do on it."""
    t = IceliteCatalog(spark, str(tmp_path_factory.mktemp("tpl"))).create_table(
        "db.t", spark.createDataFrame([], _SCHEMA).schema)
    t.insert(spark.createDataFrame([(1, datetime(2024, 1, 1))], _SCHEMA))
    t._append(t.meta, [])
    t.create_branch("b")
    t._append(t.meta, [], branch="b")
    t.create_tag("t")
    return t.tdir


def _copy(spark, template, tmp_path) -> IceliteTable:
    dst = str(tmp_path / "t")
    shutil.copytree(template, dst)
    return IceliteTable(spark, dst)


def _markers(t: IceliteTable) -> list[str]:
    d = os.path.join(t.tdir, ".commits")
    return os.listdir(d) if os.path.isdir(d) else []


_METADATA_OPS = {
    "set_property": lambda t: t.set_property("k", "v"),
    "add_column": lambda t: t.add_column("y", "int"),
    "rename_column": lambda t: t.rename_column("x", "z"),
    "drop_column": lambda t: t.drop_column("x"),
    "set_partition": lambda t: t.set_partition("days", "ts"),
    "set_write_order": lambda t: t.set_write_order(["x"]),
    "rewrite_manifests": lambda t: t.rewrite_manifests(),
    "expire_snapshots": lambda t: t.expire_snapshots(retain_last=1),
    "create_tag": lambda t: t.create_tag("t2"),
    "create_branch": lambda t: t.create_branch("b2"),
    "drop_ref": lambda t: t.drop_ref("t"),
    "fast_forward": lambda t: t.fast_forward("b"),
    "analyze_table": lambda t: t.analyze_table(["x"]),
}


@pytest.mark.parametrize("op", sorted(_METADATA_OPS))
def test_metadata_op_conflicts_instead_of_dropping_a_rival(
        spark, template, tmp_path, monkeypatch, op):
    """A rival handle commits right after each of the operation's
    metadata reads, so whatever read is its base, the pointer moved
    before its publish.  The operation raises CommitConflict and the
    rival's snapshots survive on main."""
    t = _copy(spark, template, tmp_path)
    rival = IceliteTable(spark, t.tdir)
    read = IceliteTable.meta.fget
    rivals = []

    def meta(self):
        m = read(self)
        if self is t:
            rivals.append(rival._append(read(rival), [])["id"])
        return m

    monkeypatch.setattr(IceliteTable, "meta", property(meta))
    with pytest.raises(CommitConflict):
        _METADATA_OPS[op](t)
    monkeypatch.undo()
    after = IceliteTable(spark, t.tdir).meta
    assert rivals and after["current_snapshot"] == rivals[-1]
    assert set(rivals) <= {s["id"] for s in after["snapshots"]}
    assert _markers(t) == []


def test_stale_commit_after_manifest_rewrite_and_gc_conflicts(
        spark, template, tmp_path):
    """rewrite_manifests changes only a snapshot header; after the GC
    drops the superseded manifest, a commit from the older base would
    publish a header pointing at the deleted manifest.  It conflicts
    and the table still reads."""
    t = _copy(spark, template, tmp_path)
    base = t.meta
    files = t._head(base)["files"]
    assert t.rewrite_manifests() == 1
    assert t.expire_snapshots(retain_last=100) == []
    with pytest.raises(CommitConflict):
        t._commit_snapshot(base, "append", files)
    assert IceliteTable(spark, t.tdir).read().count() == 1


def test_no_commit_marker_outlives_its_publish(spark, tmp_path):
    t = IceliteCatalog(spark, str(tmp_path)).create_table(
        "db.m", spark.createDataFrame([], _SCHEMA).schema)
    for i in range(2):
        t.insert(spark.createDataFrame([(i, datetime(2024, 1, 1))], _SCHEMA))
    t.delete_where("x = 0", mode="merge-on-read")
    t.add_column("y", "int")
    t.create_tag("v1")
    assert t.expire_snapshots(retain_last=1)
    assert _markers(t) == []
    assert t.read().count() == 1


def test_expire_snapshots_requires_retaining_one(spark, template, tmp_path):
    t = _copy(spark, template, tmp_path)
    before = [s["id"] for s in t.meta["snapshots"]]
    with pytest.raises(ValueError, match="retain_last"):
        t.expire_snapshots(retain_last=0)
    assert [s["id"] for s in t.meta["snapshots"]] == before


def test_call_expire_snapshots_requires_retaining_one(spark, tmp_path):
    from data_eng_iceberg_demo_spark.tables.sqlext import IceliteSqlSession

    sess = IceliteSqlSession(spark, str(tmp_path))
    sess.sql("CREATE SCHEMA IF NOT EXISTS db")
    sess.sql("CREATE TABLE db.t (x INT) USING iceberg")
    with pytest.raises(ValueError, match="retain_last"):
        sess.sql("CALL system.expire_snapshots('db.t', retain_last => 0)")


def test_only_publish_and_create_table_write_the_pointer():
    """One write path: no other function in icelite.py calls
    _write_meta, so no operation can skip the conflict check."""
    tree = ast.parse(open(icelite.__file__).read())
    writers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "_write_meta"):
                writers.add(fn.name)
    assert writers == {"_publish", "create_table"}
