"""Merge-on-read delete semantics (Iceberg format-version=2 delete
files, the capability the reference's table properties exist for —
README.md:177,180).  Contract pinned here:

  * MoR delete result == CoW delete result for the same predicate
  * MoR delete touches ZERO data files (the v2 point: O(matched rows)
    written, not O(file bytes) rewritten)
  * time travel across a MoR delete is position-exact in both directions
  * stacked MoR deletes compose; CoW after MoR applies pending deletes
  * rewrite_data_files compacts pending deletes away (clean file set,
    no delete_files, identical rows)
  * appends after a MoR delete are unaffected by older delete files
  * expire/orphan maintenance collects dead position-delete files
"""

from __future__ import annotations

import os

import pytest

from data_eng_iceberg_demo_spark.tables.icelite import IceliteCatalog
from data_eng_iceberg_demo_spark.tables.queries import (PEDIDOS_SCHEMA,
                                                        _typed_pedidos)


def _fresh(spark, tmp_path, name):
    cat = IceliteCatalog(spark, str(tmp_path))
    t = cat.create_table(name, PEDIDOS_SCHEMA)
    t.insert(_typed_pedidos(spark))
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_paths(t, version=None):
    return sorted(f["path"] for f in t.meta["snapshots"]
                  [(version or t.meta["current_snapshot"]) - 1]["files"])


@pytest.fixture()
def pair(spark, tmp_path):
    """Two identical tables: one deletes CoW, the other MoR."""
    return (_fresh(spark, tmp_path, "db.cow"),
            _fresh(spark, tmp_path, "db.mor"))


def test_mor_equals_cow_and_rewrites_nothing(spark, pair):
    cow, mor = pair
    pred = "uf = 'SP'"
    before_files = _data_paths(mor)
    cow.delete_where(pred)  # default copy-on-write
    mor.delete_where(pred, mode="merge-on-read")
    assert _rows(cow.read()) == _rows(mor.read())
    assert mor.read().filter(pred).count() == 0
    # MoR: identical data-file list, one delete file; CoW rewrote
    assert _data_paths(mor) == before_files
    snap = mor.meta["snapshots"][-1]
    assert len(snap["delete_files"]) == 1
    assert snap["delete_files"][0]["targets"]  # targets recorded
    assert _data_paths(cow) != before_files


def test_mor_time_travel_both_directions(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.tt")
    before = _rows(t.read())
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    after = _rows(t.read())
    assert _rows(t.read(version=1)) == before   # pre-delete snapshot intact
    assert _rows(t.read(version=2)) == after
    assert len(after) < len(before)


def test_mor_deletes_stack(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.stack")
    n0 = t.read().count()
    n_sp = t.read().filter("uf = 'SP'").count()
    n_rj = t.read().filter("uf = 'RJ'").count()
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    t.delete_where("uf = 'RJ'", mode="merge-on-read")
    assert t.read().filter("uf IN ('SP','RJ')").count() == 0
    assert t.read().count() == n0 - n_sp - n_rj
    assert len(t.meta["snapshots"][-1]["delete_files"]) == 2


def test_mor_delete_no_double_count(spark, tmp_path):
    """Re-deleting an already-deleted predicate writes no new positions
    (matches are computed on the delete-applied view)."""
    t = _fresh(spark, tmp_path, "db.idem")
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    # second delete matched nothing: no new delete file
    assert len(t.meta["snapshots"][-1]["delete_files"]) == 1


def test_delete_files_read_without_schema_inference(spark, tmp_path):
    """Delete files have a fixed (file_path, pos) schema, so no read of
    one may run a footer-inference job.  Jobs are counted the way
    perfbench's Tracer counts them: a job whose stages include a
    ``parquet at`` stage (a schema inference or a parquet write).  On a
    one-file table a plain read runs `a` such jobs (data-file
    inference, 0 once data schemas come from metadata).  A merge-on-read
    delete plus a read then runs at most 2a + 1: the delete's matching
    scan, its one delete-file write, and the read's scan.  Each
    inferred delete-file read would add one more."""
    sc = spark.sparkContext
    jst = sc._jsc.sc().statusTracker()

    def parquet_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n = 0
        for j in jst.getJobIdsForGroup(group):
            info = jst.getJobInfo(j)
            stages = [jst.getStageInfo(s) for s in info.get().stageIds()]
            n += any(s.isDefined() and s.get().name().startswith("parquet at")
                     for s in stages)
        return n

    cat = IceliteCatalog(spark, str(tmp_path))
    t = cat.create_table("db.pin", PEDIDOS_SCHEMA)
    t.insert(_typed_pedidos(spark).coalesce(1))
    assert len(t.meta["snapshots"][-1]["files"]) == 1
    group = f"icelite-pin-{os.getpid()}-{id(t)}"
    a = parquet_jobs(group + "-plain", lambda: t.read().collect())

    def mor_delete_then_read():
        t.delete_where("uf = 'SP'", mode="merge-on-read")
        assert t.read().filter("uf = 'SP'").count() == 0

    b = parquet_jobs(group + "-mor", mor_delete_then_read)
    assert len(t.meta["snapshots"][-1]["delete_files"]) == 1
    assert b <= 2 * a + 1, (a, b)


def test_cow_after_mor_applies_pending_deletes(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.mixed")
    expect = _rows(t.read().filter("uf NOT IN ('SP','RJ')"))
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    t.delete_where("uf = 'RJ'")  # CoW on a table with pending deletes
    assert _rows(t.read()) == expect
    # the rewrite applied the SP delete, so no stale targets survive
    for d in t.meta["snapshots"][-1]["delete_files"]:
        live = {f["path"] for f in t.meta["snapshots"][-1]["files"]}
        assert set(d["targets"]) <= live


def test_rewrite_data_files_compacts_deletes_away(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.compact")
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    expect = _rows(t.read())
    t.rewrite_data_files(target_files=1)
    snap = t.meta["snapshots"][-1]
    assert snap["operation"] == "replace"
    assert snap["delete_files"] == []
    assert len(snap["files"]) == 1
    assert _rows(t.read()) == expect


def test_append_after_mor_delete_unaffected(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.appended")
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    n = t.read().count()
    extra = _typed_pedidos(spark).filter("uf = 'SP'")
    n_extra = extra.count()
    t.insert(extra)  # new SP rows in NEW files: older delete files
    assert t.read().filter("uf = 'SP'").count() == n_extra
    assert t.read().count() == n + n_extra


def test_maintenance_collects_dead_delete_files(spark, tmp_path):
    t = _fresh(spark, tmp_path, "db.gc")
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    del_rel = t.meta["snapshots"][-1]["delete_files"][0]["path"]
    assert os.path.isdir(os.path.join(t.tdir, del_rel))
    # compaction drops the reference; expire removes the snapshot that
    # held it; the file dies with it
    t.rewrite_data_files(target_files=1)
    t.expire_snapshots(retain_last=1)
    assert not os.path.exists(os.path.join(t.tdir, del_rel))


def test_stale_commit_marker_is_reclaimed(spark, tmp_path, monkeypatch):
    """A process that dies between marker creation and the metadata swap
    must not wedge the table: an old marker whose snapshot was never
    published is reclaimed by the next committer."""
    t = _fresh(spark, tmp_path, "db.marker")
    sid = max(s["id"] for s in t.meta["snapshots"]) + 1
    markers = os.path.join(t.tdir, ".commits")
    os.makedirs(markers, exist_ok=True)
    stale = os.path.join(markers, f"commit-{sid}")
    open(stale, "w").close()
    old = (os.path.getmtime(stale) - 10_000)
    os.utime(stale, (old, old))
    t.delete_where("uf = 'SP'")  # would raise CommitConflict pre-fix
    assert t.meta["current_snapshot"] == sid


def test_fresh_commit_marker_still_conflicts(spark, tmp_path):
    from data_eng_iceberg_demo_spark.tables.icelite import CommitConflict
    t = _fresh(spark, tmp_path, "db.marker2")
    sid = max(s["id"] for s in t.meta["snapshots"]) + 1
    markers = os.path.join(t.tdir, ".commits")
    os.makedirs(markers, exist_ok=True)
    open(os.path.join(markers, f"commit-{sid}"), "w").close()  # young
    with pytest.raises(CommitConflict):
        t.delete_where("uf = 'SP'")


def test_partial_rewrite_where_range(spark, tmp_path):
    """Filtered compaction (rewrite_data_files(where_range=...)): only
    files whose footer stats intersect the range are rewritten; kept
    files carry over byte-identical; pending MoR deletes are folded into
    the rewritten rows while delete files targeting kept files survive
    and still apply; rows equal the plain delete result throughout."""
    import pyspark.sql.functions as F

    cat = IceliteCatalog(spark, str(tmp_path))
    t = cat.create_table("db.pedidos_pr", PEDIDOS_SCHEMA)
    src = _typed_pedidos(spark)
    # 4 files with disjoint id_cliente ranges so footer stats partition
    # the key space cleanly
    qs = src.approxQuantile("id_cliente", [0.25, 0.5, 0.75], 0.0)
    bounds = [None] + [int(q) for q in qs] + [None]
    for lo, hi in zip(bounds, bounds[1:]):
        part = src
        if lo is not None:
            part = part.filter(F.col("id_cliente") > lo)
        if hi is not None:
            part = part.filter(F.col("id_cliente") <= hi)
        t.insert(part.coalesce(1))
    n_files = t.file_count()
    assert n_files >= 4
    # MoR deletes landing in both the selected and the kept range
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    expect = _rows(t.read().select("id_pedido", "uf", "id_cliente"))
    lo_sel, hi_sel = int(qs[1]) + 1, 10**18  # upper half of the key space
    before_paths = set(f["path"] for f in
                       t._snapshot(t.meta, None)["files"])
    t.rewrite_data_files(target_files=1,
                         where_range=("id_cliente", lo_sel, hi_sel))
    after = t._snapshot(t.meta, None)
    after_paths = set(f["path"] for f in after["files"])
    # some files carried over untouched, at least one was rewritten
    assert after_paths & before_paths, "kept files must carry over"
    assert after_paths - before_paths, "rewritten output must be new"
    assert len(after_paths) < n_files
    # kept-side delete files survive; rows identical to pre-compaction
    assert _rows(t.read().select("id_pedido", "uf", "id_cliente")) == expect
    assert t.read().filter("uf = 'SP'").count() == 0
    # full rewrite afterwards folds the remaining delete files away
    t.rewrite_data_files(target_files=2)
    assert not t._snapshot(t.meta, None).get("delete_files")
    assert _rows(t.read().select("id_pedido", "uf", "id_cliente")) == expect


def test_merge_full_sync_mor_equals_cow_and_rewrites_nothing(spark, tmp_path):
    """MERGE with all three arms (matched UPDATE / not-matched INSERT /
    not-matched-by-source DELETE) must produce identical rows under
    copy-on-write and merge-on-read — and the MoR run must leave every
    pre-existing data file in place, masking via ONE delete file."""
    import pyspark.sql.functions as F

    cow = _fresh(spark, tmp_path, "db.m_cow")
    mor = _fresh(spark, tmp_path, "db.m_mor")
    base = _typed_pedidos(spark)
    src = (base.filter(F.col("uf") == "SP")
           .withColumn("quantidade", (F.col("quantidade") + 100).cast("int"))
           .unionByName(base.filter(F.col("uf") == "RJ")
                        .withColumn("id_pedido",
                                    F.concat(F.lit("NEW-"),
                                             F.col("id_pedido")))))
    before_files = _data_paths(mor)
    cow.merge_into(src, "id_pedido", ["quantidade"],
                   not_matched_by_source="delete")
    mor.merge_into(src, "id_pedido", ["quantidade"],
                   not_matched_by_source="delete", mode="merge-on-read")
    assert _rows(cow.read()) == _rows(mor.read())
    # the delete arm really fired: only SP (updated) + NEW- rows remain
    assert cow.read().filter("uf NOT IN ('SP','RJ')").count() == 0
    assert cow.read().filter(
        "uf = 'RJ' AND id_pedido NOT LIKE 'NEW-%'").count() == 0
    # MoR preserved every original data file and added a delete file
    mor_snap = mor.meta["snapshots"][-1]
    assert set(before_files) <= {f["path"] for f in mor_snap["files"]}
    assert len(mor_snap["delete_files"]) == 1


def test_merge_keep_arm_unchanged_by_default(spark, tmp_path):
    """not_matched_by_source defaults to 'keep' — the classic upsert:
    target-only rows carry over in both modes."""
    import pyspark.sql.functions as F

    cow = _fresh(spark, tmp_path, "db.k_cow")
    mor = _fresh(spark, tmp_path, "db.k_mor")
    src = (_typed_pedidos(spark).filter(F.col("uf") == "SP")
           .withColumn("quantidade", (F.col("quantidade") + 7).cast("int")))
    cow.merge_into(src, "id_pedido", ["quantidade"])
    mor.merge_into(src, "id_pedido", ["quantidade"], mode="merge-on-read")
    assert _rows(cow.read()) == _rows(mor.read())
    n_all = _typed_pedidos(spark).count()
    assert cow.read().count() == n_all  # nothing deleted


# --- NULL-edge MERGE semantics (r7 advice + r7 verdict task 6) --------
# The authoritative contract is ANSI/Spark MERGE: a NULL join key matches
# nothing (NULL-key source rows take the INSERT arm; NULL-key target rows
# take the not-matched-by-source arm), and WHEN MATCHED UPDATE SET c=s.c
# writes the source value VERBATIM — a NULL source value overwrites.
# Before r8 the CoW path disagreed with MoR on all three edges (coalesce
# un-updated NULL values; the delete-arm filter dropped NULL-key source
# rows that MoR inserted).

def _null_edge_tables(spark, tmp_path):
    """Two identical 3-row targets, one per merge mode, with one
    NULL-key target row."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    cat = IceliteCatalog(spark, str(tmp_path))
    schema = StructType([StructField("k", StringType()),
                         StructField("v", IntegerType()),
                         StructField("w", StringType())])
    rows = [("a", 1, "ta"), ("b", 2, "tb"), (None, 3, "tnull")]
    out = []
    for name in ("db.ncow", "db.nmor"):
        t = cat.create_table(name, schema)
        t.insert(spark.createDataFrame(rows, "k string, v int, w string"))
        out.append(t)
    return out


@pytest.mark.parametrize("arm", ["keep", "delete"])
def test_merge_null_edges_cow_equals_mor(spark, tmp_path, arm):
    """Source: updates 'a' with a NULL v (must overwrite), carries a
    NULL-key row (must insert in BOTH modes), omits 'b' and the NULL-key
    target row (kept or deleted per arm).  CoW and MoR must agree
    exactly, and match the contract row set."""
    cow, mor = _null_edge_tables(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", None, "sa"), ("c", 9, "sc"), (None, 7, "snull")],
        "k string, v int, w string")
    for t, mode in ((cow, "copy-on-write"), (mor, "merge-on-read")):
        t.merge_into(src, "k", ["v"], not_matched_by_source=arm, mode=mode)
    got_cow = sorted(repr(tuple(r)) for r in cow.read().collect())
    got_mor = sorted(repr(tuple(r)) for r in mor.read().collect())
    assert got_cow == got_mor
    expect = [("a", None, "ta"),        # matched: v<-NULL verbatim, w kept
              ("c", 9, "sc"),           # not matched: inserted
              (None, 7, "snull")]       # NULL-key source: inserted
    if arm == "keep":
        expect += [("b", 2, "tb"), (None, 3, "tnull")]
    assert got_cow == sorted(map(repr, expect)), (got_cow, expect)


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_rejects_duplicate_matched_source_keys(spark, tmp_path, mode):
    """ANSI MERGE cardinality (r8 review): a source with two rows for a
    key that MATCHES a target row must raise, in both modes — the
    full-outer formulation would otherwise silently duplicate the
    target row.  Duplicate UNMATCHED source keys are legal: they take
    the insert arm twice."""
    cow, _ = _null_edge_tables(spark, tmp_path)
    bad = spark.createDataFrame(
        [("a", 1, "s1"), ("a", 2, "s2")], "k string, v int, w string")
    with pytest.raises(ValueError, match="multiple rows for matched key"):
        cow.merge_into(bad, "k", ["v"], mode=mode)
    ok = spark.createDataFrame(  # 'z' matches nothing: inserts twice
        [("z", 1, "s1"), ("z", 2, "s2")], "k string, v int, w string")
    cow.merge_into(ok, "k", ["v"], mode=mode)
    assert cow.read().filter("k = 'z'").count() == 2


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_cardinality_check_escape_hatch(spark, tmp_path, mode):
    """``check_cardinality=False`` (r9 advice) skips the pre-merge dup
    scan for bulk callers with provably unique source keys; the merge
    result is identical to the checked path."""
    cow, _ = _null_edge_tables(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", 5, "sa"), ("c", 9, "sc")], "k string, v int, w string")
    cow.merge_into(src, "k", ["v"], mode=mode, check_cardinality=False)
    got = {(r["k"], r["v"]) for r in cow.read().collect()}
    assert ("a", 5) in got and ("c", 9) in got


def test_metadata_count_tracks_inserts_deletes_and_updates(spark, tmp_path):
    """COUNT(*) from manifests alone (r10): data-file footer totals
    minus position-delete row counts, correct across append, MoR
    delete (row count shrinks), and MoR update (delete file + rewrite
    appends — net row count unchanged).  Always cross-checked against
    the actual scan."""
    t = _fresh(spark, tmp_path, "db.mc")
    n = t.read().count()
    assert t.metadata_count() == n
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    n2 = t.read().count()
    assert n2 < n and t.metadata_count() == n2
    t.update_where("uf = 'RJ'", {"quantidade": "quantidade + 1"},
                   mode="merge-on-read")
    assert t.metadata_count() == n2 == t.read().count()
    # time-travel: the metadata count is per-snapshot
    assert t.metadata_count(version=1) == n


def test_metadata_count_invalidates_on_pruned_delete_entries(
        spark, tmp_path):
    """A delete entry whose target list shrank during a PARTIAL rewrite
    must drop its stored row count — subtracting it would remove rows
    that no longer exist — so metadata_count reports None (fall back to
    a scan) while reads stay correct.  Exercised through the real
    filtered-compaction path, not by hand-editing metadata."""
    from data_eng_iceberg_demo_spark.tables.icelite import IceliteCatalog
    from data_eng_iceberg_demo_spark.tables.queries import _typed_pedidos

    cat = IceliteCatalog(spark, str(tmp_path))
    t = cat.create_table("db.mcprune", PEDIDOS_SCHEMA)
    df = _typed_pedidos(spark)
    # two range-disjoint files so where_range can rewrite exactly one
    t.insert(df.filter("id_cliente < 500"))
    t.insert(df.filter("id_cliente >= 500"))
    t.delete_where("uf = 'SP'", mode="merge-on-read")
    d = t.meta["snapshots"][-1]["delete_files"][0]
    assert d.get("record_count", 0) > 0
    assert len(d["targets"]) >= 2, d["targets"]
    n_live = t.read().count()
    assert t.metadata_count() == n_live

    # unit seam first: same targets keep the count, a strict subset
    # drops it
    same = t._prune_delete_entry(d, list(d["targets"]))
    assert same.get("record_count") == d["record_count"]
    assert "record_count" not in t._prune_delete_entry(
        d, d["targets"][:1])

    # real path: compact only the low half; the delete entry survives
    # pruned to the kept file, its count invalidated
    t.rewrite_data_files(where_range=("id_cliente", 0, 499))
    snap = t.meta["snapshots"][-1]
    dels = snap["delete_files"]
    assert dels, "delete entry for the kept file must survive"
    assert all("record_count" not in e for e in dels), dels
    assert t.metadata_count() is None
    assert t.read().count() == n_live


def test_metadata_count_survives_duplicate_matched_merge_keys(
        spark, tmp_path):
    """Duplicate MATCHED source keys (reachable via the
    check_cardinality=False escape hatch) fan one target row out to
    several joined rows in the MoR merge; the masked (file, pos)
    projection is distinct()-ed before the delete file is written so
    its record_count stays exact and the metadata-only COUNT(*) agrees
    with the scan (r10 review finding)."""
    import pyspark.sql.functions as F

    t = _fresh(spark, tmp_path, "db.dupmerge")
    n = t.read().count()
    one = t.read().limit(1).collect()[0]
    src = spark.createDataFrame(
        [one, one], schema=t.read().schema).withColumn(
        "quantidade", F.lit(7).cast("int"))
    t.merge_into(src, key="id_pedido", update_cols=["quantidade"],
                 mode="merge-on-read", check_cardinality=False)
    assert t.read().count() == t.metadata_count() == n + 1
    # the one masked row is recorded once, not once per source dup
    d = t.meta["snapshots"][-1]["delete_files"][0]
    assert d["record_count"] == 1, d
