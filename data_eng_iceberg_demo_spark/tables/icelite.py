"""icelite — a PySpark-native snapshot/metadata table layer over Parquet.

Delivers the reference's Iceberg-table semantics (README.md:159-328)
without the Iceberg connector (uninstallable offline, SURVEY.md §0):

  * typed CREATE TABLE (README.md:167-177)         -> create_table()
  * INSERT INTO ... SELECT (README.md:199-208)     -> insert()
  * row-level DELETE WHERE (README.md:231)         -> delete_where()
      copy-on-write (default) or merge-on-read: the reference creates
      the table with format-version=2 precisely for delete-file support
      (README.md:177,180), so mode="merge-on-read" writes a position
      delete file (file_path, pos — the Iceberg v2 delete-file shape)
      instead of rewriting data files; reads apply it as an anti-join
  * row-level UPDATE SET WHERE (README.md:180,325) -> update_where()
      same two modes: copy-on-write rewrites touched files; merge-on-read
      masks old versions with a position delete file and appends the
      updated rows in the same atomic snapshot
  * snapshot history table (README.md:245-248)     -> history()
  * time travel VERSION AS OF (README.md:255-258)  -> read(version=snapshot_id)
  * ADD COLUMN, old rows NULL (README.md:269-276)  -> add_column()
  * metadata-only RENAME COLUMN (README.md:282-292)-> rename_column()
  * hidden partitioning days(ts) (README.md:304-307)-> set_partition_days() +
      predicate-to-partition pruning in scan()
  * expire_snapshots (README.md:319-322)           -> expire_snapshots()
  * rewrite_data_files compaction (README.md:328)  -> rewrite_data_files()

Design (SURVEY.md §7.3): semantics-equivalent, NOT format-compatible — we
do not write Iceberg's spec files.  All metadata is one JSON document per
table; all data movement goes through Spark DataFrames.  Schema evolution
is rename-safe via field ids: every data file records the schema version
it was written under; reads remap that version's names to current names
(renames never rewrite files — the one place Parquet name-based resolution
is insufficient, SURVEY.md §7.4).

Change paths: every row change, delete file, snapshot and pointer
write goes through one primitive each.  _publish alone rewrites the
pointer file after create_table, and alone applies the conflict rule:
the pointer's metadata_version must still be the base's.
_commit_snapshot alone appends a snapshot, on main or on a branch.
_carry_over returns the files and pruned delete entries that survive a
file rewrite.  _write_position_deletes masks matched (file, pos) rows
with one delete file.  _read_deletes reads delete files with their
fixed (file_path, pos) schema, so no read infers it.  delete_where and
update_where share one body per mode (_row_change).

Scale notes: metadata is O(snapshots + files) JSON — at warehouse scale
this would shard into manifest files, but the commit protocol (write files,
then atomically swap the metadata pointer) is the same one Iceberg uses.
Copy-on-write delete rewrites only files containing matching rows (file
skipping by predicate evaluation), keeping write amplification bounded;
merge-on-read delete writes O(matched rows) of (file, pos) pairs and
defers the subtraction to read time — small frequent deletes on large
files stop paying a full file rewrite each (the v2 raison d'être).
rewrite_data_files applies pending deletes and emits a clean file set,
so read-amplification is reclaimable exactly as in Iceberg.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_META = "metadata.json"
_MANIFEST_DIR = "manifests"
_LAZY_KEYS = ("files", "delete_files")
# every icelite position-delete file has exactly this schema
_DELETE_SCHEMA = "file_path string, pos bigint"


class CommitConflict(RuntimeError):
    """Another writer published between this operation's base read and
    its publish (the pointer's metadata_version moved, or a concurrent
    publish holds the commit marker) — any change counts, a manifest
    re-encoding included.  Re-read the table and re-apply."""


class StaleSnapshotError(RuntimeError):
    """A snapshot handle outlived its manifests: the lazy file-list was
    first accessed AFTER a maintenance op (``expire_snapshots`` /
    ``_gc_manifests`` — possibly via another handle or process) deleted
    the manifest chain it needs.  The eager pre-r13 decoder was immune
    because it materialized every list at load time; the lazy decoder
    trades that for O(snapshots) loads and surfaces the race here
    instead of a bare ``FileNotFoundError``.  Recovery: reload
    ``table.meta`` (or re-open the table) for a fresh, consistent view.
    A stale handle can never publish its view back: every maintenance
    op bumps the pointer's metadata_version, so a publish from the
    older base raises CommitConflict."""


def _footer_stats(path: str, name_to_id: dict[str, int]) -> dict:
    """Per-column min/max from the parquet FOOTER (no data read) — the
    manifest-level stats Iceberg keeps, keyed by FIELD ID so they stay
    valid across renames.  Values are stored as strings (JSON-safe,
    lexicographic compare is only used for same-typed bounds)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    return _stats_from_metadata(md, name_to_id)


def _stats_from_metadata(md, name_to_id: dict[str, int]) -> dict:
    """Stats extraction over an already-read parquet FileMetaData."""
    import datetime

    def norm(v):
        if isinstance(v, (int, float, str, bool)):
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat(sep=" ")  # ISO order == time order
        return None

    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        meta_rg = md.row_group(rg)
        for ci in range(meta_rg.num_columns):
            col = meta_rg.column(ci)
            name = col.path_in_schema
            try:  # some physical types (e.g. decimal) have no accessor
                st = col.statistics
                if st is None or not st.has_min_max or name not in name_to_id:
                    continue
                mn, mx = norm(st.min), norm(st.max)
            except Exception:
                continue
            if mn is None or mx is None:
                continue
            fid = str(name_to_id[name])
            if fid in stats:
                stats[fid] = [min(stats[fid][0], mn), max(stats[fid][1], mx)]
            else:
                stats[fid] = [mn, mx]
    return stats


def _footer_entry(path: str, name_to_id: dict[str, int]) -> dict:
    """One footer open → both manifest facts (min/max stats keyed by
    field id + record_count).  _write_files calls this once per written
    file; partitioned writes produce one file per partition value, so
    keeping this a single open halves the driver-side footer pass."""
    try:
        # import inside the guard: without pyarrow this degrades to a
        # stats-less entry (metadata_count falls back to a scan), which
        # is the deferral add_files documents — a bare import here made
        # that branch unreachable (r11 review)
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
    except Exception:
        return {"record_count": None, "stats": {}}
    return {"record_count": md.num_rows,
            "stats": _stats_from_metadata(md, name_to_id)}


class IceliteCatalog:
    """Filesystem-rooted catalog: namespace dirs holding icelite tables
    (the reference's CREATE SCHEMA analog, README.md:159)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def create_namespace(self, ns: str) -> None:
        os.makedirs(os.path.join(self.base_dir, ns), exist_ok=True)

    def create_table(self, name: str, schema: StructType,
                     properties: dict | None = None) -> "IceliteTable":
        """CREATE TABLE with a typed schema (README.md:167-177)."""
        tdir = os.path.join(self.base_dir, *name.split("."))
        if os.path.exists(os.path.join(tdir, _META)):
            raise ValueError(f"table exists: {name}")
        os.makedirs(os.path.join(tdir, "data"), exist_ok=True)
        fields = [{"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
                  for i, f in enumerate(schema.fields)]
        meta = {
            "table": name,
            "properties": properties or {"format-version": "2"},
            "schema_versions": [{"version": 0, "fields": fields}],
            "current_schema": 0,
            "next_field_id": len(fields) + 1,
            "partition_spec": None,
            "snapshots": [],
            "current_snapshot": None,
        }
        _write_meta(tdir, meta)
        return IceliteTable(self.spark, tdir)

    def load_table(self, name: str) -> "IceliteTable":
        return IceliteTable(self.spark, os.path.join(self.base_dir, *name.split(".")))


def _diff_entries(base: list[dict], cur: list[dict]) -> tuple[list, list]:
    """(added entries, removed paths) taking `base` file entries to
    `cur`.  An entry whose CONTENT changed under the same path (a
    delete entry pruned to fewer targets by a partial rewrite, its
    record_count invalidated) is encoded as removed + re-added — a
    path-only diff would silently resurrect the stale base entry on
    the next metadata decode (r10: metadata_count subtracted positions
    of files that had already left the snapshot)."""
    base_by_path = {f["path"]: f for f in base}
    cur_by_path = {f["path"]: f for f in cur}
    added = [f for f in cur if base_by_path.get(f["path"]) != f]
    removed = [p for p, f in base_by_path.items()
               if cur_by_path.get(p) != f]
    return added, removed


# Longest manifest delta chain a commit may extend before _write_meta
# rolls the new snapshot up into a full manifest (Iceberg's
# commit.manifest.min-count-to-merge analog): bounds a fresh reader's
# chain walk regardless of retention length.
_MAX_CHAIN_DEPTH = 32


def _write_meta(tdir: str, meta: dict) -> None:
    """Atomic metadata swap with Iceberg-style manifest separation.

    The pointer file (metadata.json) holds only O(snapshots) headers —
    schema versions, refs, partition spec, and per-snapshot
    {id, parent, ts, operation, manifest} — never file lists.  Each
    snapshot's file set lives in an IMMUTABLE manifest under manifests/:
    either a delta against its parent ({added, removed} — O(changed
    files), the common case for appends and row-level ops) or a full
    list when there is no usable base or the delta would be larger
    (compaction, overwrite).  So the bytes written per commit are
    O(files touched by the commit), not O(all files x all snapshots) —
    the property that keeps a million-file table's commit cost flat.
    Manifests are content-complete before the pointer swap publishes
    them; a crash in between leaves an unreferenced manifest that
    remove_orphan_files collects.

    In-memory, snapshots keep PRESENTING full `files`/`delete_files`
    lists (every operator reads those), but since r13 the decoder hands
    them out lazily (_LazySnap) — so headers also carry the manifest
    base and entry counts, letting decode and history()-style consumers
    skip manifest bodies entirely.  This function is the only place
    that encodes, the `meta` property the only place that decodes."""
    mdir = os.path.join(tdir, _MANIFEST_DIR)
    snaps = sorted(meta.get("snapshots", []), key=lambda s: s["id"])
    by_id = {s["id"]: s for s in snaps}
    headers = []
    depth_by_id: dict[int, int] = {}  # delta-chain depth per snapshot
    for s in snaps:
        mf = s.get("_manifest")
        base_ok = s.get("_manifest_base") is None or \
            s.get("_manifest_base") in by_id
        if mf is None or not base_ok:
            parent = s.get("parent")
            base = by_id.get(parent) if parent is not None else None
            body = None
            # chain rollup (r13): a delta whose chain would exceed
            # _MAX_CHAIN_DEPTH is written FULL instead — Iceberg's
            # manifest-merge move.  Bounds a fresh reader's chain walk
            # at ~_MAX_CHAIN_DEPTH body reads for ANY retention length,
            # at an amortized O(files/_MAX_CHAIN_DEPTH) extra write per
            # commit; time travel is untouched (older snapshots keep
            # their manifests).
            chain_ok = depth_by_id.get(
                s.get("parent"), 0) + 1 <= _MAX_CHAIN_DEPTH
            if base is not None and chain_ok:
                added, removed = _diff_entries(base["files"], s["files"])
                d_added, d_removed = _diff_entries(
                    base.get("delete_files", []), s.get("delete_files", []))
                if (len(added) + len(removed) + len(d_added) + len(d_removed)
                        < len(s["files"]) + len(s.get("delete_files", []))):
                    body = {"base": parent, "added": added,
                            "removed": removed, "added_deletes": d_added,
                            "removed_deletes": d_removed}
            if body is None:
                body = {"base": None, "added": s["files"], "removed": [],
                        "added_deletes": s.get("delete_files", []),
                        "removed_deletes": []}
            os.makedirs(mdir, exist_ok=True)
            mf = f"manifest-{s['id']}-{uuid.uuid4().hex[:8]}.json"
            with open(os.path.join(mdir, mf), "w") as f:
                json.dump(body, f)
            s["_manifest"] = mf
            s["_manifest_base"] = body["base"]
        mb = s["_manifest_base"]
        depth_by_id[s["id"]] = 0 if mb is None \
            else depth_by_id.get(mb, 0) + 1
        # counts come from the already-known header when the lazy lists
        # were never materialized — len(s["files"]) here would force a
        # full chain replay per snapshot on every commit.  The probe is
        # dict.__contains__ (physical presence): _LazySnap.__contains__
        # answers True for the lazy keys without materializing (r14).
        phys = dict.__contains__
        nf = s["_n_files"] if ("_n_files" in s and not phys(s, "files")) \
            else len(s["files"])
        nd = s["_n_delete_files"] if ("_n_delete_files" in s
                                      and not phys(s, "delete_files")) \
            else len(s.get("delete_files", []))
        headers.append({"id": s["id"], "parent": s.get("parent"),
                        "ts": s["ts"], "operation": s["operation"],
                        "manifest": s["_manifest"],
                        "manifest_base": s["_manifest_base"],
                        "n_files": nf, "n_delete_files": nd})
    slim = {k: v for k, v in meta.items() if k != "snapshots"}
    slim["snapshots"] = headers
    tmp = os.path.join(tdir, f".{_META}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(slim, f, indent=1)
    os.replace(tmp, os.path.join(tdir, _META))


class _LazySnap(dict):
    """Snapshot dict whose `files`/`delete_files` lists materialize on
    first access by replaying the manifest delta chain (r13).  Decoding
    a pointer file is O(snapshots) — not O(snapshots x files), which at
    10k retained snapshots over a 100k-file table made EVERY metadata
    load (and thus every commit) replay ~10^9 list entries on the
    driver.  Operators keep the flat {files, delete_files} contract;
    only consumers that genuinely touch a snapshot's file set pay its
    chain replay.  A list first read after a maintenance op deleted
    its manifests raises StaleSnapshotError; the version check in
    _publish keeps such a stale view from ever being published."""

    def __init__(self, header: dict, tbl: "IceliteTable",
                 chain: dict, inline: dict):
        super().__init__(header)
        self._tbl, self._chain, self._inline = tbl, chain, inline

    def _materialize(self) -> None:
        files, dels = self._tbl._resolve_chain(
            self._chain, self._inline, self["id"])
        dict.setdefault(self, "files", files)
        dict.setdefault(self, "delete_files", dels)

    def __missing__(self, key):
        if key in _LAZY_KEYS:
            self._materialize()
            return dict.__getitem__(self, key)
        raise KeyError(key)

    def get(self, key, default=None):
        # dict.get never consults __missing__, so the lazy keys need it
        if key in _LAZY_KEYS and not dict.__contains__(self, key):
            self._materialize()
        return dict.get(self, key, default)

    # --- dict-protocol completeness (r14, advisor finding) ---------------
    # Any whole-dict view — iteration, keys()/items()/values(), len(),
    # dict(s), {**s}, copy(), pickling — materializes first, so a consumer
    # that treats snapshots as plain dicts can never silently miss the
    # lazy keys.  `'files' in s` answers True without materializing (the
    # key is always logically present; reading it pays the chain replay).
    # The ONE intentionally non-materializing physical probe is
    # `dict.__contains__(s, "files")`, which _write_meta uses to keep an
    # untouched snapshot's commit cost O(1).

    def _ensure(self) -> None:
        if not dict.__contains__(self, "files") or \
                not dict.__contains__(self, "delete_files"):
            self._materialize()

    def __contains__(self, key):
        return key in _LAZY_KEYS or dict.__contains__(self, key)

    def keys(self):
        self._ensure()
        return dict.keys(self)

    def items(self):
        self._ensure()
        return dict.items(self)

    def values(self):
        self._ensure()
        return dict.values(self)

    def __iter__(self):
        self._ensure()
        return dict.__iter__(self)

    def __len__(self):
        self._ensure()
        return dict.__len__(self)

    def copy(self):
        self._ensure()
        return dict(dict.items(self))

    __copy__ = copy

    def __reduce__(self):
        self._ensure()
        return (dict, (dict(dict.items(self)),))

    # mutation paths (r14 review): dict.setdefault checks PHYSICAL
    # presence, so on an unmaterialized snapshot s.setdefault("files",
    # []) would insert [] and permanently shadow the real manifest
    # chain; pop/del on a lazy key would raise KeyError while
    # `'files' in s` answers True.  Materialize first on all three.

    def setdefault(self, key, default=None):
        if key in _LAZY_KEYS:
            self._ensure()
        return dict.setdefault(self, key, default)

    def pop(self, key, *default):
        if key in _LAZY_KEYS:
            self._ensure()
        return dict.pop(self, key, *default)

    def __delitem__(self, key):
        if key in _LAZY_KEYS:
            self._ensure()
        dict.__delitem__(self, key)

    def popitem(self):
        self._ensure()
        return dict.popitem(self)


class IceliteTable:
    def __init__(self, spark: SparkSession, tdir: str):
        self.spark = spark
        self.tdir = tdir
        # manifests are immutable once written, so cache by filename —
        # each is read from disk at most once per table handle
        self._mcache: dict[str, dict] = {}
        # resolved (files, delete_files) per manifest, small LRU: makes
        # sequential all-snapshot scans (entries_df, expire) one delta
        # replay per level instead of a full chain walk per snapshot,
        # while single-snapshot reads keep O(files) memory
        from collections import OrderedDict
        self._rcache: "OrderedDict[str, tuple]" = OrderedDict()

    _RCACHE_CAP = 8

    def _resolve_chain(self, chain: dict, inline: dict,
                       sid: int) -> tuple[list, list]:
        """Materialize snapshot `sid`'s full (files, delete_files) by
        replaying its manifest delta chain root-forward, exactly the
        order the eager decoder used (per-level remove-then-add, so a
        path removed and later re-added — rollback — resolves
        correctly).  The upward walk stops early at an LRU-cached
        ancestor resolution or an inline legacy snapshot."""
        bodies: list[dict] = []
        files: list = []
        dels: list = []
        cur = sid
        while cur is not None:
            name = chain.get(cur)
            if name is None:            # legacy inline snapshot body
                f0, d0 = inline[cur]
                files, dels = list(f0), list(d0)
                break
            hit = self._rcache.get(name)
            if hit is not None:
                self._rcache.move_to_end(name)
                files, dels = list(hit[0]), list(hit[1])
                break
            body = self._manifest(name)
            bodies.append(body)
            cur = body["base"]
        for body in reversed(bodies):
            if body["removed"]:
                rm = set(body["removed"])
                files = [f for f in files if f["path"] not in rm]
            files = files + list(body["added"])
            if body["removed_deletes"]:
                rmd = set(body["removed_deletes"])
                dels = [d for d in dels if d["path"] not in rmd]
            dels = dels + list(body["added_deletes"])
        name = chain.get(sid)
        if name is not None:
            self._rcache[name] = (files, dels)
            while len(self._rcache) > self._RCACHE_CAP:
                self._rcache.popitem(last=False)
        # hand out copies: callers may extend/filter their lists, the
        # cache must keep the resolved truth
        return list(files), list(dels)

    # ------------------------------------------------------------ metadata
    def _manifest(self, name: str) -> dict:
        body = self._mcache.get(name)
        if body is None:
            try:
                with open(os.path.join(self.tdir,
                                       _MANIFEST_DIR, name)) as f:
                    body = json.load(f)
            except FileNotFoundError as e:
                raise StaleSnapshotError(
                    f"manifest {name!r} is gone: this snapshot handle was "
                    "decoded before a maintenance operation "
                    "(expire_snapshots / manifest GC) collected its chain; "
                    "reload table.meta for a fresh view") from e
            self._mcache[name] = body
        return body

    @property
    def meta(self) -> dict:
        """Load the pointer file: O(snapshots) header decode, ZERO
        manifest bodies opened (r13 — the eager decoder materialized
        every snapshot's full file list here, making each metadata load
        O(snapshots x files); a 10k-snapshot 100k-file table paid ~10^9
        driver-side list entries per commit).  Snapshots come back as
        _LazySnap dicts that replay their manifest delta chain only
        when `files`/`delete_files` is actually read.  Operators keep
        seeing the flat {files, delete_files} shape; only this decoder
        and _write_meta know the on-disk manifest encoding."""
        with open(os.path.join(self.tdir, _META)) as f:
            meta = json.load(f)
        chain: dict[int, str] = {}
        inline: dict[int, tuple] = {}
        out = []
        for h in sorted(meta.get("snapshots", []), key=lambda s: s["id"]):
            if "files" in h:           # legacy inline encoding
                s = dict(h)
                s.setdefault("delete_files", [])
                inline[s["id"]] = (s["files"], s["delete_files"])
                out.append(s)
                continue
            chain[h["id"]] = h["manifest"]
            hdr = {"id": h["id"], "parent": h.get("parent"), "ts": h["ts"],
                   "operation": h["operation"], "_manifest": h["manifest"]}
            if "manifest_base" in h:
                hdr["_manifest_base"] = h["manifest_base"]
            else:
                # pre-r13 pointer file: one body read fills the gap
                # (cached per handle)
                hdr["_manifest_base"] = self._manifest(h["manifest"])["base"]
            if "n_files" in h:
                hdr["_n_files"] = h["n_files"]
                hdr["_n_delete_files"] = h.get("n_delete_files", 0)
            out.append(_LazySnap(hdr, self, chain, inline))
        meta["snapshots"] = out
        return meta

    def _schema_fields(self, meta: dict, version: int) -> list[dict]:
        for sv in meta["schema_versions"]:
            if sv["version"] == version:
                return sv["fields"]
        raise ValueError(f"no schema version {version}")

    def current_columns(self, meta: dict | None = None) -> list[str]:
        meta = meta or self.meta
        return [f["name"] for f in self._schema_fields(meta, meta["current_schema"])]

    def _snapshot(self, meta: dict, snapshot_id: int | None) -> dict:
        sid = snapshot_id if snapshot_id is not None else meta["current_snapshot"]
        for s in meta["snapshots"]:
            if s["id"] == sid:
                return s
        raise ValueError(f"no snapshot {sid} (expired or never existed)")

    def _head(self, meta: dict, branch: str | None = None) -> dict:
        """Head snapshot of main, or of `branch`; an empty file set when
        the head is unset (a fresh table or an empty branch)."""
        sid = (meta["current_snapshot"] if branch is None
               else meta["refs"][branch]["snapshot_id"])
        if sid is None:
            return {"files": [], "delete_files": []}
        return self._snapshot(meta, sid)

    # a publish holds its marker for one pointer write, so a marker older
    # than this is debris from a process that died mid-publish —
    # reclaimable (tests shrink this to exercise the path)
    STALE_MARKER_SECONDS = 300.0

    def _claim_marker(self, marker: str, sid: int) -> None:
        try:
            os.close(os.open(marker,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return
        except FileExistsError:
            pass
        # Another publish holds the marker (young -> genuine conflict) or
        # died before releasing it (stale -> reclaim, otherwise every
        # future same-base publish hits EEXIST forever — the hard-kill
        # wedge from the r3 advice).
        try:
            age = time.time() - os.path.getmtime(marker)
        except OSError:
            age = None  # vanished: its owner just released it
        if age is not None and age < self.STALE_MARKER_SECONDS:
            raise CommitConflict(
                f"snapshot {sid} already claimed by a concurrent writer")
        try:
            os.unlink(marker)
        except OSError:
            pass
        # one retry after the reclaim; a racing reclaimer losing here is
        # a genuine conflict
        try:
            os.close(os.open(marker,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {sid} re-claimed while reclaiming a stale "
                f"marker") from None

    def _publish(self, meta: dict, sid: int | None = None) -> None:
        """Swap the pointer file to `meta` — the only pointer write after
        create_table, so every operation shares Iceberg's commit rule:
        swap only if the base did not move.  It claims
        `.commits/commit-<sid>` (sid: the base's next snapshot id, by
        default one past the highest in `meta`), so same-base writers
        race for one O_CREAT|O_EXCL name; then checks the on-disk
        metadata_version (absent = 0) still equals `meta`'s, else
        CommitConflict; then writes `meta` with the version bumped, and
        always releases the marker.  Every publish bumps the version, so
        any change since the base read conflicts, a manifest re-encoding
        included.  Claiming before checking makes the release safe: a
        same-base writer claiming after the release sees the bump."""
        if sid is None:
            sid = max((s["id"] for s in meta["snapshots"]), default=0) + 1
        markers = os.path.join(self.tdir, ".commits")
        os.makedirs(markers, exist_ok=True)
        marker = os.path.join(markers, f"commit-{sid}")
        self._claim_marker(marker, sid)
        try:
            with open(os.path.join(self.tdir, _META)) as f:
                on_disk = json.load(f).get("metadata_version", 0)
            base = meta.get("metadata_version", 0)
            if on_disk != base:
                raise CommitConflict(
                    f"table metadata moved from version {base} to "
                    f"{on_disk} while this operation was in flight")
            meta["metadata_version"] = base + 1
            _write_meta(self.tdir, meta)
        finally:
            try:
                os.unlink(marker)
            except OSError:
                pass

    def _commit_snapshot(self, meta: dict, operation: str, files: list[dict],
                         delete_files: list[dict] | None = None,
                         branch: str | None = None) -> dict:
        """Publish a snapshot of `files` + `delete_files` as the new head
        of main, or of `branch` (main untouched) — the only code that
        appends to meta["snapshots"].  It publishes through _publish, so
        it raises CommitConflict if anything changed since `meta` was
        read; callers re-read and re-apply.  Data files already written
        are orphans, collected by remove_orphan_files; they never corrupt
        the table because only the pointer swap publishes them."""
        sid = max((s["id"] for s in meta["snapshots"]), default=0) + 1
        snap = {
            "id": sid,
            "parent": self._head(meta, branch).get("id"),
            "ts": time.time(),
            "operation": operation,
            "files": files,
            "delete_files": delete_files or [],
        }
        meta["snapshots"].append(snap)
        if branch is None:
            meta["current_snapshot"] = sid
        else:
            meta["refs"][branch]["snapshot_id"] = sid
        self._publish(meta, sid)
        return snap

    # ------------------------------------------------------------ write path
    def _write_files(self, df: DataFrame, meta: dict) -> list[dict]:
        """Write df as new parquet files under data/, tagged with the
        current schema version (and partition dirs when a spec is set)."""
        batch = uuid.uuid4().hex[:12]
        out = os.path.join(self.tdir, "data", batch)
        spec = meta["partition_spec"]
        order = self._order_cols(meta)
        writer = df
        if spec is not None:
            writer = df.withColumn(spec["name"],
                                   self._partition_value_col(spec, meta))
            # cluster rows by partition value before the partitioned write:
            # one task owns each day → one file per partition instead of
            # (tasks × days) small files — the small-file guard at scale
            writer = writer.repartition(F.col(spec["name"]))
            if order:  # WRITE ORDERED BY within each partition file
                writer = writer.sortWithinPartitions(spec["name"], *order)
            writer.write.partitionBy(spec["name"]).mode("overwrite").parquet(out)
        else:
            if order:
                # WRITE ORDERED BY: range-cluster + in-file sort, so each
                # file's footer min/max covers a disjoint slice of the
                # order spine (plan_files_range prunes to ~1 file)
                wo = meta["write_order"]
                writer = (df.repartitionByRange(wo["target_files"], *order)
                          .sortWithinPartitions(*order))
            writer.write.mode("overwrite").parquet(out)
        name_to_id = {f["name"]: f["id"] for f in
                      self._schema_fields(meta, meta["current_schema"])}
        files = []
        for root, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    full = os.path.join(root, n)
                    rel = os.path.relpath(full, self.tdir)
                    part = None
                    if spec is not None:
                        for seg in os.path.relpath(root, out).split(os.sep):
                            if seg.startswith(spec["name"] + "="):
                                part = seg.split("=", 1)[1]
                    entry = {"path": rel,
                             "schema_version": meta["current_schema"],
                             "partition": part,
                             "spec_key": self._spec_key(spec),
                             **_footer_entry(full, name_to_id)}
                    if order:  # field-id identity of the write order
                        entry["sort_order"] = ",".join(
                            map(str, meta["write_order"]["source_ids"]))
                    files.append(entry)
        return files

    @staticmethod
    def _spec_key(spec: dict | None) -> str | None:
        """Identity of a partition spec, recorded with every data file it
        writes.  Partition VALUES are only comparable within one spec: a
        bucket file's partition '3' must never be range-compared against
        a days bound like '2024-01-01' — after ADD PARTITION FIELD
        replaces the spec, files from older specs are unprunable by the
        new spec's bounds (Iceberg's per-file spec-id, minimally)."""
        if spec is None:
            return None
        return f"{spec['transform']}:{spec.get('source_id')}:{spec.get('param')}"

    def insert(self, df: DataFrame) -> None:
        """Append snapshot (INSERT INTO ... SELECT, README.md:199-208).
        Pending delete files carry over untouched — they reference
        (file, pos) pairs in pre-existing files only."""
        meta = self.meta
        cols = self.current_columns(meta)
        self._append(meta, self._write_files(df.select(*cols), meta))

    def _append(self, meta: dict, new_files: list[dict],
                branch: str | None = None) -> dict:
        """Commit an 'append' snapshot on main (or `branch`): the head's
        files and pending delete files carry over untouched, plus
        `new_files`."""
        head = self._head(meta, branch)
        return self._commit_snapshot(
            meta, "append", head["files"] + new_files,
            delete_files=head.get("delete_files", []), branch=branch)

    def add_files(self, paths: list[str]) -> int:
        """Iceberg's ``CALL system.add_files`` / in-place migrate analog:
        register EXISTING parquet files into the table by METADATA ONLY —
        zero bytes move or rewrite, which is the only viable way to adopt
        a 100 TB directory into a table format.  Files outside the
        table dir are recorded by absolute path; files already under it
        record tdir-relative (the form every provenance match uses),
        tagged with the
        current schema version, with footer stats harvested exactly like
        _write_files' own output — so metadata_count and stats-range
        pruning work on imported files too.  Each file must carry every
        current column by name (checked against its footer before the
        commit; a missing column would otherwise surface as a read-time
        AnalysisException long after the import)."""
        meta = self.meta
        fields = self._schema_fields(meta, meta["current_schema"])
        name_to_id = {f["name"]: f["id"] for f in fields}
        new = []
        root = os.path.abspath(self.tdir)
        for p in paths:
            full = os.path.abspath(p)
            # store the tdir-relative form for files already under the
            # table dir — entries must use the same form _rel_data_paths
            # produces, or the delete/update provenance match silently
            # misses them (the r12 imported-path no-op-DELETE class)
            rel = os.path.relpath(full, root)
            try:
                import pyarrow.parquet as pq

                have = set(pq.read_schema(full).names)
                missing = [f["name"] for f in fields if f["name"] not in have]
                if missing:
                    raise ValueError(
                        f"add_files: {full} lacks table columns {missing}")
            except ImportError:
                pass  # no pyarrow: defer to read-time resolution
            new.append({"path": full if rel.startswith("..") else rel,
                        "schema_version": meta["current_schema"],
                        "partition": None, "spec_key": None,
                        **_footer_entry(full, name_to_id)})
        self._append(meta, new)
        return len(new)

    def set_property(self, key: str, value: str) -> None:
        """ALTER TABLE ... SET TBLPROPERTIES — e.g. Iceberg's
        ``write.delete.mode`` = merge-on-read, which delete_where honors
        when no explicit mode is passed."""
        meta = self.meta
        meta.setdefault("properties", {})[key] = value
        self._publish(meta)

    def _touched_paths(self, files: list[dict], meta: dict,
                       dels: list[dict], predicate: str) -> set[str]:
        """Paths of the files holding a live row that matches
        `predicate` — ONE provenance scan over all files (not one Spark
        job per file: a 100k-file table pays one job, the classic
        copy-on-write planning scan)."""
        matches = (self._read_files(files, meta, delete_files=dels,
                                    keep_pos=True)
                   .filter(F.expr(predicate))
                   .select("__file").distinct())
        return set(self._rel_data_paths(
            [r["__file"] for r in matches.collect()]))

    @staticmethod
    def _carry_over(snap: dict, dropped: set[str]) -> tuple[list, list]:
        """(kept files, pruned delete entries) when the `dropped` paths
        leave `snap` in a rewrite.  Rewritten files had their pending
        deletes applied during the rewrite, so each delete entry keeps
        only targets that still exist, and an entry left with none
        goes."""
        kept = [f for f in snap["files"] if f["path"] not in dropped]
        kept_paths = {f["path"] for f in kept}
        kept_dels = []
        for d in snap.get("delete_files", []):
            targets = [t for t in d["targets"] if t in kept_paths]
            if targets:
                kept_dels.append(IceliteTable._prune_delete_entry(d, targets))
        return kept, kept_dels

    @staticmethod
    def _is_mor(mode: str, op: str) -> bool:
        if mode in ("merge-on-read", "mor"):
            return True
        if mode in ("copy-on-write", "cow"):
            return False
        raise ValueError(f"unknown {op} mode: {mode}")

    def delete_where(self, predicate: str,
                     mode: str | None = None) -> None:
        """Row-level DELETE (README.md:231) in either Iceberg v2 mode:

        * copy-on-write (default): files containing matching rows are
          rewritten without them; untouched files carry over unchanged.
          O(touched file bytes) per delete, zero read-time cost.
        * merge-on-read: ONE scan finds matching (file, pos) pairs and
          writes them as a position delete file — the v2 delete-file
          shape (README.md:177,180) — with zero data-file rewrites;
          reads subtract via an anti-join until rewrite_data_files
          compacts the deletes away.  O(matched rows) per delete.

        mode=None resolves the table property ``write.delete.mode``
        (Iceberg's own switch), defaulting to copy-on-write."""
        self._row_change("delete", predicate, None, mode)

    @staticmethod
    def _assigned(df: DataFrame, assignments: dict[str, str],
                  when: "F.Column | None" = None) -> DataFrame:
        """Apply UPDATE assignments in ONE select so every RHS sees the
        OLD row (SQL UPDATE simultaneity: SET a = b, b = a swaps).  New
        values cast back to the column's declared type, so the table
        schema never drifts."""
        types = {f.name: f.dataType for f in df.schema.fields}
        unknown = set(assignments) - set(types)
        if unknown:
            raise ValueError(f"no such column(s): {sorted(unknown)}")
        sel = []
        for c in df.columns:
            if c in assignments:
                new = F.expr(assignments[c]).cast(types[c])
                sel.append((new if when is None
                            else F.when(when, new).otherwise(F.col(c))).alias(c))
            else:
                sel.append(F.col(c))
        return df.select(*sel)

    def update_where(self, predicate: str, assignments: dict[str, str],
                     mode: str | None = None) -> None:
        """Row-level UPDATE ... SET ... WHERE (the second half of the v2
        "updates e deletes" capability the reference creates the table
        for, README.md:180; README.md:325 names UPDATE as a small-file
        source that compaction reclaims):

        * copy-on-write (default): files containing matching rows are
          rewritten with the assignments applied; untouched files carry
          over.  O(touched file bytes) per update.
        * merge-on-read: matched rows land in a position delete file
          (masking their old versions) AND re-enter as a newly appended
          data file with the assignments applied — one atomic snapshot,
          zero data-file rewrites, O(matched rows) write amplification.
          rewrite_data_files later folds the delete + append pair away.

        mode=None resolves the table property ``write.update.mode``
        (Iceberg's switch), defaulting to copy-on-write."""
        self._row_change("update", predicate, assignments, mode)

    def _row_change(self, op: str, predicate: str,
                    assignments: dict[str, str] | None,
                    mode: str | None) -> None:
        """The one body of DELETE (assignments=None) and UPDATE; the two
        differ only in the row transform.  A predicate that matches no
        row still commits a no-op snapshot.

        * copy-on-write: one provenance scan finds the touched files,
          which are rewritten with the transform applied; the rest carry
          over (_carry_over).
        * merge-on-read: one scan finds matching (file, pos) pairs via
          the parquet reader's `_metadata.row_index` (already-deleted
          rows are anti-joined out first, so delete files never
          double-count); they land in a position delete file, and an
          UPDATE appends the updated rows in the same commit."""
        meta = self.meta
        if mode is None:
            mode = (meta.get("properties") or {}).get(
                f"write.{op}.mode", "copy-on-write")
        mor = self._is_mor(mode, op)
        cur = self._snapshot(meta, None)
        dels = cur.get("delete_files", [])
        if mor:
            matches = (self._read_files(cur["files"], meta,
                                        delete_files=dels, keep_pos=True)
                       .filter(F.expr(predicate)))
            entry = self._write_position_deletes(matches)
            new_files = []
            if entry is not None and assignments is not None:
                # matched rows are already filtered, so assignments apply
                # unconditionally; re-evaluating `matches` is safe because
                # the scan is a deterministic parquet read of an immutable
                # snapshot
                cols = self.current_columns(meta)
                new_files = self._write_files(
                    self._assigned(matches.select(*cols), assignments), meta)
            self._commit_snapshot(meta, op, cur["files"] + new_files,
                                  delete_files=dels + ([entry] if entry
                                                       else []))
            return
        touched = self._touched_paths(cur["files"], meta, dels, predicate)
        if not touched:
            self._commit_snapshot(meta, op, cur["files"], delete_files=dels)
            return
        kept, kept_dels = self._carry_over(cur, touched)
        rows = self._read_files([f for f in cur["files"]
                                 if f["path"] in touched],
                                meta, delete_files=dels)
        if assignments is None:
            rows = rows.filter(~F.expr(predicate))
        else:
            rows = self._assigned(rows, assignments, when=F.expr(predicate))
        self._commit_snapshot(meta, op, kept + self._write_files(rows, meta),
                              delete_files=kept_dels)

    def _write_position_deletes(self, matches: DataFrame) -> dict | None:
        """Write the (__file, __pos) rows of `matches` as ONE position
        delete file — delete sets are small relative to data (bounded
        by the matched rows), and one file keeps the read-side join
        input compact.  Returns its manifest entry, or None (and no
        file) when no row matched."""
        out_rel = os.path.join("deletes", uuid.uuid4().hex[:12])
        out = os.path.join(self.tdir, out_rel)
        (matches.select(F.col("__file").alias("file_path"),
                        F.col("__pos").alias("pos"))
         .coalesce(1).write.mode("overwrite").parquet(out))
        targets = self._rel_data_paths(
            [r["file_path"] for r in self._read_deletes([out_rel])
             .select("file_path").distinct().collect()])
        if not targets:
            shutil.rmtree(out, ignore_errors=True)
            return None
        return self._delete_entry(out_rel, out, targets)

    def _read_deletes(self, paths: list[str]) -> DataFrame:
        """Read icelite position-delete files (table-relative paths)
        with their fixed schema: no footer-inference job."""
        return self.spark.read.schema(_DELETE_SCHEMA).parquet(
            *[os.path.join(self.tdir, p) for p in paths])

    def _delete_entry(self, out_rel: str, out: str,
                      targets: list[str]) -> dict:
        """Manifest entry for a position-delete file, carrying the
        file's footer row count so COUNT(*) stays answerable from
        metadata alone (metadata_count).  Safe to subtract because
        icelite delete positions are exact and never duplicated: the
        matching scan runs WITH existing delete files applied, so an
        already-masked row can never re-enter a later delete file."""
        import glob

        n: int | None = 0
        try:
            import pyarrow.parquet as pq

            for p in sorted(glob.glob(os.path.join(out, "*.parquet"))):
                n += pq.read_metadata(p).num_rows
        except Exception:
            n = None
        entry = {"path": out_rel, "targets": sorted(targets)}
        if n is not None:
            entry["record_count"] = n
        return entry

    @staticmethod
    def _prune_delete_entry(d: dict, targets: list[str]) -> dict:
        """A delete entry whose target list shrank (compaction / CoW
        rewrite dropped some of its files) keeps masking the surviving
        targets, but its stored row count now OVERCOUNTS (some
        positions belonged to removed files) — drop it so
        metadata_count falls back to a scan instead of lying."""
        out = {**d, "targets": targets}
        if targets != d["targets"]:
            out.pop("record_count", None)
        return out

    def metadata_count(self, version: int | None = None) -> int | None:
        """COUNT(*) answered from manifest entries alone — the Iceberg
        metadata-only count pushdown (no data file is opened): sum of
        data-file footer record_counts minus position-delete-file row
        counts.  Returns None when any entry lacks a count (a delete
        file whose target list was pruned, or a pre-upgrade manifest) —
        callers fall back to a data scan.  At 100 TB this turns the
        most common audit query into an O(#files) driver-side walk."""
        snap = self._snapshot(self.meta, version)
        total = 0
        for f in snap["files"]:
            rc = f.get("record_count")
            if rc is None:
                return None
            total += rc
        for dfe in snap.get("delete_files", []):
            rc = dfe.get("record_count")
            if rc is None:
                return None
            total -= rc
        return total

    def _rel_data_paths(self, uris: list[str]) -> list[str]:
        """Normalize `_metadata.file_path` URIs to the form snapshot
        file lists use: tdir-relative for files under the table dir,
        ABSOLUTE for files registered in place by add_files /
        register_iceberg_table (relativizing those produced ../..
        paths that matched no entry — which made DELETE on an imported
        table a silent no-op, caught by the r12 adoption pytest)."""
        root = os.path.abspath(self.tdir)
        rels = []
        for u in uris:
            p = u[5:] if u.startswith("file:") else u
            while p.startswith("//"):
                p = p[1:]
            rel = os.path.relpath(p, root)
            rels.append(p if rel.startswith("..") else rel)
        return rels

    # ------------------------------------------------------------ read path
    def _apply_deletes(self, df: DataFrame, del_paths: list[str]) -> DataFrame:
        """Subtract position-delete rows: anti-join on (file URI, row
        index).  The delete side is O(deleted rows) — tiny next to data —
        so Spark broadcasts it at runtime; no hint (policy: the delete
        set grows with delete volume, not boundedly)."""
        dels = self._read_deletes(del_paths)
        cond = (df["__file"] == dels["file_path"]) & (df["__pos"] == dels["pos"])
        return df.join(dels, cond, "left_anti")

    def _read_files(self, files: list[dict], meta: dict,
                    delete_files: list[dict] | None = None,
                    keep_pos: bool = False) -> DataFrame:
        """Read a file list grouped by schema version (one Spark scan per
        version — files of the same version read as a single multi-path
        scan, preserving scan parallelism).  Files targeted by position
        delete files get the anti-join subtraction; untargeted files take
        the plain scan, so tables with no pending deletes pay nothing.
        keep_pos=True keeps (__file, __pos) provenance columns — the
        merge-on-read delete writer uses them."""
        cur_fields = self._schema_fields(meta, meta["current_schema"])
        if not files:
            schema = ", ".join(f"`{f['name']}` {f['type']}" for f in cur_fields)
            empty = self.spark.createDataFrame([], schema)
            if keep_pos:
                empty = empty.select(
                    "*", F.lit(None).cast("string").alias("__file"),
                    F.lit(None).cast("bigint").alias("__pos"))
            return empty
        targeted: dict[str, list[str]] = {}
        for d in (delete_files or []):
            for t in d["targets"]:
                targeted.setdefault(t, []).append(d["path"])
        by_ver: dict[int, list[dict]] = {}
        for fi in files:
            by_ver.setdefault(fi["schema_version"], []).append(fi)
        out = None

        def scan_group(group, ver, with_pos):
            old_fields = {f["id"]: f for f in self._schema_fields(meta, ver)}
            paths = [os.path.join(self.tdir, fi["path"]) for fi in group]
            df = self.spark.read.parquet(*paths)
            cols = []
            for f in cur_fields:
                old = old_fields.get(f["id"])
                cols.append(F.col(old["name"]).alias(f["name"])
                            if old is not None
                            else F.lit(None).cast(f["type"]).alias(f["name"]))
            if with_pos:
                cols += [F.col("_metadata.file_path").alias("__file"),
                         F.col("_metadata.row_index").alias("__pos")]
            return df.select(*cols)

        for ver, group in sorted(by_ver.items()):
            plain = [fi for fi in group if fi["path"] not in targeted]
            dirty = [fi for fi in group if fi["path"] in targeted]
            parts = []
            if plain:
                parts.append(scan_group(plain, ver, keep_pos))
            if dirty:
                df = scan_group(dirty, ver, True)
                del_paths = sorted({p for fi in dirty
                                    for p in targeted[fi["path"]]})
                df = self._apply_deletes(df, del_paths)
                if not keep_pos:
                    df = df.drop("__file", "__pos")
                parts.append(df)
            for part in parts:
                out = part if out is None else out.unionByName(part)
        return out

    def read(self, version: int | None = None,
             ref: str | None = None,
             as_of_ts: float | None = None) -> DataFrame:
        """Current read, time travel when version=snapshot_id (VERSION AS
        OF, README.md:255-258), a named-ref read when ref=tag/branch
        name (Iceberg's ``VERSION AS OF 'ref'``), or TIMESTAMP AS OF
        when as_of_ts=epoch-seconds — resolved to the LATEST snapshot
        whose commit timestamp is <= the given instant, exactly
        Iceberg's ``FOR TIMESTAMP AS OF`` rule.  Each snapshot applies
        exactly the delete files committed as of that snapshot, so time
        travel across merge-on-read deletes is position-exact."""
        meta = self.meta
        if ref is not None:
            r = meta.get("refs", {}).get(ref)
            if r is None:
                raise ValueError(f"no ref: {ref}")
            version = r["snapshot_id"]
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("version and as_of_ts are exclusive")
            eligible = [s for s in meta["snapshots"]
                        if s["ts"] <= as_of_ts]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before timestamp {as_of_ts}")
            version = max(eligible, key=lambda s: (s["ts"], s["id"]))["id"]
        snap = (self._head(meta) if version is None
                else self._snapshot(meta, version))
        return self._read_files(snap["files"], meta,
                                delete_files=snap.get("delete_files"))

    def plan_files(self, ts_lo: str | None = None,
                   ts_hi: str | None = None) -> list[dict]:
        """Hidden-partition pruning (README.md:304-307): map a timestamp
        predicate on the partition SOURCE column to partition-value
        bounds and skip non-qualifying files.  Works for every TIME
        transform (days/months/years/hours) because their partition
        strings order like their timestamps; boundary partitions are
        kept and the residual row filter finishes the job.  Returns the
        pruned file list (tests assert len(pruned) < len(all))."""
        meta = self.meta
        snap = self._snapshot(meta, None)
        spec = meta["partition_spec"]
        if (spec is None or spec["transform"] not in self._TIME_TRANSFORMS
                or (ts_lo is None and ts_hi is None)):
            return list(snap["files"])
        t = spec["transform"]
        lo_p = self._time_part_of(ts_lo, t) if ts_lo else None
        hi_p = self._time_part_of(ts_hi, t) if ts_hi else None
        key = self._spec_key(spec)
        out = []
        for fi in snap["files"]:
            p = fi.get("partition")
            if p is None or fi.get("spec_key") != key:
                # pre-spec file, or written under a DIFFERENT spec whose
                # partition strings are not comparable to these bounds
                # (e.g. bucket '3' vs days '2024-01-01'): cannot prune
                out.append(fi)
                continue
            if lo_p is not None and p < lo_p:
                continue
            if hi_p is not None and p > hi_p:
                continue
            out.append(fi)
        return out

    def plan_files_value(self, value) -> list[dict]:
        """Equality pruning for value transforms: a predicate
        `source == value` maps to exactly one bucket / one truncated
        prefix, so only files in that partition survive.  (Also valid
        for time transforms given a timestamp literal.)"""
        meta = self.meta
        snap = self._snapshot(meta, None)
        spec = meta["partition_spec"]
        if spec is None:
            return list(snap["files"])
        want = self._transform_of_value(spec, meta, value)
        key = self._spec_key(spec)
        return [fi for fi in snap["files"]
                if fi.get("partition") is None
                or fi.get("spec_key") != key  # other-spec file: unprunable
                or fi["partition"] == want]

    def scan_value(self, value) -> DataFrame:
        """Partition-pruned read for `source == value` + the residual
        row filter (bucket partitions hold many values; truncate
        partitions hold a prefix range — the filter finishes)."""
        meta = self.meta
        spec = meta["partition_spec"]
        dels = self._head(meta).get("delete_files")
        df = self._read_files(self.plan_files_value(value), meta,
                              delete_files=dels)
        if spec is not None:
            fld = self._spec_source(spec, meta)
            df = df.filter(F.col(fld["name"]) ==
                           F.lit(value).cast(fld["type"]))
        return df

    def scan(self, ts_lo: str | None = None, ts_hi: str | None = None) -> DataFrame:
        """Read with hidden-partition pruning + the residual row filter on
        the source column (user never references the partition column)."""
        meta = self.meta
        dels = self._head(meta).get("delete_files")
        df = self._read_files(self.plan_files(ts_lo, ts_hi), meta,
                              delete_files=dels)
        spec = meta["partition_spec"]
        if spec is not None:
            src = F.col(self._spec_source(spec, meta)["name"])
            if ts_lo is not None:
                df = df.filter(src >= F.lit(ts_lo).cast("timestamp"))
            if ts_hi is not None:
                df = df.filter(src < F.lit(ts_hi).cast("timestamp"))
        return df

    def plan_files_range(self, col: str, lo=None, hi=None) -> list[dict]:
        """File skipping by footer min/max stats (Iceberg manifest-stats
        semantics): keep a file only if [min,max] of `col` intersects
        [lo,hi].  Stats are keyed by field id, so renames don't invalidate
        them; files without stats for the column must be read."""
        meta = self.meta
        snap = self._snapshot(meta, None)
        fid = None
        for f in self._schema_fields(meta, meta["current_schema"]):
            if f["name"] == col:
                fid = str(f["id"])
        if fid is None:
            raise ValueError(f"no column: {col}")
        out = []
        for fi in snap["files"]:
            st = (fi.get("stats") or {}).get(fid)
            if st is None:
                out.append(fi)  # no stats: cannot prune
                continue
            mn, mx = st
            if lo is not None and mx < lo:
                continue
            if hi is not None and mn > hi:
                continue
            out.append(fi)
        return out

    def scan_range(self, col: str, lo=None, hi=None) -> DataFrame:
        """Stats-pruned read + residual row filter: `lo <= col <= hi`."""
        meta = self.meta
        dels = self._head(meta).get("delete_files")
        df = self._read_files(self.plan_files_range(col, lo, hi), meta,
                              delete_files=dels)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def read_changes(self, from_version: int, to_version: int | None = None
                     ) -> DataFrame:
        """Incremental (CDC) read: rows APPENDED between two snapshots =
        the files present in `to` but not in `from` (Iceberg's
        incremental append scan).  Raises if the range contains ANY
        non-append snapshot: delete/update/merge/overwrite/replace/
        rollback all rewrite or drop files under copy-on-write, so the
        file-set diff would misreport rewritten rows as fresh appends
        (and silently skip removals).  The guard is an allow-list —
        an operation name this code has never seen must fail loudly,
        not fall through."""
        meta = self.meta
        to_snap = self._snapshot(meta, to_version)
        from_snap = self._snapshot(meta, from_version)
        by_id = {s["id"]: s for s in meta["snapshots"]}
        sid = to_snap["id"]
        while sid is not None and sid != from_snap["id"]:
            s = by_id.get(sid)
            if s is None:
                raise ValueError(
                    f"snapshot {from_snap['id']} is not an ancestor of "
                    f"{to_snap['id']}")
            if s["operation"] != "append":
                raise ValueError(
                    f"incremental read crosses non-append snapshot "
                    f"{sid} ({s['operation']})")
            sid = s["parent"]
        old_paths = {f["path"] for f in from_snap["files"]}
        new_files = [f for f in to_snap["files"] if f["path"] not in old_paths]
        return self._read_files(new_files, meta)

    def diff_snapshots(self, from_version: int,
                       to_version: int | None = None) -> DataFrame:
        """Row-level changelog between ANY two snapshots — the general
        diff read_changes deliberately refuses for non-append history:
        multiset EXCEPT in both directions, each surviving row tagged
        ``change_type`` 'insert' (in to, not in from) or 'delete' (in
        from, not in to); an UPDATE surfaces as its delete+insert pair,
        CDC-style.  exceptAll keeps duplicate multiplicity, so N copies
        appearing/disappearing report N change rows.

        Cost note: this reads BOTH snapshots in full (two hash
        anti-joins on the whole row) — the correct tool for audits and
        backfills at any history shape; the O(delta) fast path for
        append-only ranges remains read_changes."""
        a = self.read(version=from_version)
        b = self.read(version=to_version)
        return (b.exceptAll(a).withColumn("change_type", F.lit("insert"))
                .unionByName(
                    a.exceptAll(b).withColumn("change_type",
                                              F.lit("delete"))))

    # ------------------------------------------------------------ evolution
    def _publish_schema(self, meta: dict, fields: list[dict]) -> None:
        """Make `fields` the next schema version, current, and publish —
        the one body behind add/rename/drop column."""
        meta["current_schema"] += 1
        meta["schema_versions"].append(
            {"version": meta["current_schema"], "fields": fields})
        self._publish(meta)

    def add_column(self, name: str, sql_type: str) -> None:
        """Metadata-only ADD COLUMN; existing rows read NULL
        (README.md:269-276)."""
        meta = self.meta
        fields = self._schema_fields(meta, meta["current_schema"])
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column exists: {name}")
        new = {"id": meta["next_field_id"], "name": name, "type": sql_type}
        meta["next_field_id"] += 1
        self._publish_schema(meta, fields + [new])

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only RENAME via field id — zero data files touched
        (README.md:282-292)."""
        meta = self.meta
        fields = self._schema_fields(meta, meta["current_schema"])
        if not any(f["name"] == old for f in fields):
            raise ValueError(f"no column: {old}")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column exists: {new}")
        self._publish_schema(meta, [{**f, "name": new} if f["name"] == old
                                    else f for f in fields])

    _TIME_TRANSFORMS = ("days", "months", "years", "hours")

    def set_partition(self, transform: str, source_col: str,
                      partition_name: str | None = None,
                      param: int | None = None) -> None:
        """ADD PARTITION FIELD <transform>(source) — the full Iceberg
        hidden-partitioning transform family the tutorial's days() demo
        implies (README.md:304-307): days/months/years/hours over a
        timestamp, bucket(N, col), truncate(W, col).  Future writes
        partition by the derived value; reads prune via plan_files /
        plan_files_value.  The source is recorded by FIELD ID, so a
        later rename_column keeps the spec (and pruning) working."""
        if transform not in self._TIME_TRANSFORMS + ("bucket", "truncate"):
            raise ValueError(f"unknown transform: {transform}")
        if transform in ("bucket", "truncate") and not param:
            raise ValueError(f"{transform} needs a positive param "
                             f"(bucket count / truncate width)")
        meta = self.meta
        sid = None
        for f in self._schema_fields(meta, meta["current_schema"]):
            if f["name"] == source_col:
                sid = f["id"]
        if sid is None:
            raise ValueError(f"no column: {source_col}")
        new_spec = {
            "transform": transform, "source": source_col, "source_id": sid,
            "name": partition_name or f"p_{transform}", "param": param}
        # spec evolution retains REPLACED spec definitions (r13): files
        # already written under the old spec keep their spec_key, and
        # export_iceberg_metadata needs the definition to emit a
        # spec-correct partition-specs entry + typed partition values
        # for them (Iceberg keeps every historical spec for the same
        # reason).  Keyed dedup: re-adding an old spec records nothing.
        old = meta.get("partition_spec")
        if old is not None and self._spec_key(old) != self._spec_key(new_spec):
            hist = meta.setdefault("partition_spec_history", [])
            if all(self._spec_key(h) != self._spec_key(old) for h in hist):
                hist.append(old)
        meta["partition_spec"] = new_spec
        self._publish(meta)

    def set_partition_days(self, source_col: str,
                           partition_name: str = "p_day") -> None:
        """ADD PARTITION FIELD days(source) (README.md:304-307)."""
        self.set_partition("days", source_col, partition_name)

    def set_write_order(self, cols: list[str], target_files: int = 4) -> None:
        """WRITE ORDERED BY (Iceberg's sort-order metadata): future
        writes range-cluster rows on `cols` across ~`target_files`
        files per batch and sort within each file, so footer min/max
        stats become DISJOINT ranges and plan_files_range() prunes a
        point/range predicate to ~1 file instead of scanning all of
        them (zorder_by in rewrite_data_files is the multi-column
        compaction-time analog; this is the write-time single-spine
        version).  Recorded by FIELD ID like the partition spec, so
        renames keep the order valid; each data file written under the
        order records its sort_order key, and to_iceberg_ddl emits the
        matching ``ALTER TABLE ... WRITE ORDERED BY``.  Pass cols=[]
        to drop the order."""
        meta = self.meta
        fields = {f["name"]: f["id"]
                  for f in self._schema_fields(meta, meta["current_schema"])}
        unknown = [c for c in cols if c not in fields]
        if unknown:
            raise ValueError(f"no column(s): {unknown}")
        if int(target_files) < 1:
            raise ValueError("target_files must be >= 1")
        meta["write_order"] = ({"cols": cols,
                                "source_ids": [fields[c] for c in cols],
                                "target_files": int(target_files)}
                               if cols else None)
        self._publish(meta)

    def _order_cols(self, meta: dict) -> list[str]:
        """Current column names of the write order, resolved by field
        id (rename-proof); [] when no order is set."""
        wo = meta.get("write_order")
        if not wo:
            return []
        by_id = {f["id"]: f["name"]
                 for f in self._schema_fields(meta, meta["current_schema"])}
        return [by_id[i] for i in wo.get("source_ids", []) if i in by_id]

    def _spec_source(self, spec: dict, meta: dict) -> dict:
        """Resolve the partition source FIELD (current name + type) by
        field id — rename-proof; falls back to the recorded name for
        metadata written before source ids existed."""
        fields = self._schema_fields(meta, meta["current_schema"])
        sid = spec.get("source_id")
        if sid is not None:
            for f in fields:
                if f["id"] == sid:
                    return f
        for f in fields:
            if f["name"] == spec["source"]:
                return f
        raise ValueError(f"partition source column no longer exists: "
                         f"{spec['source']}")

    def _partition_value_col(self, spec: dict, meta: dict):
        """The derived partition value as a STRING Spark column (string
        keys keep directory names and metadata JSON-safe)."""
        fld = self._spec_source(spec, meta)
        src = F.col(fld["name"])
        t = spec["transform"]
        if t == "days":
            return F.to_date(src).cast("string")
        if t == "months":
            return F.date_format(src, "yyyy-MM")
        if t == "years":
            return F.date_format(src, "yyyy")
        if t == "hours":
            return F.date_format(src, "yyyy-MM-dd-HH")
        if t == "bucket":
            return F.pmod(F.hash(src), F.lit(spec["param"])).cast("string")
        if t == "truncate":
            if fld["type"] in ("string", "varchar"):
                return F.substring(src, 1, spec["param"])
            # floor-to-width on integers (pmod is non-negative, so this
            # is floor semantics for negatives too — Iceberg's contract)
            return (src - F.pmod(src, F.lit(spec["param"]))).cast("string")
        raise ValueError(f"unknown transform: {t}")

    @staticmethod
    def _time_part_of(ts: str, transform: str) -> str:
        """Map a 'YYYY-MM-DD[ HH:MM:SS]' bound to its partition string."""
        date, _, clock = ts.partition(" ")
        if transform == "days":
            return date
        if transform == "months":
            return date[:7]
        if transform == "years":
            return date[:4]
        if transform == "hours":
            hh = (clock.split(":")[0] if clock else "00")
            return f"{date}-{int(hh):02d}"
        raise ValueError(transform)

    def _transform_of_value(self, spec: dict, meta: dict, value) -> str:
        """Partition string for a literal — used to map an equality
        predicate on the SOURCE column to a partition value.  Evaluated
        through the same Spark expressions as the write path, so write
        and prune can never disagree (e.g. hash seed)."""
        fld = self._spec_source(spec, meta)
        row = (self.spark.range(1)
               .select(F.lit(value).cast(fld["type"]).alias(fld["name"]))
               .select(self._partition_value_col(spec, meta).alias("p"))
               .collect())
        return row[0]["p"]

    # ------------------------------------------------------------ maintenance
    def history(self) -> DataFrame:
        """Snapshot log as a DataFrame (README.md:245-248)."""
        meta = self.meta
        anc = set()
        sid = meta["current_snapshot"]
        by_id = {s["id"]: s for s in meta["snapshots"]}
        while sid is not None and sid in by_id:
            anc.add(sid)
            sid = by_id[sid]["parent"]
        rows = [(s["id"], s["parent"], s["operation"], float(s["ts"]),
                 # header count when present: keeps history O(snapshots)
                 # with zero manifest chain replays (r13)
                 s["_n_files"] if "_n_files" in s else len(s["files"]),
                 s["id"] in anc)
                for s in meta["snapshots"]]
        return self.spark.createDataFrame(
            rows, "snapshot_id bigint, parent_id bigint, operation string, "
                  "made_current_at double, n_files bigint, "
                  "is_current_ancestor boolean")

    def rewrite_manifests(self) -> int:
        """Iceberg's ``CALL system.rewrite_manifests`` analog: re-encode
        the CURRENT snapshot's file set as one FULL (base=None)
        manifest, so decoding the current lineage stops replaying the
        ancestor delta chain.  Metadata-only — no data files move, the
        snapshot id and history are untouched (manifest files are an
        encoding detail, not history), and older snapshots keep their
        delta manifests for time travel.  The superseded manifest
        becomes unreferenced and is collected by the manifest GC.  At a
        million files this bounds metadata decode at O(current files)
        instead of O(chain length x touched files) on long-retention
        tables.  Returns the delta-chain depth that was cut (0 = the
        current manifest was already full; nothing rewritten)."""
        meta = self.meta
        if meta["current_snapshot"] is None:
            return 0
        cur = self._snapshot(meta, None)
        depth, s = 0, cur
        while s.get("_manifest_base") is not None:
            depth += 1
            s = self._snapshot(meta, s["_manifest_base"])
        if depth == 0:
            return 0
        body = {"base": None, "added": cur["files"], "removed": [],
                "added_deletes": cur.get("delete_files", []),
                "removed_deletes": []}
        mdir = os.path.join(self.tdir, _MANIFEST_DIR)
        os.makedirs(mdir, exist_ok=True)
        mf = f"manifest-{cur['id']}-{uuid.uuid4().hex[:8]}.json"
        with open(os.path.join(mdir, mf), "w") as f:
            json.dump(body, f)
        cur["_manifest"], cur["_manifest_base"] = mf, None
        self._publish(meta)
        return depth

    def expire_snapshots(self, older_than_ts: float | None = None,
                         retain_last: int = 1) -> list[int]:
        """Retention (README.md:319-322): drop snapshots older than the
        cutoff, always retaining the most recent `retain_last` (>= 1, as
        Iceberg's retainLast: the newest snapshot must survive or the
        next commit would reuse its id) and every ref's snapshot.  The
        shrunk pointer is published first; only then are the data files
        no survivor references deleted, so a conflicting publish leaves
        every file in place."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        meta = self.meta
        snaps = sorted(meta["snapshots"], key=lambda s: s["id"])
        keep_ids = {s["id"] for s in snaps[-retain_last:]}
        if meta["current_snapshot"] is not None:
            keep_ids.add(meta["current_snapshot"])
        for r in meta.get("refs", {}).values():
            if r["snapshot_id"] is not None:  # refs pin their snapshots
                keep_ids.add(r["snapshot_id"])
        expired = [s for s in snaps
                   if s["id"] not in keep_ids
                   and (older_than_ts is None or s["ts"] < older_than_ts)]
        if expired:
            gone = {s["id"] for s in expired}
            keep = [s for s in snaps if s["id"] not in gone]

            def paths_of(snap_list):
                return ({f["path"] for s in snap_list for f in s["files"]}
                        | {d["path"] for s in snap_list
                           for d in s.get("delete_files", [])})

            dead_paths = paths_of(expired) - paths_of(keep)
            meta["snapshots"] = keep
            self._publish(meta)
            for p in dead_paths:
                full = os.path.join(self.tdir, p)
                if os.path.isdir(full):  # position-delete files are dirs
                    shutil.rmtree(full, ignore_errors=True)
                elif os.path.exists(full):
                    os.remove(full)
        self._gc_manifests()
        return [s["id"] for s in expired]

    def _gc_manifests(self) -> list[str]:
        """Delete manifest files referenced by no snapshot header in the
        CURRENT pointer file — debris from expired snapshots and from
        survivors that _write_meta re-encoded onto a full manifest when
        their delta base expired.  Safe any time: the pointer swap is
        the publish point, so an unreferenced manifest is unreachable."""
        with open(os.path.join(self.tdir, _META)) as f:
            live = {h.get("manifest")
                    for h in json.load(f).get("snapshots", [])}
        mdir = os.path.join(self.tdir, _MANIFEST_DIR)
        removed = []
        if os.path.isdir(mdir):
            for n in os.listdir(mdir):
                if n not in live:
                    os.remove(os.path.join(mdir, n))
                    removed.append(os.path.join(_MANIFEST_DIR, n))
        return removed

    def remove_orphan_files(self) -> list[str]:
        """Delete data files referenced by NO live snapshot — the debris
        a failed commit leaves behind (files are written before the
        metadata swap, so a CommitConflict orphans them; they are
        invisible to reads and safe to delete any time).  Returns the
        deleted paths."""
        meta = self.meta
        referenced = {f["path"] for s in meta["snapshots"] for f in s["files"]}
        removed = []
        data_root = os.path.join(self.tdir, "data")
        for root, _dirs, names in os.walk(data_root):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, n), self.tdir)
                if rel not in referenced:
                    os.remove(os.path.join(root, n))
                    removed.append(rel)
        # orphaned position-delete dirs (a failed MoR commit leaves one)
        del_referenced = {d["path"] for s in meta["snapshots"]
                          for d in s.get("delete_files", [])}
        del_root = os.path.join(self.tdir, "deletes")
        if os.path.isdir(del_root):
            for n in os.listdir(del_root):
                rel = os.path.join("deletes", n)
                if rel not in del_referenced:
                    shutil.rmtree(os.path.join(del_root, n),
                                  ignore_errors=True)
                    removed.append(rel)
        # manifests a crashed commit wrote but never published
        removed.extend(self._gc_manifests())
        return removed

    def insert_overwrite(self, df: DataFrame) -> None:
        """INSERT OVERWRITE: replace the table contents in one snapshot
        (the old contents stay time-travelable)."""
        meta = self.meta
        cols = self.current_columns(meta)
        new_files = self._write_files(df.select(*cols), meta)
        self._commit_snapshot(meta, "overwrite", new_files)

    def merge_into(self, source: DataFrame, key: str,
                   update_cols: list[str],
                   not_matched_by_source: str = "keep",
                   mode: str = "copy-on-write",
                   check_cardinality: bool = True) -> None:
        """MERGE INTO: rows matched on `key` take the source's values
        for `update_cols` (WHEN MATCHED UPDATE); unmatched source rows
        are inserted (WHEN NOT MATCHED INSERT); target rows absent from
        the source either carry over (``not_matched_by_source='keep'``,
        the classic upsert) or are removed
        (``not_matched_by_source='delete'`` — Spark 4 / Iceberg's WHEN
        NOT MATCHED BY SOURCE THEN DELETE, the full-sync arm; VERDICT r6
        task 6).

        * copy-on-write (default): one new snapshot with the merged
          file set.
        * merge-on-read: matched (and, under the delete arm, unmatched)
          target rows are masked by ONE position delete file; updated
          matched rows and inserts append as new data files — a single
          atomic snapshot with zero data-file rewrites (the same v2
          delete-file shape as update_where/delete_where MoR; CoW==MoR
          equivalence pinned in tests/test_icelite_mor.py).

        At scale both sides co-partition on the key — a single shuffle,
        no row-by-row RPCs."""
        if not_matched_by_source not in ("keep", "delete"):
            raise ValueError(
                f"not_matched_by_source must be 'keep' or 'delete', "
                f"got {not_matched_by_source!r}")
        # ANSI MERGE cardinality (r8 review): a target row matched by
        # MORE THAN ONE source row is an error, never a silent fan-out
        # (duplicate UNMATCHED source keys are fine — they just insert).
        # Cost-tiered (r8 advice): the source-only dup aggregate runs
        # first, and only when it is non-empty does the target semi-join
        # run — a deduplicated source never pays a target read.  Bulk
        # callers with provably unique keys can skip the check entirely
        # with ``check_cardinality=False``.
        if check_cardinality:
            dup = (source.select(F.col(key).alias("__k"))
                   .filter(F.col("__k").isNotNull())
                   .groupBy("__k").count().filter(F.col("count") > 1)
                   .persist())
            try:
                # count() FORCES full materialization so the semi-join
                # below reads the same snapshot as this emptiness check
                # — for a non-deterministic source, two independent
                # evaluations could disagree and silently skip the ANSI
                # violation, and the error path paid the source
                # aggregate twice (r9 advice).  The happy (no-dup) path
                # still never touches the target.
                if dup.count():
                    hit = (dup.join(
                        self.read().select(F.col(key).alias("__k")),
                        "__k", "left_semi").limit(1).collect())
                    if hit:
                        raise ValueError(
                            f"MERGE source has multiple rows for "
                            f"matched key {hit[0]['__k']!r} "
                            f"(ANSI MERGE cardinality violation)")
            finally:
                dup.unpersist()
        if self._is_mor(mode, "merge"):
            return self._merge_into_mor(source, key, update_cols,
                                        not_matched_by_source)
        meta = self.meta
        cols = self.current_columns(meta)
        # Presence tags, NOT key/value nullability, decide which arm a
        # row took (r7 advice): a NULL-key source row matches nothing in
        # the equi join — SQL MERGE inserts it — and a NULL source value
        # in an update column must overwrite the target verbatim (UPDATE
        # SET c = s.c), which coalesce() would silently un-update.
        target = self.read().withColumn("__t_tag", F.lit(1))
        src = source.select(*cols)
        s_pref = (src.select([F.col(c).alias(f"__s_{c}") for c in cols])
                  .withColumn("__s_tag", F.lit(1)))
        joined = target.join(
            s_pref, target[key] == s_pref[f"__s_{key}"], "full_outer")
        is_target = F.col("__t_tag").isNotNull()
        is_source = F.col("__s_tag").isNotNull()
        if not_matched_by_source == "delete":
            # target-only rows drop; the null-rejecting filter on a
            # source-side attribute lets the optimizer narrow the full
            # outer to a right outer join
            joined = joined.filter(is_source)
        # matched rows: update_cols from source, others from target;
        # insert rows (no target presence): all from source
        sel = []
        for c in cols:
            if c in update_cols and c != key:
                sel.append(F.when(is_source, F.col(f"__s_{c}"))
                           .otherwise(F.col(c)).alias(c))
            else:
                sel.append(F.when(is_target, F.col(c))
                           .otherwise(F.col(f"__s_{c}")).alias(c))
        merged = joined.select(*sel)
        new_files = self._write_files(merged, meta)
        self._commit_snapshot(meta, "merge", new_files)

    def _merge_into_mor(self, source: DataFrame, key: str,
                        update_cols: list[str],
                        not_matched_by_source: str) -> None:
        """Merge-on-read MERGE: one provenance scan joins the target
        (with row positions) against the source; masked old versions go
        into a position delete file, updated + inserted rows append."""
        meta = self.meta
        cur = self._snapshot(meta, None)
        cur_dels = cur.get("delete_files", [])
        cols = self.current_columns(meta)
        src = source.select(*cols)
        s_pref = src.select([F.col(c).alias(f"__s_{c}") for c in cols])
        tgt = self._read_files(cur["files"], meta, delete_files=cur_dels,
                               keep_pos=True)
        joined = tgt.join(
            s_pref, tgt[key] == s_pref[f"__s_{key}"], "full_outer")
        is_target = F.col("__file").isNotNull()
        is_matched = is_target & F.col(f"__s_{key}").isNotNull()
        masked = joined.filter(
            is_target if not_matched_by_source == "delete" else is_matched)
        # distinct(): duplicate MATCHED source keys (reachable via the
        # check_cardinality=False escape hatch) fan one target row out
        # to several joined rows — writing the same (file, pos) twice
        # would make the delete file's record_count overcount and
        # metadata_count() silently undercount (reads stay correct,
        # masking dedupes; the COUNT pushdown would not)
        entry = self._write_position_deletes(
            masked.select("__file", "__pos").distinct())
        # updated matched rows + source-only inserts re-enter as appends
        updated = joined.filter(is_matched).select(*[
            (F.col(f"__s_{c}") if c in update_cols else F.col(c)).alias(c)
            for c in cols])
        inserts = (joined.filter(~is_target)
                   .select(*[F.col(f"__s_{c}").alias(c) for c in cols]))
        new_files = self._write_files(updated.unionByName(inserts), meta)
        self._commit_snapshot(meta, "merge", cur["files"] + new_files,
                              delete_files=cur_dels + ([entry] if entry
                                                       else []))

    def drop_column(self, name: str) -> None:
        """Metadata-only DROP COLUMN: the field leaves the current schema;
        data files keep the bytes, reads never project them."""
        meta = self.meta
        fields = self._schema_fields(meta, meta["current_schema"])
        if not any(f["name"] == name for f in fields):
            raise ValueError(f"no column: {name}")
        self._publish_schema(meta, [f for f in fields if f["name"] != name])

    def rollback_to_snapshot(self, snapshot_id: int) -> None:
        """Roll the table back to an earlier snapshot's file list — a new
        'rollback' snapshot whose contents equal the target's (history is
        append-only; nothing is deleted, so the rolled-past snapshots stay
        time-travelable until expired).  Metadata-only: no data movement."""
        meta = self.meta
        target = self._snapshot(meta, snapshot_id)
        self._commit_snapshot(meta, "rollback", list(target["files"]),
                              delete_files=list(target.get("delete_files", [])))

    def files(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.files`` analog): one row per
        data file in the snapshot — path, partition value, schema
        version, and per-column min/max stats as a JSON string.  Pure
        metadata: answers "how is this table laid out" without touching
        a single data file."""
        meta = self.meta
        snap = self._snapshot(meta, version)
        rows = [(f["path"], f.get("partition"), f["schema_version"],
                 f.get("record_count"),
                 json.dumps(f.get("stats") or {}, sort_keys=True))
                for f in snap["files"]]
        return self.spark.createDataFrame(
            rows, "file_path string, partition string, "
                  "schema_version int, record_count bigint, stats string")

    def partitions(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.partitions`` analog): one row
        per partition value — file count and data-file record count,
        computed entirely from manifest entries (``record_count`` is read
        from each parquet footer at WRITE time, so this query touches no
        data files).  Counts are data-file rows; merge-on-read delete
        files are not subtracted (Iceberg reports those in separate
        columns of its partitions table).  A file whose footer stats are
        missing (pre-stats snapshot, failed footer read) makes its whole
        partition's ``record_count`` NULL — unknown, matching files() —
        rather than silently counting it as 0 rows."""
        meta = self.meta
        snap = self._snapshot(meta, version)
        agg: dict[str | None, list] = {}
        for f in snap["files"]:
            ent = agg.setdefault(f.get("partition"), [0, 0])
            ent[0] += 1
            rc = f.get("record_count")
            if ent[1] is not None:
                ent[1] = None if rc is None else ent[1] + rc
        rows = [(p, n, rc) for p, (n, rc) in sorted(
            agg.items(), key=lambda kv: (kv[0] is None, kv[0]))]
        return self.spark.createDataFrame(
            rows, "partition string, file_count bigint, record_count bigint")

    def manifests(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.manifests`` analog): one row
        per manifest file in the DELTA CHAIN that materializes the
        snapshot — path, on-disk length, owning snapshot, its base, and
        added/removed data-file and delete-file counts.  The chain
        invariant sum(added) - sum(removed) == len(files()) is pinned in
        pytest.  Pure metadata: no data file is touched.  Completes the
        inspection family beside files()/partitions()/history()/refs_df()
        (VERDICT r6 task 5)."""
        meta = self.meta
        snap = self._snapshot(meta, version)
        by_id = {s["id"]: s for s in meta["snapshots"]}
        rows = []
        sid = snap["id"]
        while sid is not None:
            s = by_id[sid]
            mf = s.get("_manifest")
            if mf is None:  # legacy inline snapshot: no manifest file
                rows.append((None, None, s["id"], None,
                             len(s["files"]), 0,
                             len(s.get("delete_files", [])), 0))
                break
            body = self._manifest(mf)
            rel = os.path.join(_MANIFEST_DIR, mf)
            rows.append((rel,
                         os.path.getsize(os.path.join(self.tdir, rel)),
                         s["id"], body["base"],
                         len(body["added"]), len(body["removed"]),
                         len(body["added_deletes"]),
                         len(body["removed_deletes"])))
            sid = body["base"]
        return self.spark.createDataFrame(
            rows, "manifest_path string, length bigint, "
                  "snapshot_id bigint, base_snapshot_id bigint, "
                  "added_data_files bigint, removed_data_files bigint, "
                  "added_delete_files bigint, removed_delete_files bigint")

    def snapshots_df(self) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.snapshots`` analog): one row
        per snapshot in the metadata — id, parent, operation, and the
        summary counts Iceberg keeps (records added / removed / position
        deletes added relative to the parent), all computed from
        manifest entries alone: zero data files touched (r11 verdict
        task 5, completing the family beside history()/manifests())."""
        meta = self.meta
        by_id = {s["id"]: s for s in meta["snapshots"]}
        rows = []
        for s in sorted(meta["snapshots"], key=lambda x: x["id"]):
            parent = by_id.get(s.get("parent")) if s.get("parent") else None
            p_files = {f["path"] for f in parent["files"]} if parent else set()
            p_dels = ({f["path"] for f in parent.get("delete_files", [])}
                      if parent else set())

            def _rc(entries):
                return sum(e.get("record_count") or 0 for e in entries)

            cur_paths = {f["path"] for f in s["files"]}
            added = _rc([f for f in s["files"] if f["path"] not in p_files])
            removed = _rc([f for f in (parent["files"] if parent else [])
                           if f["path"] not in cur_paths])
            pos_dels = _rc([f for f in s.get("delete_files", [])
                            if f["path"] not in p_dels])
            rows.append((s["id"], s.get("parent"), s["operation"],
                         added, removed, pos_dels))
        return self.spark.createDataFrame(
            rows, "snapshot_id bigint, parent_id bigint, operation string, "
                  "added_records bigint, removed_records bigint, "
                  "added_position_deletes bigint")

    def entries_df(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.entries`` analog): one row
        per manifest entry of the snapshot — status (1 ADDED / 0
        EXISTING / 2 DELETED vs the parent), content (0 data / 1
        position deletes), partition value and footer record count.
        Pure metadata: answers "what did this commit do, file by file"
        without reading data (r11 verdict task 5)."""
        meta = self.meta
        snap = self._snapshot(meta, version)
        parent = (self._snapshot(meta, snap["parent"])
                  if snap.get("parent") else None)
        rows = []
        for content, key in ((0, "files"), (1, "delete_files")):
            cur = snap.get(key, []) or []
            prev = (parent.get(key, []) or []) if parent else []
            prev_by_path = {f["path"]: f for f in prev}
            cur_paths = {f["path"] for f in cur}
            for f in cur:
                status = 0 if f["path"] in prev_by_path else 1
                rows.append((status, content, f.get("partition"),
                             f.get("record_count")))
            for p, f in prev_by_path.items():
                if p not in cur_paths:  # rewritten/removed by this commit
                    rows.append((2, content, f.get("partition"),
                                 f.get("record_count")))
        return self.spark.createDataFrame(
            rows, "status int, content int, partition string, "
                  "record_count bigint")

    def all_data_files_df(self) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.all_data_files`` analog):
        every data file referenced by ANY snapshot still in metadata,
        deduplicated by path (Iceberg's table repeats a file once per
        referencing snapshot; the dedup keeps the output a file
        inventory), with a ``live`` flag marking membership in the
        current snapshot — the orphan/GC and storage-accounting view
        (r11 verdict task 5)."""
        meta = self.meta
        live = {f["path"] for f in self._head(meta)["files"]}
        seen: dict[str, tuple] = {}
        for s in sorted(meta["snapshots"], key=lambda x: x["id"]):
            for f in s["files"]:
                seen.setdefault(f["path"], (
                    f.get("partition"), f.get("record_count"),
                    f["path"] in live))
        rows = sorted(seen.values(),
                      key=lambda r: (r[0] is None, r[0], r[1] or 0, r[2]))
        return self.spark.createDataFrame(
            rows, "partition string, record_count bigint, live boolean")

    # ------------------------------------------------- refs: tags / branches
    def refs(self) -> dict:
        return dict(self.meta.get("refs", {}))

    def refs_df(self) -> DataFrame:
        """Metadata table (Iceberg's ``db.t.refs`` analog): one row per
        named ref — main plus every tag/branch — with the snapshot it
        pins (NULL = tracks current).  Completes the inspection surface
        beside files()/partitions()/history()."""
        meta = self.meta
        rows = [("main", "branch", meta.get("current_snapshot"))]
        rows += [(n, r["type"], r.get("snapshot_id"))
                 for n, r in sorted(meta.get("refs", {}).items())]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint")

    def _set_ref(self, name: str, kind: str, snapshot_id: int | None) -> None:
        meta = self.meta
        refs = meta.setdefault("refs", {})
        if name in refs:
            raise ValueError(f"ref exists: {name}")
        if snapshot_id is not None:
            self._snapshot(meta, snapshot_id)  # must exist
        refs[name] = {"type": kind, "snapshot_id": snapshot_id}
        self._publish(meta)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named pointer to a snapshot (Iceberg tag): the
        snapshot it pins survives expire_snapshots until the tag drops."""
        snapshot_id = (snapshot_id if snapshot_id is not None
                       else self.meta["current_snapshot"])
        self._set_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Mutable named pointer (Iceberg branch) — the WAP staging
        target: write_to_branch advances it without touching main."""
        snapshot_id = (snapshot_id if snapshot_id is not None
                       else self.meta["current_snapshot"])
        self._set_ref(name, "branch", snapshot_id)

    def drop_ref(self, name: str) -> None:
        meta = self.meta
        if name not in meta.get("refs", {}):
            raise ValueError(f"no ref: {name}")
        del meta["refs"][name]
        self._publish(meta)

    def write_to_branch(self, branch: str, df: DataFrame) -> None:
        """Append a snapshot visible ONLY on the branch (main readers are
        unaffected) — the write half of write-audit-publish.  It commits
        through _commit_snapshot like every main commit, so a main
        commit landing mid-flight is a CommitConflict, not a silent
        revert."""
        meta = self.meta
        ref = meta.get("refs", {}).get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"no branch: {branch}")
        cols = self.current_columns(meta)
        self._append(meta, self._write_files(df.select(*cols), meta),
                     branch=branch)

    def fast_forward(self, branch: str) -> None:
        """Publish half of WAP: point main at the branch head.  Allowed
        only when main is an ancestor of the branch head (a true
        fast-forward — Iceberg's fast_forward procedure); otherwise the
        branch diverged and the caller must rebase/merge explicitly."""
        meta = self.meta
        ref = meta.get("refs", {}).get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"no branch: {branch}")
        by_id = {s["id"]: s for s in meta["snapshots"]}
        sid = ref["snapshot_id"]
        while sid is not None and sid != meta["current_snapshot"]:
            sid = by_id[sid]["parent"] if sid in by_id else None
        if sid != meta["current_snapshot"]:
            raise ValueError(
                f"main is not an ancestor of branch {branch}: not a "
                f"fast-forward")
        meta["current_snapshot"] = ref["snapshot_id"]
        self._publish(meta)

    def cherrypick_snapshot(self, snapshot_id: int) -> int:
        """Iceberg's ``CALL system.cherrypick_snapshot`` analog: apply
        one existing snapshot's CHANGES on top of the current head as a
        new commit — metadata only, zero data bytes move.  This is how
        a diverged WAP branch publishes (fast_forward refuses once main
        advanced); only *append* snapshots are eligible, exactly the
        spec's restriction, because a delete/replace cherry-picked onto
        a different base could mask rows it never scanned.

        The applied change set is the diff against the PICKED snapshot's
        own parent (not against main), and a file already present on the
        head raises rather than double-publishing its rows."""
        meta = self.meta
        by_id = {s["id"]: s for s in meta["snapshots"]}
        if snapshot_id not in by_id:
            raise ValueError(f"no snapshot: {snapshot_id}")
        snap = by_id[snapshot_id]
        if snap["operation"] != "append":
            raise ValueError(
                f"cherrypick: snapshot {snapshot_id} is a "
                f"'{snap['operation']}' — only append snapshots can be "
                f"cherry-picked onto a moved base")
        if snap["parent"] is not None and snap["parent"] not in by_id:
            # an expired parent would silently widen the change set to
            # the picked snapshot's ENTIRE file list (diff vs []) and
            # resurrect rows deleted from main — refuse instead
            raise ValueError(
                f"cherrypick: snapshot {snapshot_id}'s parent "
                f"{snap['parent']} was expired; its change set can no "
                "longer be computed")
        base_files = (by_id[snap["parent"]]["files"]
                      if snap["parent"] is not None else [])
        added, _removed = _diff_entries(base_files, snap["files"])
        dup = sorted({f["path"] for f in added}
                     & {f["path"] for f in self._head(meta)["files"]})
        if dup:
            raise ValueError(
                f"cherrypick: files already published on the current "
                f"snapshot: {dup[:3]}")
        return self._append(meta, added)["id"]

    def position_deletes_df(self, version: int | None = None) -> DataFrame:
        """position_deletes metadata table (Iceberg's
        ``db.t.position_deletes``): the snapshot's pending position
        deletes with the masked ROW's values reconstructed — the delete
        files name (file, pos) pairs, so the row content comes from
        joining them back onto a provenance scan of exactly the targeted
        data files.  The scan side reads only targeted files (untargeted
        files never load), and the delete side is O(deleted rows), so
        Spark broadcasts it at runtime."""
        meta = self.meta
        snap = self._snapshot(meta, version)
        dels = snap.get("delete_files", [])
        if not dels:
            return self._read_files([], meta)
        del_df = self._read_deletes([d["path"] for d in dels])
        targeted = sorted({t for d in dels for t in d["targets"]})
        by_path = {f["path"]: f for f in snap["files"]}
        files = [by_path[p] for p in targeted if p in by_path]
        data = self._read_files(files, meta, keep_pos=True)
        cond = ((data["__file"] == del_df["file_path"])
                & (data["__pos"] == del_df["pos"]))
        return (data.join(del_df, cond, "inner")
                .select(*self.current_columns(meta)))

    def rewrite_small_files(self, min_records: int,
                            target_files: int = 1) -> int:
        """Binpack compaction (Iceberg ``rewrite_data_files`` with the
        binpack strategy's min-input thresholds): ONLY files whose
        footer row count is below `min_records` are coalesced; files
        already big enough carry over byte-identical — the maintenance
        job a streaming ingest needs nightly, where rewriting the
        whole table (rewrite_data_files) would pay for the cold 99%.
        A file with no footer count is treated as small (it must be
        read to be sized anyway).  Pending position deletes on the
        rewritten files fold away; delete entries still targeting
        kept files survive with pruned target lists.  Returns the
        number of files rewritten (0 = no-op: fewer than two small
        files cannot pack into fewer files)."""
        meta = self.meta
        snap = self._snapshot(meta, None)
        small = [f for f in snap["files"]
                 if f.get("record_count") is None
                 or f["record_count"] < min_records]
        if len(small) < 2:
            return 0
        kept_files, kept_dels = self._carry_over(
            snap, {f["path"] for f in small})
        df = self._read_files(small, meta,
                              delete_files=snap.get("delete_files", []))
        new_files = self._write_files(df.repartition(target_files), meta)
        self._commit_snapshot(meta, "replace", kept_files + new_files,
                              delete_files=kept_dels)
        return len(small)

    def analyze_table(self, columns: list[str]) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS analog
        (Iceberg stores these as a Puffin statistics file bound to a
        snapshot; icelite stores the same shape in table metadata):
        exact NDV / null count / min / max per column over the CURRENT
        snapshot, recorded with the snapshot id so stale stats are
        detectable.  Stats are advisory metadata — writing them is NOT
        a table commit (no new snapshot), matching Iceberg, where the
        statistics file updates metadata without changing data state."""
        stats = _analyze_columns(self, columns)
        meta = self.meta
        meta.setdefault("statistics", []).append(stats)
        self._publish(meta)
        return stats

    def column_stats_df(self):
        """The latest recorded statistics as a DataFrame (the
        ``db.t.statistics``-style readout), with a staleness flag
        comparing the stats' snapshot to the current one."""
        meta = self.meta
        if not meta.get("statistics"):
            raise ValueError("no statistics recorded; run analyze_table")
        st = meta["statistics"][-1]
        cur = meta["current_snapshot"]
        rows = [(c, int(v["ndv"]), int(v["null_count"]), v["min"], v["max"],
                 int(st["row_count"]), st["snapshot_id"] == cur)
                for c, v in sorted(st["columns"].items())]
        return self.spark.createDataFrame(
            rows, "column string, ndv bigint, null_count bigint, "
                  "min_value string, max_value string, row_count bigint, "
                  "is_current boolean")

    def rewrite_position_deletes(self) -> int:
        """``CALL system.rewrite_position_deletes`` analog: consolidate
        the current snapshot's pending position-delete files into ONE
        file — the MoR read-side join input a trickle of small DELETEs
        fragments (every MoR delete adds a file; the read side pays one
        join input per file).  Rows pointing at data files no longer in
        the snapshot are dropped (dangling positions from CoW rewrites),
        duplicates collapse, data files are untouched, and a 'replace'
        snapshot commits with the single merged entry — history and
        time travel keep seeing the old delete files.  Returns the
        number of input delete files merged (0 = no-op when fewer than
        two are pending)."""
        meta = self.meta
        cur = self._snapshot(meta, None)
        dels = cur.get("delete_files", [])
        if len(dels) < 2:
            return 0
        live = {f["path"] for f in cur["files"]}
        rows = self._read_deletes([dd["path"] for dd in dels])
        # liveness is decided per distinct TARGET FILE (bounded by the
        # snapshot's file count — metadata-sized), never per delete row
        abs_targets = [r["file_path"] for r in
                       rows.select("file_path").distinct().collect()]
        live_abs = [a for a, rel in zip(abs_targets,
                                        self._rel_data_paths(abs_targets))
                    if rel in live]
        entry = self._write_position_deletes(
            rows.filter(F.col("file_path").isin(live_abs))
            .select(F.col("file_path").alias("__file"),
                    F.col("pos").alias("__pos")).distinct())
        self._commit_snapshot(meta, "replace", cur["files"],
                              delete_files=[entry] if entry else [])
        return len(dels)

    def rewrite_data_files(self, target_files: int = 1,
                           zorder_by: list[str] | None = None,
                           where_range: tuple | None = None) -> None:
        """Compaction (README.md:324-328): rewrite the current file set
        into `target_files` larger files — same rows, new 'replace'
        snapshot; history and time travel to prior snapshots unaffected.

        With `where_range=(col, lo, hi)`, only the files whose footer
        min/max intersect the range are rewritten (file-level selection,
        Iceberg's ``rewrite_data_files(where => ...)``): untouched files
        carry over byte-identical, so a hot partition compacts without
        paying for the cold 99% of a 100 TB table.  Pending position
        deletes are applied to the rewritten rows and folded away;
        delete files still targeting a carried-over file survive (their
        references to rewritten paths become no-ops, since those paths
        leave the snapshot).

        With `zorder_by`, rows are clustered on the Z-order (Morton)
        curve over the given columns before the split — Iceberg's
        `rewrite_data_files(strategy => 'sort', sort_order => 'zorder(a,
        b)')`.  Each output file then covers a compact sub-rectangle of
        the (a, b) value space, so footer min/max skipping
        (plan_files_range) prunes on EITHER column, not just a leading
        sort key.  The z-value is built from 8-bit linear codes (one
        min/max aggregate per column, no global sort/window), bits
        interleaved JVM-side; the split is a range-partition on z — all
        of it scales as one scan + one exchange at any table size."""
        meta = self.meta
        kept_files: list[dict] = []
        kept_dels: list[dict] = []
        if where_range is not None:
            selected = self.plan_files_range(*where_range)
            if not selected:  # nothing to rewrite: no-op
                return
            snap = self._snapshot(meta, None)
            kept_files, kept_dels = self._carry_over(
                snap, {f["path"] for f in selected})
            df = self._read_files(selected, meta,
                                  delete_files=snap.get("delete_files", []))
        else:
            df = self.read()
        if zorder_by:
            bits = 8
            aggs = []
            for c in zorder_by:
                dc = F.col(c).cast("double")
                aggs += [F.min(dc).alias(f"mn_{c}"), F.max(dc).alias(f"mx_{c}")]
            bounds = df.agg(*aggs).collect()[0]
            n = len(zorder_by)
            z = F.lit(0).cast("bigint")
            for j, c in enumerate(zorder_by):
                mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
                span = (mx - mn) if (mx is not None and mx > mn) else 1.0
                code = F.least(
                    F.lit((1 << bits) - 1),
                    F.floor((F.col(c).cast("double") - F.lit(mn))
                            / F.lit(span) * (1 << bits)).cast("int"))
                code = F.coalesce(code, F.lit(0))
                for i in range(bits):
                    z = z + (F.shiftright(code, i).bitwiseAND(F.lit(1))
                             .cast("bigint") * F.lit(1 << (i * n + j)))
            compacted = (df.withColumn("__z", z)
                         .repartitionByRange(target_files, "__z")
                         .sortWithinPartitions("__z")
                         .drop("__z"))
        else:
            compacted = df.repartition(target_files)
        new_files = self._write_files(compacted, meta)
        self._commit_snapshot(meta, "replace", kept_files + new_files,
                              delete_files=kept_dels)

    def file_count(self, version: int | None = None) -> int:
        meta = self.meta
        return len(self._snapshot(meta, version)["files"])

    def to_iceberg_ddl(self, full_name: str | None = None) -> dict:
        """Migration/export path from icelite to real Apache Iceberg
        (VERDICT r5 task 7): emit everything a connector-equipped Spark
        needs to recreate this table the day an iceberg-spark-runtime
        jar is available — without rewriting a byte of data.

        Returns a dict with:
          * ``create_table`` — ``CREATE TABLE ... USING iceberg`` DDL:
            current-schema columns (Spark DDL types, which Iceberg's
            Spark DDL accepts verbatim), ``PARTITIONED BY`` carrying the
            spec's hidden-partitioning transform (days/months/years/
            hours/bucket/truncate), and table properties as
            TBLPROPERTIES;
          * ``add_files`` — the ``CALL <catalog>.system.add_files``
            invocation that adopts the existing parquet files in place
            (Iceberg's documented parquet-import procedure);
          * ``files`` — the current snapshot's data-file manifest
            (absolute path, record count, partition value) for an
            auditor or a metadata-only importer.

        Tables whose current snapshot carries merge-on-read delete
        files cannot be adopted file-by-file (add_files knows nothing
        of positional deletes); call ``rewrite_data_files()`` first —
        enforced here with a clear error instead of a silent wrong
        export."""
        meta = self.meta
        name = full_name or meta["table"]
        snap = self._head(meta)
        if snap.get("delete_files"):
            raise ValueError(
                "current snapshot has merge-on-read delete files; run "
                "rewrite_data_files() to compact them before exporting "
                "(add_files cannot represent positional deletes)")

        cols = ",\n  ".join(
            f"{f['name']} {f['type'].upper()}"
            for f in self._schema_fields(meta, meta["current_schema"]))
        spec = meta.get("partition_spec")
        part_clause = ""
        if spec is not None:
            src = self._spec_source(spec, meta)["name"]
            if spec["transform"] in self._TIME_TRANSFORMS:
                expr = f"{spec['transform']}({src})"
            else:  # bucket / truncate carry their parameter first
                expr = f"{spec['transform']}({spec['param']}, {src})"
            part_clause = f"\nPARTITIONED BY ({expr})"
        props = dict(meta.get("properties") or {})
        props.setdefault("format-version", "2")
        props_sql = ", ".join(f"'{k}' = '{v}'"
                              for k, v in sorted(props.items()))
        create = (f"CREATE TABLE {name} (\n  {cols}\n) USING iceberg"
                  f"{part_clause}\nTBLPROPERTIES ({props_sql})")

        files = [{"path": os.path.join(self.tdir, f["path"]),
                  "record_count": f.get("record_count"),
                  "partition": f.get("partition")}
                 for f in snap["files"]]

        # add_files adopts a DIRECTORY, but data/ retains superseded
        # generations for time travel (expire/remove_orphan keep any
        # snapshot-referenced file) — pointing the CALL at data/ after
        # an update/delete/compaction would import old + current rows:
        # exactly the silent double-import the MOR guard above refuses.
        # Adopt data/ directly only when it holds nothing but the
        # current snapshot; otherwise stage hardlinks to exactly
        # snap['files'] and adopt the stage (r6 ADVICE, medium).
        data_root = os.path.join(self.tdir, "data")
        current = {os.path.normpath(f["path"]) for f in snap["files"]}
        on_disk = set()
        for root, _dirs, names in os.walk(data_root):
            for fn in names:
                if fn.endswith(".parquet"):
                    on_disk.add(os.path.normpath(os.path.relpath(
                        os.path.join(root, fn), self.tdir)))
        if on_disk <= current:
            src_dir = data_root
        else:
            src_dir = os.path.join(self.tdir, "export_stage",
                                   f"snap-{meta['current_snapshot']}")
            shutil.rmtree(src_dir, ignore_errors=True)
            os.makedirs(src_dir)
            for rel in sorted(current):
                # Keep the hive partition=value segments, flatten the
                # rest into the filename (r7 advice): add_files derives
                # partition values from k=v path segments, so a flat
                # stage loses them for a partitioned table — while the
                # batch dirs between data/ and the k=v level would break
                # Spark's partition discovery (conflicting structures /
                # unvisited plain subdirs) if mirrored verbatim.
                parts = rel.split(os.sep)
                kv = [p for p in parts[:-1] if "=" in p]
                flat = "__".join(p for p in parts[:-1] if "=" not in p)
                dst = os.path.join(src_dir, *kv,
                                   f"{flat}__{parts[-1]}" if flat
                                   else parts[-1])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(os.path.join(self.tdir, rel), dst)
                except OSError:  # cross-device or FS without hardlinks
                    shutil.copy2(os.path.join(self.tdir, rel), dst)
        add_files = (
            f"CALL system.add_files(table => '{name}', "
            f"source_table => '`parquet`.`{src_dir}`')")
        out = {"create_table": create, "add_files": add_files,
               "files": files, "source_dir": src_dir}
        order = self._order_cols(meta)
        if order:  # Iceberg's sort-order DDL (WRITE ORDERED BY)
            out["write_order"] = (
                f"ALTER TABLE {name} WRITE ORDERED BY "
                f"({', '.join(order)})")
        return out


def _analyze_columns(table, columns: list[str]) -> dict:
    """Exact per-column statistics over the current snapshot: NDV,
    null count, row count, min/max (rendered to strings).  One
    aggregation pass — every figure is a partial-aggregatable
    aggregate, so the pass scales like any groupBy-less reduce."""
    import pyspark.sql.functions as F

    df = table.read()
    aggs = [F.count("*").alias("__rows")]
    for c in columns:
        aggs += [
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0]  # 1-row scalar reduce
    return {
        "snapshot_id": table.meta["current_snapshot"],
        "row_count": row["__rows"],
        "columns": {c: {"ndv": row[f"{c}__ndv"],
                        "null_count": row[f"{c}__nulls"],
                        "min": row[f"{c}__min"],
                        "max": row[f"{c}__max"]} for c in columns},
    }
