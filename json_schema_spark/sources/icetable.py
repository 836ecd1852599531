"""Iceberg-style snapshot table format over plain parquet (the
"results table" seam of the north rule).

The reference has no storage layer at all (it validates in-memory
documents); the engine's runs, by contrast, must land per-partition
verdict/lineage rows in a table that supports atomic commits, snapshot
isolation, time travel, and metadata-level file pruning — the Iceberg
feature set. This container has no Iceberg jars, so ``IceTable``
implements the *format contract* directly on the filesystem, shaped so
that a real Iceberg catalog drops in behind the same four calls
(``create / append / overwrite_partitions / scan``):

    <root>/data/commit-<uuid>/[part=.../]*.parquet   immutable data files
    <root>/metadata/snap-<N>-<nonce>.manifest.json   immutable manifest
                                                     (file list + stats);
                                                     snapshots hold LISTS
                                                     of these, reused
                                                     across commits
    <root>/metadata/v<N>.metadata.json               schema, partition spec,
                                                     snapshot log, current id;
                                                     the highest N is current

Correctness properties (all pytest-pinned in tests/test_icetable.py):

* **Atomic, optimistic commits** — a commit writes the whole next
  metadata to a temp file and hard-links it to ``v<N+1>.metadata.json``;
  the link fails if that name exists, so two writers racing on the same
  parent version get exactly one winner, the loser raises
  :class:`CommitConflict` (retryable: restage nothing, just re-resolve
  the parent — data files are immutable and commit-scoped). A reader
  never sees a half-written version; no file is renamed onto another.
* **Snapshot isolation / time travel** — a reader pinned to snapshot S
  sees exactly S's file list regardless of later commits;
  ``scan(snapshot_id=...)`` is the time-travel read.
* **Metadata pruning** — per-file partition values (parsed from the
  Hive-style path) plus per-column min/max/null-count harvested from
  the parquet FOOTERS at commit time (no data read, the real-Iceberg
  posture) let ``plan_files`` drop files a predicate cannot match
  before Spark ever lists them. At 10^12 docs this is the difference
  between touching 3 of 100k files and listing all of them.

Scale notes (round 3): snapshots reference a **manifest LIST** of
immutable manifest files — an append reuses every parent manifest by
name and writes ONE new manifest holding only the new entries, so
commit metadata IO is O(new files + #manifests), never O(table
files); a dynamic-partition overwrite rewrites only the manifests
that contain a touched partition. Stats are collected footer-only,
so ``append`` costs one Spark write + one driver-side footer sweep of
the NEW files only — never a re-scan. Designated ``bloom_cols`` get
per-file Bloom sidecars (puffin-style) for point-lookup pruning.
"""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
import re
import uuid
from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession

from json_schema_spark.session import local_frame


class CommitConflict(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency). Safe to retry: re-read current metadata and re-commit
    the same staged files."""


# the Hive path value Spark writes for a NULL or empty-string partition
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

_STATS_TYPES = ("INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY", "INT96")


def _file_entry(path: str, partition_by: tuple[str, ...]) -> dict:
    """One manifest entry: partition values from the Hive path +
    min/max/null-count per top-level column from the parquet footer
    (metadata-only read; no row data touched)."""
    import pyarrow.parquet as pq

    from urllib.parse import unquote

    parts: dict[str, str] = {}
    for seg in path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_by:
                # Spark %-escapes special chars (':', '/', …) in Hive
                # partition dir names; manifests store the REAL value
                parts[k] = unquote(v)
    md = pq.ParquetFile(path).metadata
    stats: dict[str, dict] = {}
    # a column's file-level min/max is valid ONLY if every row group
    # contributed usable stats — a gap (absent stats, undecodable
    # bytes) must mark the whole column unknown, or pruning would
    # claim a range that misses the gappy row group's values
    incomplete: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema.split(".")[0]
            if "." in col.path_in_schema:
                continue  # nested leaves never get file-level stats
            s = col.statistics
            if s is None or not s.has_min_max:
                incomplete.add(name)
                continue
            mn, mx = s.min, s.max
            kind = "num"
            if isinstance(mn, str):
                # pyarrow decodes UTF8 BYTE_ARRAY stats to str itself
                kind = "str"
            elif isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    incomplete.add(name)
                    continue
                kind = "str"
            elif isinstance(mn, (datetime, date)):
                # JSON-safe, and ISO order == value order among
                # same-shape ISO strings; the "ts" kind tag stops
                # _entry_may_match from lexicographically comparing a
                # plain string literal (e.g. '2024-01-02') against
                # these — that comparison is NOT value order once the
                # literal is shorter than the serialized stat
                kind = "ts"
                mn, mx = mn.isoformat(), mx.isoformat()
            elif isinstance(mn, Decimal):
                # widen OUTWARD: float rounding toward the range's
                # interior would make pruning non-conservative
                mn = math.nextafter(float(mn), -math.inf)
                mx = math.nextafter(float(mx), math.inf)
            prev = stats.get(name)
            if prev is None:
                stats[name] = {"min": mn, "max": mx, "kind": kind,
                               "nulls": s.null_count or 0}
            else:
                prev["min"] = min(prev["min"], mn)
                prev["max"] = max(prev["max"], mx)
                prev["nulls"] += s.null_count or 0
    for name in incomplete:
        stats.pop(name, None)
    return {
        "path": path,
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "partition": parts,
        "stats": stats,
    }


# -- per-file Bloom filters (point-lookup pruning) --------------------------
# At 10^12 rows, "find this url" through min/max stats alone touches
# every file whose [min,max] straddles the key — nearly all of them for
# high-cardinality columns. A per-file Bloom on designated columns
# (IceTable.create(..., bloom_cols=["url"])) prunes to the files that
# MIGHT contain the key: ~10 bits/row, ~1% false positives, never a
# false negative (pruning stays conservative). Bits live in immutable
# sidecar files next to each data file (the Iceberg-puffin shape);
# manifest entries carry only the sidecar path.

_BLOOM_MAX_BITS = 1 << 17  # cap manifest growth; fpp degrades, never drops rows
_BLOOM_K = 7


def _bloom_hashes(value: Any) -> tuple[int, int]:
    import hashlib as _hl

    d = _hl.blake2b(str(value).encode("utf-8"), digest_size=16).digest()
    return (int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little") | 1)


def _bloom_build(values, n_rows: int) -> dict:
    m = max(64, min(_BLOOM_MAX_BITS, 10 * max(1, n_rows)))
    bits = bytearray((m + 7) // 8)
    for v in values:
        if v is None:
            continue
        h1, h2 = _bloom_hashes(v)
        for i in range(_BLOOM_K):
            b = (h1 + i * h2) % m
            bits[b >> 3] |= 1 << (b & 7)
    import base64

    return {"m": m, "k": _BLOOM_K,
            "bits": base64.b64encode(bytes(bits)).decode()}


def _bloom_load(path: str, _cache: dict = {}) -> dict:
    """Lazy sidecar read with a small positive cache (sidecars are
    immutable, named by their data file). Missing/corrupt sidecar =>
    no bloom => conservative keep."""
    if path in _cache:
        return _cache[path]
    try:
        with open(path) as f:
            blooms = json.load(f)
    except (OSError, ValueError):
        blooms = {}
    if len(_cache) > 4096:
        _cache.clear()
    _cache[path] = blooms
    return blooms


def _bloom_might_contain(bloom: dict, value: Any) -> bool:
    import base64

    bits = base64.b64decode(bloom["bits"])
    m, k = bloom["m"], bloom["k"]
    h1, h2 = _bloom_hashes(value)
    for i in range(k):
        b = (h1 + i * h2) % m
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return False
    return True


def _entry_may_match(entry: dict, col: str, op: str, lit: Any) -> bool:
    """Conservative file-level predicate: False ONLY when the file
    provably contains no matching row. Unknown columns / missing stats
    keep the file (never prune on absence of evidence)."""
    if op == "in":
        return any(_entry_may_match(entry, col, "=", v) for v in lit)
    pv = entry["partition"].get(col)
    if pv == HIVE_DEFAULT_PARTITION:
        return False  # the file's value reads as NULL, which matches nothing
    if pv is not None:
        # partition values are exact (one value per file)
        v: Any = pv
        if isinstance(lit, bool):
            v = pv.lower() == "true"  # bool("false") is True — not that
        elif not isinstance(lit, str):
            try:
                v = type(lit)(pv)
            except (TypeError, ValueError):
                return True
        return _cmp(op, v, v, lit)
    if (op == "=" and isinstance(lit, (str, int))
            and not isinstance(lit, bool) and "bloom_ref" in entry):
        bl = _bloom_load(entry["bloom_ref"]).get(col)
        if bl is not None and not _bloom_might_contain(bl, lit):
            return False  # definitely absent (no false negatives)
    st = entry["stats"].get(col)
    if st is None:
        return True
    # stats tagged with their SOURCE kind: only compare a literal
    # against stats of the same provenance. A string literal vs
    # timestamp stats (serialized to ISO strings) is NOT value order —
    # '2024-01-02' < '2024-01-02T00:00:00' lexicographically, yet
    # Spark's residual filter coerces the literal and matches rows in
    # that file; pruning it would silently drop rows. Unknown kind
    # (pre-tag manifests) is only trusted for numeric-vs-numeric.
    kind = st.get("kind")
    if isinstance(lit, str):
        if kind != "str":
            return True
        return _cmp(op, st["min"], st["max"], lit)
    if isinstance(lit, (datetime, date)):
        if kind != "ts":
            return True
        # ISO order == instant order only among same-offset strings: a
        # +05:00 literal vs +00:00 stats compares in the wrong order
        # (05:00+05:00 == midnight UTC but sorts after it), falsely
        # pruning files Spark's instant-based residual would match. So:
        # tz-aware literals are normalized to UTC and compared ONLY
        # against stats that themselves carry a UTC-form offset; any
        # other shape mismatch keeps the file.
        def _tz(s: str) -> bool:
            return s.endswith("Z") or ("+" in s[10:]) or ("-" in s[10:])
        def _utc(s: str) -> bool:
            return s.endswith(("Z", "+00:00", "-00:00"))
        if isinstance(lit, datetime) and lit.tzinfo is not None:
            if not (_utc(st["min"]) and _utc(st["max"])):
                return True
            iso = lit.astimezone(timezone.utc).isoformat()
            smin = st["min"].replace("Z", "+00:00")
            smax = st["max"].replace("Z", "+00:00")
            return _cmp(op, smin, smax, iso)
        iso = lit.isoformat()
        if _tz(iso) != _tz(st["min"]) or (len(iso) > 10) != (len(st["min"]) > 10):
            return True
        return _cmp(op, st["min"], st["max"], iso)
    if isinstance(st["min"], str):
        return True
    return _cmp(op, st["min"], st["max"], lit)


def _cmp(op: str, mn: Any, mx: Any, lit: Any) -> bool:
    if op == "=":
        return mn <= lit <= mx
    if op == "<":
        return mn < lit
    if op == "<=":
        return mn <= lit
    if op == ">":
        return mx > lit
    if op == ">=":
        return mx >= lit
    if op == "in":
        return any(mn <= v <= mx for v in lit)
    raise ValueError(f"unsupported pruning op {op!r}")


def require_local_path(path: str) -> str:
    """Reject a URI (``s3://...``, ``hdfs://...``, ``file:///...``).

    Table metadata is read and written with ``open`` and a commit
    lists its staged data files with ``glob``, so a root must be a
    local or mounted POSIX path: under a URI, Spark would write the
    files remotely and the commit would record none of them."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:/", path):
        raise ValueError(f"{path!r} is a URI; IceTable roots must be local "
                         "or mounted POSIX paths")
    return path


@dataclass
class IceTable:
    """Handle to one snapshot table rooted at ``root`` (a local or
    mounted POSIX path, see :func:`require_local_path`)."""

    spark: SparkSession
    root: str

    def __post_init__(self):
        require_local_path(self.root)

    # -- metadata plumbing --------------------------------------------------
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    def _current_version(self) -> int:
        """The highest N of a ``v<N>.metadata.json`` (dense from ``v0``),
        by a galloping probe as in Iceberg's Hadoop tables; a
        ``version-hint.text`` is ignored. -1 when there is no table."""
        def missing(v: int) -> bool:
            return not os.path.exists(
                os.path.join(self._meta_dir, f"v{v}.metadata.json"))

        hi = 1
        while not missing(hi):
            hi *= 2
        # v<hi // 2> exists (or there is no table), v<hi> does not
        return bisect.bisect_left(range(hi), True, lo=hi // 2, key=missing) - 1

    def _read_meta(self, version: int | None = None) -> dict:
        v = self._current_version() if version is None else version
        with open(os.path.join(self._meta_dir, f"v{v}.metadata.json")) as f:
            meta = json.load(f)
        meta["_version"] = v
        return meta

    @staticmethod
    def _snap_manifests(snap_entry: dict) -> list[str]:
        """A snapshot's manifest names (legacy single-'manifest'
        entries read as a one-element list)."""
        if "manifests" in snap_entry:
            return list(snap_entry["manifests"])
        return [snap_entry["manifest"]]

    def _read_manifest(self, snapshot_id: int, meta: dict | None = None) -> list[dict]:
        meta = meta if meta is not None else self._read_meta()
        entry = next((s for s in meta["snapshots"] if s["id"] == snapshot_id),
                     None)
        if entry is None:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} is not in the table's history "
                "(expired or never existed)")
        files: list[dict] = []
        for name in self._snap_manifests(entry):
            with open(os.path.join(self._meta_dir, name)) as f:
                files.extend(json.load(f)["files"])
        return files

    def _publish(self, name: str, obj, indent: int | None = None) -> None:
        """Write ``obj`` as the new metadata file ``name``, whole or not
        at all: a temp file hard-linked to ``name`` (FileExistsError if
        it exists). A crash leaves at most a ``*.tmp`` file."""
        tmp = os.path.join(self._meta_dir, f"{name}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=indent)
        try:
            os.link(tmp, os.path.join(self._meta_dir, name))
        finally:
            os.unlink(tmp)

    def _write_next_metadata(self, parent_meta: dict, meta: dict):
        """Publish the next metadata version; the exclusive link is the
        lock — the ONE commit-protocol implementation every metadata
        mutation (commit, expiry) goes through."""
        next_v = parent_meta["_version"] + 1
        try:
            self._publish(f"v{next_v}.metadata.json", meta, indent=1)
        except FileExistsError:
            raise CommitConflict(
                f"version v{next_v} already committed by another writer")

    def _write_manifest(self, snap_id: int, files: list[dict]) -> str:
        # manifest names carry a commit-attempt nonce: two racers on
        # the same parent NEVER collide on a manifest path, so a loser
        # can clean up its OWN manifests without touching the winner's
        name = f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.manifest.json"
        self._publish(name, {"snapshot_id": snap_id, "files": files})
        return name

    def _commit(self, parent_meta: dict, op: str, summary: dict,
                schema: str | None = None, *,
                new_entries: list[dict] = (),
                drop_pred=None, replace_all: bool = False) -> int:
        """Manifest-LIST commit (the Iceberg metadata-scale shape):
        a snapshot references a list of immutable manifest files.

        * ``append`` reuses every parent manifest BY NAME and writes
          one new manifest holding only the new entries — metadata IO
          is O(new files + #manifests), never O(table files).
        * ``drop_pred`` (dynamic-partition overwrite) rewrites ONLY
          the parent manifests that actually contain dropped entries;
          untouched manifests are reused by name.
        * ``replace_all`` (compaction) starts from an empty list.

        The exclusive link of the next metadata version remains the
        atomic optimistic lock; each snapshot records the schema in
        force when it committed (time-travel reads see the schema of
        their era, the Iceberg schema-id contract)."""
        snap_id = (parent_meta.get("current_snapshot_id") or 0) + 1
        created: list[str] = []
        manifests: list[str] = []
        try:
            if not replace_all and parent_meta.get("current_snapshot_id"):
                parent_snap = next(
                    s for s in parent_meta["snapshots"]
                    if s["id"] == parent_meta["current_snapshot_id"])
                for name in self._snap_manifests(parent_snap):
                    if drop_pred is None:
                        manifests.append(name)
                        continue
                    with open(os.path.join(self._meta_dir, name)) as f:
                        entries = json.load(f)["files"]
                    kept = [e for e in entries if not drop_pred(e)]
                    if len(kept) == len(entries):
                        manifests.append(name)  # untouched: reuse
                    elif kept:
                        nm = self._write_manifest(snap_id, kept)
                        created.append(nm)
                        manifests.append(nm)
                    # fully-dropped manifests simply disappear
            if new_entries:
                nm = self._write_manifest(snap_id, list(new_entries))
                created.append(nm)
                manifests.append(nm)

            meta = {
                "schema": schema or parent_meta["schema"],
                "partition_by": parent_meta["partition_by"],
                "bloom_cols": parent_meta.get("bloom_cols", []),
                "current_snapshot_id": snap_id,
                "snapshots": parent_meta["snapshots"] + [{
                    "id": snap_id,
                    "parent_id": parent_meta.get("current_snapshot_id"),
                    "operation": op,
                    "manifests": manifests,
                    "schema": schema or parent_meta["schema"],
                    "summary": summary,
                    "timestamp": datetime.now(timezone.utc).isoformat(),
                }],
            }
            self._write_next_metadata(parent_meta, meta)
        except CommitConflict:
            for nm in created:  # our own uncommitted manifests only
                os.unlink(os.path.join(self._meta_dir, nm))
            raise
        return snap_id

    # -- public API ----------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, root: str, schema_ddl: str,
               partition_by: Iterable[str] = (),
               bloom_cols: Iterable[str] = ()) -> "IceTable":
        """``bloom_cols``: string/int columns that get a per-file Bloom
        filter in the manifest — point-lookup (=) pruning on
        high-cardinality keys (url at 10^12 rows) where min/max stats
        can't discriminate. Conservative: ~1% false-positive KEEPS,
        never a false drop."""
        t = cls(spark, root)
        os.makedirs(t._meta_dir, exist_ok=True)
        meta = {
            "schema": schema_ddl,
            "partition_by": list(partition_by),
            "bloom_cols": list(bloom_cols),
            "current_snapshot_id": None,
            "snapshots": [],
        }
        t._publish("v0.metadata.json", meta, indent=1)
        return t

    def _check_columns(self, df: DataFrame | pa.Table, meta: dict) -> None:
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import from_arrow_schema

        declared = {f.name: f.dataType.simpleString() for f in
                    T._parse_datatype_string(meta["schema"]).fields}
        schema = (df.schema if isinstance(df, DataFrame)
                  else from_arrow_schema(df.schema))
        extra = set(schema.names) - set(declared)
        if extra:
            raise ValueError(
                f"columns {sorted(extra)} not in table schema — run "
                "evolve_schema() first (additive evolution)")
        # scans read every file under the declared types, so a file
        # written with another type could not be decoded
        retyped = sorted(
            f"{f.name} {f.dataType.simpleString()} (table: {declared[f.name]})"
            for f in schema.fields
            if f.dataType.simpleString() != declared[f.name])
        if retyped:
            raise ValueError(
                f"columns {retyped} do not match the table schema types — "
                "cast them to the declared types first")

    def _stage(self, df: DataFrame | pa.Table, partition_by: list[str],
               bloom_cols: list[str] | None = None) -> list[dict]:
        """Write ``df`` as new data files under a fresh commit dir and
        return their manifest entries. A DataFrame is written by a Spark
        job; a ``pyarrow.Table`` (a few driver-side rows) is written by
        the driver, in the same Hive layout (:meth:`_write_arrow`)."""
        stage = os.path.join(self.root, "data", f"commit-{uuid.uuid4().hex}")
        if isinstance(df, DataFrame):
            w = df.write.mode("error")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(stage)
        else:
            self._write_arrow(df, stage, partition_by)
        files = sorted(glob.glob(os.path.join(stage, "**", "*.parquet"),
                                 recursive=True))
        entries = [_file_entry(p, tuple(partition_by)) for p in files]
        # per-file Bloom filters for the table's designated point-lookup
        # columns: one extra columnar read of just those columns per NEW
        # file, at write time only. (This loop is driver-side — at real
        # scale the same bloom is computed distributed: read the staged
        # dir, groupBy(input_file_name()), fold bits in a pandas UDF —
        # the stored artifact is identical.)
        for e in entries:
            blooms = {}
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(e["path"])
            present = [c for c in (bloom_cols or [])
                       if c in pf.schema_arrow.names]
            if present:
                tbl = pq.read_table(e["path"], columns=present)
                for c in present:
                    vals = tbl[c].to_pylist()
                    if all(v is None or (isinstance(v, (str, int))
                                         and not isinstance(v, bool))
                           for v in vals):
                        blooms[c] = _bloom_build(vals, e["rows"])
            if blooms:
                # SIDECAR, not inline (the Iceberg-puffin trade): the
                # manifest is rewritten whole on EVERY commit, so
                # 16 KiB of bits per file inline would turn each
                # commit's metadata IO from O(entries) to O(data-ish).
                # The sidecar is immutable next to its data file —
                # written once, referenced by path, read lazily only
                # for '=' lookups on bloom columns.
                side = e["path"] + ".bloom.json"
                with open(side + ".tmp", "w") as f:
                    json.dump(blooms, f)
                os.replace(side + ".tmp", side)
                e["bloom_ref"] = side
        return entries

    def _write_arrow(self, table: pa.Table, stage: str,
                     partition_by: list[str]) -> None:
        """One parquet file per partition value, under the directory
        Spark's partitioned write would give it: names and values
        escaped by Spark's own ``ExternalCatalogUtils.escapePathName``,
        NULL and ``""`` written as Hive's default partition. Partition
        columns must be strings, whose path form is the value itself."""
        import pyarrow.parquet as pq

        for c in partition_by:
            if not pa.types.is_string(table.schema.field(c).type):
                raise ValueError(f"partition column {c!r} of a driver-side "
                                 "write must be a string column")
        escape = (self.spark._jvm.org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.escapePathName)
        keys = (zip(*(table[c].to_pylist() for c in partition_by)) if partition_by
                else [()] * table.num_rows)
        rows: dict[tuple, list[int]] = {}
        for i, key in enumerate(keys):
            rows.setdefault(tuple(v or None for v in key), []).append(i)
        data = table.drop_columns(partition_by)
        names = [escape(c) for c in partition_by]
        for key, idx in rows.items():
            part = os.path.join(stage, *(
                f"{c}={HIVE_DEFAULT_PARTITION if v is None else escape(v)}"
                for c, v in zip(names, key)))
            os.makedirs(part)
            pq.write_table(data.take(idx), os.path.join(
                part, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"))

    def append(self, df: DataFrame, summary: dict | None = None) -> int:
        """Stage ``df`` as immutable data files, then commit a new
        snapshot = parent's files + the new ones. Returns snapshot id.
        On :class:`CommitConflict`, retry by calling append again (the
        retry re-stages; the conflict-aborted staging is unreferenced
        debris that :meth:`remove_orphan_files` sweeps). ``summary``
        adds caller
        keys to the snapshot summary (e.g. a streaming batch id for
        exactly-once sinks)."""
        meta = self._read_meta()
        self._check_columns(df, meta)
        new = self._stage(df, meta["partition_by"],
                          meta.get("bloom_cols"))
        # manifest-list append: parent manifests reused by NAME, one new
        # manifest for the new entries — metadata IO O(new), not O(table)
        return self._commit(
            meta, "append",
            {"added_files": len(new),
             "added_rows": sum(e["rows"] for e in new),
             **(summary or {})},
            new_entries=new,
        )

    def overwrite_partitions(self, df: DataFrame | pa.Table,
                             partitions: Iterable = (),
                             summary: dict | None = None) -> int:
        """Dynamic-partition overwrite: replace exactly the partitions
        present in ``df`` plus those named in ``partitions`` (the
        MERGE-ish idempotent-redo primitive the runner's checkpoint
        resume needs). A named partition with no rows in ``df`` is
        dropped. Naming partitions needs a table with one partition
        column; values compare as the strings the Hive paths hold.
        ``df`` may be a ``pyarrow.Table`` of driver-side rows, written
        without a Spark job (:meth:`_stage`). ``summary`` adds caller
        keys to the snapshot summary, as in :meth:`append`."""
        meta = self._read_meta()
        pcols = meta["partition_by"]
        if not pcols:
            raise ValueError("overwrite_partitions requires a partitioned table")
        partitions = list(partitions)
        if partitions and len(pcols) != 1:
            raise ValueError("naming partitions to overwrite needs exactly "
                             f"one partition column, not {pcols}")
        self._check_columns(df, meta)
        named = {((pcols[0], str(p)),) for p in partitions}
        new = self._stage(df, pcols, meta.get("bloom_cols"))
        touched = named | {tuple(sorted(e["partition"].items())) for e in new}
        # only parent manifests CONTAINING a touched partition get
        # rewritten (filtered); the rest are reused by name
        return self._commit(
            meta, "overwrite",
            {"replaced_partitions": len(touched), "added_files": len(new),
             **(summary or {})},
            new_entries=new,
            drop_pred=lambda e:
                tuple(sorted(e["partition"].items())) in touched,
        )

    def evolve_schema(self, new_schema_ddl: str) -> int:
        """Additive schema evolution: commit a snapshot with the same
        files but a widened schema. Columns may only be ADDED (old data
        files read back with NULLs for new columns under the declared-
        schema read); drops/renames are the catalog's job and are
        rejected here."""
        meta = self._read_meta()
        from pyspark.sql import types as T

        old = {f.name: f.dataType for f in
               T._parse_datatype_string(meta["schema"]).fields}
        new = {f.name: f.dataType for f in
               T._parse_datatype_string(new_schema_ddl).fields}
        if not set(old) <= set(new):
            raise ValueError(
                "schema evolution is additive-only; missing "
                f"{sorted(set(old) - set(new))}")
        retyped = [k for k, dt in old.items() if new[k] != dt]
        if retyped:
            raise ValueError(
                f"schema evolution is additive-only; cannot change the "
                f"type of existing columns {sorted(retyped)}")
        # same files, wider schema: every parent manifest reused verbatim
        return self._commit(meta, "evolve-schema",
                            {"added_columns": sorted(set(new) - set(old))},
                            schema=new_schema_ddl)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                cluster_by: list[str] | None = None) -> int:
        """Rewrite the current snapshot into fewer, larger files
        (op="replace": same rows, new layout). Streaming sinks commit
        one small file set per micro-batch — the classic small-file
        problem; compaction is how the table stays scannable. Old files
        remain on disk until :meth:`expire_snapshots`, so time travel
        to pre-compaction snapshots keeps working.

        ``cluster_by`` additionally RANGE-clusters the rewrite on the
        given columns (Iceberg's rewrite-with-sort-order): a range
        repartition + in-partition sort gives each output file a
        DISJOINT min/max window on those columns, so the manifest
        stats pruning in :meth:`plan_files` goes from keep-everything
        (every file spans the full value range after random appends)
        to O(files-overlapping-the-predicate) for point and range
        filters — the cheap alternative to a Bloom sidecar when reads
        filter by RANGE rather than equality. The range sampling is
        one extra pass over the input, paid at maintenance time only.
        """
        meta = self._read_meta()
        cur = meta["current_snapshot_id"]
        if cur is None:
            raise ValueError("nothing to compact: table has no snapshots")
        entries = self._read_manifest(cur, meta)
        total = sum(e["bytes"] for e in entries)
        n_files = max(1, -(-total // target_file_bytes))  # ceil
        df = self.scan()
        if cluster_by:
            # partition columns lead the range key so a partitioned
            # table still co-locates each partition value before the
            # in-partition cluster ordering
            cols = [*(meta["partition_by"] or []), *cluster_by]
            df = (df.repartitionByRange(n_files, *cols)
                    .sortWithinPartitions(*cols))
        elif meta["partition_by"]:
            # co-locate each partition value in one task: a round-robin
            # repartition before partitionBy would emit up to
            # n_files x |partitions| files — WORSE than before
            df = df.repartition(n_files, *meta["partition_by"])
        else:
            df = df.repartition(n_files)
        new = self._stage(df, meta["partition_by"],
                          meta.get("bloom_cols"))
        summary = {"compacted_files": len(entries), "new_files": len(new),
                   "rows": sum(e["rows"] for e in new)}
        if cluster_by:
            summary["cluster_by"] = list(cluster_by)
        return self._commit(
            meta, "replace", summary,
            new_entries=new, replace_all=True,
        )

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the last ``keep_last`` snapshots and DELETE
        data files no kept snapshot references (the irreversible half
        of compaction). Metadata rewrite takes the same version lock as
        a commit; file deletion happens only after the new
        metadata is current, so a crash mid-expiry leaves a readable
        table with some garbage, never a broken one."""
        if keep_last < 1:
            # snaps[-0:] would slice the WHOLE list — a silent no-op —
            # and the current snapshot must survive anyway
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        meta = self._read_meta()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return {"expired": 0, "deleted_files": 0}
        kept, expired = snaps[-keep_last:], snaps[:-keep_last]
        referenced: set[str] = set()
        for s in kept:
            referenced |= {e["path"] for e in self._read_manifest(s["id"], meta)}
        doomed: set[str] = set()
        for s in expired:
            doomed |= {e["path"] for e in self._read_manifest(s["id"], meta)}
        doomed -= referenced

        new_meta = dict(meta, snapshots=kept)
        new_meta.pop("_version", None)
        self._write_next_metadata(meta, new_meta)
        # only now is it safe to delete: no reader resolves the old meta
        for p in doomed:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
            try:  # a data file's bloom sidecar dies with it
                os.unlink(p + ".bloom.json")
            except FileNotFoundError:
                pass
        kept_manifests: set[str] = set()
        for s in kept:
            kept_manifests.update(self._snap_manifests(s))
        for s in expired:
            # manifests may be SHARED with kept snapshots (reuse-by-
            # name): delete only the ones no kept snapshot references
            for name in self._snap_manifests(s):
                if name in kept_manifests:
                    continue
                try:
                    os.unlink(os.path.join(self._meta_dir, name))
                except FileNotFoundError:
                    pass
        return {"expired": len(expired), "deleted_files": len(doomed)}

    def files_added_since(self, snapshot_id: int | None,
                          filters: list[tuple[str, str, Any]] | None = None,
                          _meta: dict | None = None) -> list[dict]:
        """The current snapshot's file entries (pruned by ``filters``)
        that ``snapshot_id`` does not hold; ``None`` means every
        current entry. Files are immutable, so the diff of manifests
        IS the diff of rows for append-only history; overwrites
        replace files, whose rows then (correctly) reappear in the
        diff. Pure metadata, like :meth:`plan_files`. Raises
        FileNotFoundError when ``snapshot_id`` was expired."""
        meta = _meta if _meta is not None else self._read_meta()
        old: set[str] = set()
        if snapshot_id is not None:
            old = {e["path"] for e in self._read_manifest(snapshot_id, meta)}
        return [e for e in self.plan_files(filters, _meta=meta)
                if e["path"] not in old]

    def scan_added_since(self, snapshot_id: int,
                         filters: list[tuple[str, str, Any]] | None = None,
                         ) -> DataFrame:
        """Incremental read: only the rows in data files added AFTER
        ``snapshot_id`` (the Iceberg incremental-scan contract, over
        :meth:`files_added_since`). This is what makes continuous
        validation O(new data): history is never rescanned."""
        meta = self._read_meta()
        entries = self.files_added_since(snapshot_id, filters, _meta=meta)
        return self._read_entries(entries, meta, meta["schema"], filters)

    def remove_orphan_files(self, older_than_s: float = 3600.0) -> dict:
        """Delete data files and manifests referenced by NO snapshot in
        the current history — the debris of conflict-aborted or crashed
        commits (whose staged commit-<uuid> dirs are referenced by
        nothing, and whose unlinked ``*.tmp`` metadata writes count as
        manifests here) and of expired eras. ``older_than_s`` is the safety
        grace: files younger than it may belong to an IN-FLIGHT commit
        that has staged but not yet taken the version lock, so they are
        left alone (the standard Iceberg remove_orphan_files posture)."""
        import time as _time

        meta = self._read_meta()
        referenced: set[str] = set()
        manifests: set[str] = set()
        for s in meta["snapshots"]:
            manifests.update(self._snap_manifests(s))
            referenced |= {e["path"]
                           for e in self._read_manifest(s["id"], meta)}
        cutoff = _time.time() - older_than_s
        deleted = {"data_files": 0, "manifests": 0}
        for p in glob.glob(os.path.join(self.root, "data", "**", "*.parquet"),
                           recursive=True):
            if p not in referenced and os.path.getmtime(p) < cutoff:
                os.unlink(p)
                deleted["data_files"] += 1
                try:  # bloom sidecar is debris of the same commit
                    os.unlink(p + ".bloom.json")
                except FileNotFoundError:
                    pass
        for pat in ("snap-*.manifest.json", "*.tmp"):
            for p in glob.glob(os.path.join(self._meta_dir, pat)):
                if os.path.basename(p) not in manifests \
                        and os.path.getmtime(p) < cutoff:
                    os.unlink(p)
                    deleted["manifests"] += 1
        # prune directories emptied by data-file deletion (commit-<uuid>
        # roots and Hive partition dirs under them)
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirs, _files in os.walk(data_root, topdown=False):
            # re-listdir: the walk's cached names don't see children
            # rmdir'd earlier in this same bottom-up pass
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return deleted

    def snapshots(self) -> list[dict]:
        return self._read_meta()["snapshots"]

    def plan_files(self, filters: list[tuple[str, str, Any]] | None = None,
                   snapshot_id: int | None = None,
                   _meta: dict | None = None) -> list[dict]:
        """Manifest-level scan planning: the file entries a read with
        ``filters`` (conjunctive (col, op, literal) triples) must touch.
        Pure driver-side metadata — no file listing, no data read.
        ``_meta`` lets scan() pass its already-resolved metadata so one
        read pins both the file list and the schema to one snapshot."""
        meta = _meta if _meta is not None else self._read_meta()
        snap = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
        if snap is None:
            return []
        entries = self._read_manifest(snap, meta)
        for col, op, lit in (filters or []):
            entries = [e for e in entries if _entry_may_match(e, col, op, lit)]
        return entries

    def scan(self, filters: list[tuple[str, str, Any]] | None = None,
             snapshot_id: int | None = None) -> DataFrame:
        """Read the (pruned) snapshot as a DataFrame. The residual
        filter is re-applied exactly so pruning is a pure optimization:
        scan(filters) ≡ scan().filter(filters) row-for-row."""
        meta = self._read_meta()  # ONE read pins file list + schema
        entries = self.plan_files(filters, snapshot_id, _meta=meta)

        # schema of the requested era: time travel reads under the
        # schema its snapshot committed with (the Iceberg schema-id
        # contract); .get covers metadata written before evolution
        schema_ddl = meta["schema"]
        if snapshot_id is not None:
            schema_ddl = next(
                (s.get("schema") or meta["schema"]
                 for s in meta["snapshots"] if s["id"] == snapshot_id),
                meta["schema"])
        return self._read_entries(entries, meta, schema_ddl, filters)

    def _read_entries(self, entries: list[dict], meta: dict,
                      schema_ddl: str,
                      filters: list[tuple[str, str, Any]] | None) -> DataFrame:
        """Read a pinned file-entry list under ``schema_ddl``: declared-
        schema parquet read, partition-column recovery, projection to
        the declared order, residual filters. No entries give an empty
        frame with no partitions."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if not entries:
            return local_frame(self.spark, [], schema_ddl)
        declared = T._parse_datatype_string(schema_ddl)
        declared_types = {f.name: f.dataType for f in declared.fields}
        # the declared schema, not an inferred one: no schema-inference
        # job, and files written before an additive evolution read the
        # columns they lack as NULL (append/overwrite_partitions keep
        # every file's types equal to the declared ones)
        data_schema = T.StructType([f for f in declared.fields
                                    if f.name not in meta["partition_by"]])
        df = self.spark.read.schema(data_schema).parquet(
            *[e["path"] for e in entries])
        if meta["partition_by"]:
            # Hive-style dirs under differing commit roots: recover the
            # partition columns from the path (basePath varies per
            # commit, so Spark's auto-inference can't merge them),
            # un-escape them, and cast to the DECLARED type. Hive's
            # default partition reads as NULL, as in Spark's own
            # partition discovery (an empty string included).

            # input_file_name() URI-encodes the path, which wraps the
            # Hive partition escaping -> decode TWICE; url_decode is
            # form-style, so protect literal '+' before each pass
            def _dec(c: Column) -> Column:
                return F.url_decode(F.regexp_replace(c, r"\+", "%2B"))

            import re as _re

            for pcol in meta["partition_by"]:
                # anchor on a path-segment start: unanchored, "id="
                # would match inside ".../pid=7/..."
                raw = _dec(_dec(F.regexp_extract(
                    F.input_file_name(),
                    rf"(?:^|/){_re.escape(pcol)}=([^/]+)", 1)))
                df = df.withColumn(pcol, F.nullif(raw, F.lit(HIVE_DEFAULT_PARTITION))
                                   .cast(declared_types.get(pcol, T.StringType())))
        # project to the era's schema: stable column order
        df = df.select(*[f.name for f in declared.fields])
        for col, op, lit in (filters or []):
            c = F.col(col)
            df = df.filter({"=": c == lit, "<": c < lit, "<=": c <= lit,
                            ">": c > lit, ">=": c >= lit,
                            "in": c.isin(list(lit) if op == "in" else [lit])}[op])
        return df
