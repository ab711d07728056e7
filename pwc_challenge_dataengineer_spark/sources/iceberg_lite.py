"""Iceberg-lite: jar-free reader/committer for the Apache Iceberg v1
TABLE LAYOUT — versioned metadata JSON, Avro manifest lists, Avro
manifests, partition-pruned parquet scans, snapshot time travel.

The lakehouse story so far covered Delta (sources/delta_log.py: full log
replay, column mapping, deletion vectors, time travel). Iceberg is the
other table format a user of the reference would point this engine at,
and its metadata plane is exactly the machinery this repo already has
jar-free: manifest lists and manifests are Avro OBJECT CONTAINER FILES
(read/written here through avrolite's encoder/decoder), table metadata
is JSON, and data files are parquet (Spark-native). What this module
implements, per the public Iceberg spec (v1):

- ``commit_snapshot``: append/delete files transactionally — each commit
  writes a NEW manifest (carrying prior active files as status=0
  EXISTING entries, additions as status=1 ADDED, removals as status=2
  DELETED), a new manifest list ``snap-<id>.avro``, and the next
  ``v<N>.metadata.json`` with the full snapshot history.
- ``scan``: pick a snapshot (current or by id — TIME TRAVEL), walk
  manifest list -> manifests, drop DELETED entries, prune files whose
  IDENTITY-TRANSFORM partition value fails the predicate WITHOUT opening
  them, and hand the surviving parquet paths to Spark's native reader.

Scale posture: manifest processing is the metadata plane — kilobytes per
thousand files, driver-side by design in every Iceberg engine — while
the data plane stays Spark's distributed parquet scan. Format-version 2
(positional/equality delete files, sequence numbers, merge-on-read) is
implemented in the v2 section at the bottom of this module; SCHEMA
EVOLUTION on read (field-id column resolution across rename/add/drop,
per-snapshot schema ids — see ``set_schema`` / ``scan_evolved``) closed
the r10 gate; non-identity transforms cover bucket/truncate AND
days/hours (plans/lakehouse.py time-transform queries). Honest gap
(raised, not mangled): embedding field ids
in the parquet files themselves for EXTERNAL readers (the lite layer
resolves them from table metadata instead).

Reference parity: the reference exposes lake-format export/ingest in its
storage registry (see /root/reference/README.md data-lake sections);
this supplies the Iceberg leg next to the Delta one.
"""

from __future__ import annotations

import io
import json
import os
import zlib

from .avrolite import (
    MAGIC,
    _decoder,
    _encoder,
    _Named,
    _read_header,
    _read_long,
    _write_long,
)
from .commit import write_atomic

# ------------------------------------------------------- generic OCF io


def write_ocf(path: str, schema: dict, rows: list[tuple]) -> None:
    """Driver-side Avro Object Container File writer (deflate codec) for
    metadata-plane files; reuses avrolite's spec encoder."""
    encode = _encoder(schema, _Named(None))
    sync = bytes(
        (zlib.crc32(path.encode()) >> (i % 4) * 8) & 0xFF for i in range(16)
    )
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"deflate",
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(out, len(kb))
        out.extend(kb)
        _write_long(out, len(v))
        out.extend(v)
    _write_long(out, 0)
    out.extend(sync)
    block = bytearray()
    for row in rows:
        encode(block, row)
    comp = zlib.compressobj(6, zlib.DEFLATED, -15)
    data = comp.compress(bytes(block)) + comp.flush()
    _write_long(out, len(rows))
    _write_long(out, len(data))
    out.extend(data)
    out.extend(sync)
    write_atomic(path, bytes(out))


def read_ocf(path: str) -> list[tuple]:
    """Driver-side OCF reader (null/deflate) for metadata-plane files."""
    with open(path, "rb") as fh:
        meta, sync, _pos = _read_header(fh)
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        decode = _decoder(schema, _Named(None))
        rows: list[tuple] = []
        while True:
            head = fh.read(1)
            if not head:
                break
            fh.seek(-1, 1)
            n = _read_long(fh)
            nbytes = _read_long(fh)
            data = fh.read(nbytes)
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            if fh.read(16) != sync:
                raise ValueError(f"{path}: sync marker mismatch")
            buf = io.BytesIO(data)
            for _ in range(n):
                rows.append(decode(buf))
    return rows


# --------------------------------------------------------- table layout

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},  # 0 existing, 1 added, 2 deleted
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "partition",
                            "fields": [{"name": "value", "type": "string"}],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # JSON {col: [lower, upper]} — the lite rendering of
                    # the spec's lower_bounds/upper_bounds maps ('' =
                    # no metrics recorded; such files are never skipped)
                    {"name": "bounds", "type": "string"},
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        # JSON {"lo": min_part, "hi": max_part, "n_deleted": N} — the
        # lite rendering of the spec's per-manifest field_summary list:
        # scan planning skips a whole manifest when its partition range
        # cannot intersect the predicate, WITHOUT opening it ('' = no
        # summary = never skip; manifests carrying DELETED tombstones
        # are never skipped — a skipped tombstone would resurrect files
        # added by an older, unskipped manifest of another partition)
        {"name": "partition_summary", "type": "string"},
    ],
}


def _metadata_path(location: str) -> str | None:
    mdir = os.path.join(location, "metadata")
    if not os.path.isdir(mdir):
        return None
    versions = sorted(
        (int(f[1 : -len(".metadata.json")]), f)
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    return os.path.join(mdir, versions[-1][1]) if versions else None


def _next_version(location: str) -> int:
    """Next metadata-file version number: one past the newest v<N> file
    (decoupled from snapshot ids — expiration shrinks the snapshot list
    but version numbers only ever grow)."""
    p = _metadata_path(location)
    if p is None:
        return 1
    name = os.path.basename(p)
    return int(name[1 : -len(".metadata.json")]) + 1


def _commit_metadata(location: str, md: dict) -> None:
    """Publish ``md`` as the next ``v<N>.metadata.json`` — the commit's
    visibility point: readers resolve the newest such file, so manifests
    and data written before it stay invisible until it lands."""
    path = os.path.join(
        location, "metadata", f"v{_next_version(location)}.metadata.json"
    )
    write_atomic(path, json.dumps(md))


def _load_metadata(location: str) -> dict | None:
    p = _metadata_path(location)
    if p is None:
        return None
    with open(p) as fh:
        md = json.load(fh)
    if md.get("format-version", 1) != 1:
        raise NotImplementedError("iceberg-lite reads format-version 1 only")
    return md


def _entries_with_manifest_stats(
    location: str,
    snapshot_id: int | None = None,
    part_range: tuple | None = None,
):
    """Core v1 scan planning: (live_entries, n_manifests, n_skipped)
    where live_entries = [(file_path, partition_value, record_count,
    bounds_dict)]. A snapshot's manifest LIST references every commit's
    immutable manifest (incremental reuse — a commit never rewrites
    prior manifests), so liveness is LAST-WRITER-WINS per file path on
    the entry's snapshot id: the newest status governs, and DELETED
    tombstones mask entries in older manifests. ``part_range=(lo, hi)``
    (inclusive, partition-value ordering) skips whole manifests on the
    manifest-list partition summaries WITHOUT opening them — the
    O(manifests) -> O(relevant-manifests) planning term at 100 TB;
    manifests with no summary or with tombstones are always opened.
    ``bounds_dict`` is {column: [lower, upper]} or {} when the writer
    recorded no metrics."""
    md = _load_metadata(location)
    if md is None:
        raise FileNotFoundError(f"no Iceberg metadata under {location}")
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    if sid not in snaps:
        raise ValueError(f"unknown snapshot {sid} (have {sorted(snaps)})")
    rows = read_ocf(snaps[sid]["manifest-list"])
    n_skipped = 0
    state: dict[str, tuple] = {}  # path -> (entry_sid, status, part, cnt, bj)
    for mrow in rows:
        manifest_path = mrow[0]
        # tolerate pre-summary manifest lists (4-tuples): no summary
        summary = json.loads(mrow[4]) if len(mrow) > 4 and mrow[4] else None
        if (
            part_range is not None
            and summary is not None
            and summary.get("n_deleted", 1) == 0
            and summary.get("lo") is not None
            and (
                summary["hi"] < part_range[0]
                or summary["lo"] > part_range[1]
            )
        ):
            n_skipped += 1
            continue
        for status, esnap, data_file in read_ocf(manifest_path):
            # tolerate pre-bounds manifests: read_ocf decodes with the
            # file's EMBEDDED writer schema, so v1 manifests written
            # before the 'bounds' field existed yield 5-tuples — a
            # strict 6-way unpack would make every pre-existing table
            # unreadable AND uncommittable
            file_path, _fmt, (part,), record_count, _size, *rest = data_file
            bj = rest[0] if rest else ""
            cur = state.get(file_path)
            if cur is None or esnap >= cur[0]:
                state[file_path] = (esnap, status, part, record_count, bj)
    files = [
        (p, part, cnt, json.loads(bj) if bj else {})
        for p, (_es, status, part, cnt, bj) in sorted(state.items())
        if status != 2
    ]
    return files, len(rows), n_skipped


def _active_entries_v1(location: str, snapshot_id: int | None = None):
    """(file_path, partition_value, record_count, bounds_dict) of every
    live data file at the given snapshot (default: current). See
    ``_entries_with_manifest_stats`` for the reuse/tombstone rules."""
    files, _n, _s = _entries_with_manifest_stats(location, snapshot_id)
    return files


def active_files(location: str, snapshot_id: int | None = None):
    """(file_path, partition_value, record_count) of every live data file
    at the given snapshot (default: current)."""
    return [
        (p, part, cnt)
        for p, part, cnt, _b in _active_entries_v1(location, snapshot_id)
    ]


_BATCH_ID_KEY = "streaming-batch-id"
_BATCH_HWM_KEY = "streaming-batch-hwm"


def _carry_batch_hwm(md, summary: dict | None) -> dict | None:
    """Fold the streaming-batch HIGH-WATER MARK into ``summary``.

    Replay-dedup must survive snapshot EXPIRATION and COMPACTION: a
    sink that reads only per-snapshot ``streaming-batch-id`` summaries
    loses them the moment maintenance drops those snapshots (expire) or
    a replace commit becomes the newest one (compact) — a crash-replay
    of an expired batch would then double-append. So EVERY commit
    (data, delete, replace) carries ``streaming-batch-hwm`` = max batch
    id ever committed forward from the prior snapshots, and the newest
    snapshot always knows the full replay horizon no matter what
    maintenance ran in between."""
    hwm = None
    for s in (md["snapshots"] if md else []):
        sm = s.get("summary") or {}
        for key in (_BATCH_ID_KEY, _BATCH_HWM_KEY):
            v = sm.get(key)
            if v is not None:
                hwm = int(v) if hwm is None else max(hwm, int(v))
    if summary and summary.get(_BATCH_ID_KEY) is not None:
        b = int(summary[_BATCH_ID_KEY])
        hwm = b if hwm is None else max(hwm, b)
    if hwm is None:
        return summary
    out = dict(summary or {})
    out[_BATCH_HWM_KEY] = str(hwm)
    return out


def committed_batch_hwm(location: str) -> int | None:
    """Highest streaming batch id the table has EVER committed, reading
    both live per-snapshot ids and the carried-forward HWM summary (so
    the answer is stable across expire_snapshots / compaction).
    Version-agnostic: the replay horizon is a summary-plane read that
    works the same for v1 and v2 tables."""
    p = _metadata_path(location)
    if p is None:
        return None
    with open(p) as fh:
        md = json.load(fh)
    hwm = None
    for s in md["snapshots"]:
        sm = s.get("summary") or {}
        for key in (_BATCH_ID_KEY, _BATCH_HWM_KEY):
            v = sm.get(key)
            if v is not None:
                hwm = int(v) if hwm is None else max(hwm, int(v))
    return hwm


def commit_snapshot(
    location: str,
    partition_col: str,
    added: list[tuple[str, str, int]],
    deleted_paths: tuple[str, ...] = (),
    summary: dict | None = None,
    added_bounds: dict[str, dict] | None = None,
) -> int:
    """Commit one snapshot: prior manifests are REUSED verbatim by the
    new manifest list (immutable, O(commit) not O(table) — see the
    manifest-reuse block below); ``deleted_paths`` append as DELETED
    tombstones and ``added`` (path, partition_value, record_count) rows
    as ADDED in this commit's one new manifest, whose list row carries
    a partition summary for manifest-level scan skipping. Writes
    manifest + manifest list + next metadata JSON.
    ``summary`` key/values land on the snapshot entry (Iceberg's
    snapshot summary map — e.g. a streaming batch id for exactly-once
    sinks); the streaming-batch high-water mark is carried forward into
    EVERY snapshot's summary (see ``_carry_batch_hwm``).
    ``added_bounds``: optional {path: {column: [lower, upper]}} column
    metrics for ADDED files (the spec's lower_bounds/upper_bounds),
    recorded into the manifest entry so scans can skip files on range
    predicates without opening them (``scan_metrics``); EXISTING
    entries carry their recorded bounds forward."""
    md = _load_metadata(location)
    mdir = os.path.join(location, "metadata")
    os.makedirs(mdir, exist_ok=True)
    prior = (
        _active_entries_v1(location)
        if md is not None and md["snapshots"]
        else []
    )
    # next id from the MAX live id (not the list length): snapshot
    # expiration shrinks the list, and reusing an expired id would let
    # time travel silently resolve to the wrong snapshot
    sid = (
        max(s["snapshot-id"] for s in md["snapshots"]) + 1
        if md and md["snapshots"]
        else 1
    )
    # MANIFEST REUSE (r13): prior manifests are immutable — the new
    # manifest list references them verbatim and this commit writes ONE
    # new manifest holding only its ADDED entries plus DELETED
    # tombstones for ``deleted_paths`` (which mask entries in older
    # manifests under _entries_with_manifest_stats' last-writer-wins
    # rule). Commit cost is O(this commit), not O(table); the list row
    # carries a partition summary so scans can skip the whole manifest.
    prior_rows: list[tuple] = []
    if md is not None and md["snapshots"]:
        cur = {s["snapshot-id"]: s for s in md["snapshots"]}[
            md["current-snapshot-id"]
        ]
        for mrow in read_ocf(cur["manifest-list"]):
            # tolerate pre-summary lists (4-tuples): no summary
            prior_rows.append(
                tuple(mrow) if len(mrow) > 4 else (*mrow, "")
            )
    prior_by_path = {p: (part, cnt, b) for p, part, cnt, b in prior}
    entries = []
    n_deleted = 0
    for path in deleted_paths:
        if path not in prior_by_path:
            continue
        part, cnt, bounds = prior_by_path[path]
        bj = json.dumps(bounds) if bounds else ""
        size = os.path.getsize(path) if os.path.exists(path) else 0
        entries.append(
            (2, sid, (path, "PARQUET", (part,), cnt, size, bj))
        )
        n_deleted += 1
    parts_added = []
    for path, part, cnt in added:
        size = os.path.getsize(path)
        b = (added_bounds or {}).get(path)
        bj = json.dumps(b) if b else ""
        entries.append((1, sid, (path, "PARQUET", (part,), cnt, size, bj)))
        parts_added.append(part)
    manifest = os.path.join(mdir, f"manifest-{sid}.avro")
    write_ocf(manifest, _MANIFEST_SCHEMA, entries)
    psum = json.dumps(
        {
            "lo": min(parts_added) if parts_added else None,
            "hi": max(parts_added) if parts_added else None,
            "n_deleted": n_deleted,
        }
    )
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_ocf(
        mlist,
        _MANIFEST_LIST_SCHEMA,
        prior_rows
        + [(manifest, os.path.getsize(manifest), 0, sid, psum)],
    )
    snap_entry = {"snapshot-id": sid, "manifest-list": mlist}
    summary = _carry_batch_hwm(md, summary)
    if summary:
        snap_entry["summary"] = dict(summary)
    if md and md.get("schemas") is not None:
        # files added by this snapshot were written under the CURRENT
        # schema — the snapshot records its id so evolved scans resolve
        # every file's columns by FIELD ID, not by name
        snap_entry["schema-id"] = md["current-schema-id"]
    snapshots = (md["snapshots"] if md else []) + [snap_entry]
    new_md = {
        "format-version": 1,
        "location": location,
        "partition-spec": [
            {
                "name": partition_col,
                "transform": "identity",
                "source-id": 1,
                "field-id": 1000,
            }
        ],
        "current-snapshot-id": sid,
        "snapshots": snapshots,
    }
    if md and md.get("schemas") is not None:
        new_md["schemas"] = md["schemas"]
        new_md["current-schema-id"] = md["current-schema-id"]
        # persist every live file's WRITER schema id at the metadata
        # level: once expire_snapshots drops the snapshot that ADDED a
        # still-live file, no surviving ADDED manifest row records its
        # schema — without this map, evolved scans of expired tables
        # would crash (or misresolve) on carried status-0 files
        prev_fs = md.get("file-schemas") or {}
        walk: dict | None = None  # lazy: the full manifest re-read is
        # only needed for files predating the file-schemas map (first
        # commit after upgrading an old table) — paying O(snapshots x
        # files) avro decoding on EVERY commit made long-lived tables
        # progressively slower
        fs: dict[str, int] = {}
        for path, _part, _cnt, _b in prior:
            if path in deleted_paths:
                continue
            sch = prev_fs.get(path)
            if sch is None:
                if walk is None:
                    walk = _added_schema_walk(md)
                sch = walk.get(path)
            if sch is None:  # legacy file with no surviving ADDED row
                sch = _oldest_schema_id(md)
            fs[path] = sch
        for path, _part, _cnt in added:
            fs[path] = md["current-schema-id"]
        new_md["file-schemas"] = fs
    _commit_metadata(location, new_md)
    return sid


def scan(
    spark,
    location: str,
    snapshot_id: int | None = None,
    partition_pred=None,
):
    """Snapshot scan with identity-partition pruning: files whose
    partition value fails ``partition_pred`` are dropped WITHOUT being
    opened (the metadata-plane skip that makes Iceberg queries cheap);
    survivors go to Spark's native distributed parquet reader. Returns
    (DataFrame, n_live_files, n_pruned)."""
    files = active_files(location, snapshot_id)
    kept = [
        f for f, part, _ in files
        if partition_pred is None or partition_pred(part)
    ]
    if not kept:
        if not files:
            raise ValueError("iceberg-lite scan: snapshot has no live files")
        # all-pruned is a legitimate outcome (predicate matches no
        # partition): return an EMPTY frame with the table schema, read
        # from one live file's footer — a metadata-only read
        empty = spark.read.parquet(files[0][0]).limit(0)
        return empty, len(files), len(files)
    return spark.read.parquet(*kept), len(files), len(files) - len(kept)


def scan_metrics(
    spark,
    location: str,
    column: str,
    lo,
    hi,
    snapshot_id: int | None = None,
    partition_pred=None,
):
    """Snapshot scan with MANIFEST COLUMN-BOUNDS file skipping — the
    Iceberg scan-planning primitive beyond partition pruning: each
    manifest entry records the file's per-column [lower, upper] bounds
    (written at commit time from the parquet FOOTER, two tail reads, no
    data pages), and a range predicate ``lo <= column < hi`` drops every
    file whose bounds cannot intersect WITHOUT opening it. Files with no
    recorded bounds for ``column`` are conservatively read (no stats =
    no skip — never silently wrong). The RESIDUAL predicate still
    applies on the survivors (bounds are file-level, not row-level), so
    callers filter the returned frame as usual. Partition pruning
    composes in front, as in ``scan``. Returns
    (DataFrame, n_live, n_part_pruned, n_metric_skipped)."""
    entries = _active_entries_v1(location, snapshot_id)
    kept_part = [
        e
        for e in entries
        if partition_pred is None or partition_pred(e[1])
    ]
    n_part_pruned = len(entries) - len(kept_part)
    opened: list[str] = []
    n_skipped = 0
    for path, _part, _cnt, bounds in kept_part:
        b = bounds.get(column)
        # bounds are INCLUSIVE [min, max]; predicate is [lo, hi).
        # Null lower/upper (an all-null column's footer has no min/max
        # — Iceberg's bounds are optional) = no stats = never skip.
        if (
            b is not None
            and b[0] is not None
            and b[1] is not None
            and (b[1] < lo or b[0] >= hi)
        ):
            n_skipped += 1
        else:
            opened.append(path)
    if not opened:
        if not entries:
            raise ValueError("iceberg-lite scan: snapshot has no live files")
        empty = spark.read.parquet(entries[0][0]).limit(0)
        return empty, len(entries), n_part_pruned, n_skipped
    return (
        spark.read.parquet(*opened),
        len(entries),
        n_part_pruned,
        n_skipped,
    )


def scan_summaries(
    spark,
    location: str,
    part_lo: str,
    part_hi: str,
    snapshot_id: int | None = None,
):
    """Snapshot scan planned through MANIFEST-LIST PARTITION SUMMARIES:
    manifests whose recorded [lo, hi] partition range cannot intersect
    ``[part_lo, part_hi]`` (inclusive, partition-value ordering) are
    skipped WITHOUT being opened — the planning term that matters at
    100 TB with thousands of manifests — then file-level identity
    pruning applies on the entries of the opened manifests. Manifests
    with no summary (pre-summary tables) or carrying tombstones are
    always opened. Returns (DataFrame, n_manifests, n_manifests_skipped,
    n_files_live, n_files_pruned)."""
    entries, n_manifests, n_skipped = _entries_with_manifest_stats(
        location, snapshot_id, part_range=(part_lo, part_hi)
    )
    kept = [
        p for p, part, _cnt, _b in entries if part_lo <= part <= part_hi
    ]
    n_pruned = len(entries) - len(kept)
    if not kept:
        if not entries:
            raise ValueError(
                "iceberg-lite scan: no live files in range"
            )
        empty = spark.read.parquet(entries[0][0]).limit(0)
        return empty, n_manifests, n_skipped, len(entries), n_pruned
    return (
        spark.read.parquet(*kept),
        n_manifests,
        n_skipped,
        len(entries),
        n_pruned,
    )


def rewrite_manifests(location: str) -> tuple[int, int]:
    """Maintenance: squash the CURRENT snapshot's manifest chain. Live
    entries are rewritten into fresh manifests grouped by partition
    value (tight [lo, hi] = [v, v] summaries, zero tombstones) and a
    new snapshot references ONLY those. Incremental commits reuse every
    prior manifest, so without periodic rewrites the newest snapshot
    references every manifest ever written and expire_snapshots can
    reclaim none of them; after a rewrite, expiry drops the old chain.
    Data files are untouched (metadata-only operation, as in Iceberg's
    rewrite_manifests action). Returns (n_manifests_before,
    n_manifests_after)."""
    md = _load_metadata(location)
    if md is None or not md["snapshots"]:
        raise FileNotFoundError(f"no Iceberg snapshots under {location}")
    entries, n_before, _ = _entries_with_manifest_stats(location)
    mdir = os.path.join(location, "metadata")
    sid = max(s["snapshot-id"] for s in md["snapshots"]) + 1
    groups: dict[str, list] = {}
    for path, part, cnt, bounds in entries:
        groups.setdefault(part, []).append((path, part, cnt, bounds))
    rows = []
    for k, part in enumerate(sorted(groups)):
        manifest = os.path.join(mdir, f"manifest-{sid}-{k}.avro")
        write_ocf(
            manifest,
            _MANIFEST_SCHEMA,
            [
                (
                    0,
                    sid,
                    (
                        path,
                        "PARQUET",
                        (pv,),
                        cnt,
                        os.path.getsize(path),
                        json.dumps(b) if b else "",
                    ),
                )
                for path, pv, cnt, b in groups[part]
            ],
        )
        psum = json.dumps({"lo": part, "hi": part, "n_deleted": 0})
        rows.append((manifest, os.path.getsize(manifest), 0, sid, psum))
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_ocf(mlist, _MANIFEST_LIST_SCHEMA, rows)
    snap_entry = {"snapshot-id": sid, "manifest-list": mlist}
    summary = _carry_batch_hwm(md, {"operation": "rewrite-manifests"})
    if summary:
        snap_entry["summary"] = dict(summary)
    if md.get("schemas") is not None:
        snap_entry["schema-id"] = md["current-schema-id"]
    new_md = dict(md)
    new_md["snapshots"] = md["snapshots"] + [snap_entry]
    new_md["current-snapshot-id"] = sid
    _commit_metadata(location, new_md)
    return n_before, len(rows)


# ----------------------------------------------------- bucket transform


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit — the hash the Iceberg spec mandates for
    its bucket partition transform. Pinned in tests against the spec's
    own published vectors (hash of int/long 34 = 2017239379, of string
    "iceberg" = 1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4 :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_transform(value: int, n_buckets: int) -> int:
    """Iceberg spec bucket[N] for int/long values: murmur3_x86_32 of the
    8-byte little-endian two's-complement representation, then
    (hash & Integer.MAX_VALUE) % N."""
    h = murmur3_32(int(value).to_bytes(8, "little", signed=True))
    return (h & 0x7FFFFFFF) % n_buckets


# ------------------------------------------------------ format-version 2
# Row-level deletes per the public Iceberg v2 spec: data files coexist
# with POSITIONAL delete files (rows of (file_path, pos) naming exact
# row positions in a data file) and EQUALITY delete files (rows of
# equality-column values). Sequence numbers order them: a positional
# delete applies to data files with data_sequence_number <= the
# delete's; an equality delete applies STRICTLY BEFORE it (so a row
# re-added in the same snapshot as an equality delete survives). The
# scan is merge-on-read: surviving data files go to Spark's native
# parquet reader with the _metadata.file_path/row_index columns, and
# deletes apply as broadcast anti-joins — the same distributed shape a
# production v2 reader uses (delete files are the small side by
# construction). v1 tables (sections above) are untouched.

_CONTENT_DATA, _CONTENT_POS_DELETE, _CONTENT_EQ_DELETE = 0, 1, 2

_MANIFEST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_entry_v2",
    "fields": [
        {"name": "status", "type": "int"},  # 0 existing, 1 added, 2 deleted
        {"name": "snapshot_id", "type": "long"},
        {"name": "sequence_number", "type": "long"},
        {"name": "content", "type": "int"},  # 0 data, 1 pos-del, 2 eq-del
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file_v2",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "partition_v2",
                            "fields": [{"name": "value", "type": "string"}],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # comma-joined equality column names ('' for others)
                    {"name": "equality_ids", "type": "string"},
                ],
            },
        },
    ],
}


def _load_metadata_v2(location: str) -> dict | None:
    p = _metadata_path(location)
    if p is None:
        return None
    with open(p) as fh:
        md = json.load(fh)
    if md.get("format-version", 1) != 2:
        raise ValueError(f"not an iceberg-lite v2 table at {location}")
    return md


def active_entries_v2(location: str, snapshot_id: int | None = None):
    """Live entries at the snapshot, each as a dict with content kind,
    path, partition value, ORIGINAL data sequence number, record count
    and equality columns. DELETED tombstones are dropped; EXISTING
    entries keep the sequence number of the snapshot that added them
    (spec inheritance), which is what the apply rules compare."""
    md = _load_metadata_v2(location)
    if md is None:
        raise FileNotFoundError(f"no Iceberg metadata under {location}")
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    if sid not in snaps:
        raise ValueError(f"unknown snapshot {sid} (have {sorted(snaps)})")
    entries = []
    for mrow in read_ocf(snaps[sid]["manifest-list"]):
        for status, _snap, seq, content, data_file in read_ocf(mrow[0]):
            if status == 2:  # DELETED
                continue
            path, _fmt, (part,), record_count, _size, eq_ids = data_file
            entries.append(
                {
                    "content": content,
                    "path": path,
                    "partition": part,
                    "seq": seq,
                    "record_count": record_count,
                    "equality_cols": tuple(
                        c for c in eq_ids.split(",") if c
                    ),
                }
            )
    return entries


def commit_snapshot_v2(
    location: str,
    partition_col: str,
    added: list[tuple[str, str, int]] = (),
    added_deletes: list[tuple[str, str, int, tuple[str, ...] | None]] = (),
    deleted_paths: tuple[str, ...] = (),
    summary: dict | None = None,
) -> int:
    """Commit one v2 snapshot with sequence number = snapshot id.
    ``added``: (path, partition_value, record_count) DATA files.
    ``added_deletes``: (path, partition_value, content, equality_cols)
    delete files (content 1 positional / 2 equality). Prior live entries
    carry forward as EXISTING with their ORIGINAL sequence numbers.
    Like v1 commits, EVERY v2 snapshot carries the streaming-batch
    high-water mark forward (``_carry_batch_hwm``) — a v2 delete/replace
    commit becoming the newest snapshot must not drop the replay
    horizon, or a crash-replay could double-append."""
    md = None
    try:
        md = _load_metadata_v2(location)
    except FileNotFoundError:
        pass
    mdir = os.path.join(location, "metadata")
    os.makedirs(mdir, exist_ok=True)
    prior = (
        active_entries_v2(location)
        if md is not None and md["snapshots"]
        else []
    )
    sid = (
        max(s["snapshot-id"] for s in md["snapshots"]) + 1
        if md and md["snapshots"]
        else 1
    )
    entries = []
    for e in prior:
        status = 2 if e["path"] in deleted_paths else 0
        entries.append(
            (
                status,
                sid,
                e["seq"],  # EXISTING keeps its original sequence number
                e["content"],
                (
                    e["path"],
                    "PARQUET",
                    (e["partition"],),
                    e["record_count"],
                    os.path.getsize(e["path"]),
                    ",".join(e["equality_cols"]),
                ),
            )
        )
    for path, part, cnt in added:
        entries.append(
            (
                1,
                sid,
                sid,
                _CONTENT_DATA,
                (path, "PARQUET", (part,), cnt, os.path.getsize(path), ""),
            )
        )
    for path, part, content, eq_cols in added_deletes:
        entries.append(
            (
                1,
                sid,
                sid,
                content,
                (
                    path,
                    "PARQUET",
                    (part,),
                    0,
                    os.path.getsize(path),
                    ",".join(eq_cols or ()),
                ),
            )
        )
    manifest = os.path.join(mdir, f"manifest-{sid}.avro")
    write_ocf(manifest, _MANIFEST_SCHEMA_V2, entries)
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    # v2 keeps the rewrite-per-snapshot manifest shape ('' = no
    # partition summary — the v2 scan never skips manifests)
    write_ocf(
        mlist,
        _MANIFEST_LIST_SCHEMA,
        [(manifest, os.path.getsize(manifest), 0, sid, "")],
    )
    snap_entry = {
        "snapshot-id": sid,
        "sequence-number": sid,
        "manifest-list": mlist,
    }
    summary = _carry_batch_hwm(md, summary)
    if summary:
        snap_entry["summary"] = dict(summary)
    snapshots = (md["snapshots"] if md else []) + [snap_entry]
    new_md = {
        "format-version": 2,
        "location": location,
        "partition-spec": [
            {
                "name": partition_col,
                "transform": "identity",
                "source-id": 1,
                "field-id": 1000,
            }
        ],
        "current-snapshot-id": sid,
        "last-sequence-number": sid,
        "snapshots": snapshots,
    }
    _commit_metadata(location, new_md)
    return sid


def decode_file_path(col):
    """Normalize ``_metadata.file_path`` back to the PLAIN local path.

    Spark renders it as ``file:`` + the Hadoop URI form, which
    percent-encodes URI-special ASCII (space -> %20, %% -> %25) but
    leaves non-ASCII and '+' RAW (verified empirically on this Spark).
    A bare regex strip of the scheme therefore misses the join against
    driver-built plain paths whenever the table location carries a
    space/%%/unicode — silently dropping every row. The exact inverse:
    strip the scheme, protect literal '+' as %%2B (url_decode is
    form-decoding and would turn raw '+' into space), then url_decode,
    i.e. a pure percent-decode. Every '%%' in the URI form begins a
    valid escape (raw '%%' was encoded to %%25), so the decode is total."""
    from pyspark.sql import functions as F

    stripped = F.regexp_replace(col, "^file:/+", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def scan_v2(
    spark,
    location: str,
    snapshot_id: int | None = None,
    partition_pred=None,
):
    """Merge-on-read v2 snapshot scan. Data files whose partition value
    fails ``partition_pred`` are pruned from the manifest without being
    opened; survivors are read with Spark's parquet metadata columns and
    row-level deletes apply distributed:

    - POSITIONAL: anti-join on (file_path, row_index) for delete files
      with sequence_number >= the data file's (``<=`` rule from the
      data file's view);
    - EQUALITY: anti-join on the equality columns for delete files with
      sequence_number STRICTLY GREATER than the data file's — a data
      file added in the same snapshot as the delete is NOT affected.

    Delete frames are broadcast (they are the metadata-scale side);
    the data side stays one distributed parquet scan. Returns
    (DataFrame, n_live_data_files, n_pruned_data_files)."""
    from pyspark.sql import functions as F

    entries = active_entries_v2(location, snapshot_id)
    data = [e for e in entries if e["content"] == _CONTENT_DATA]
    pos_dels = [e for e in entries if e["content"] == _CONTENT_POS_DELETE]
    eq_dels = [e for e in entries if e["content"] == _CONTENT_EQ_DELETE]
    kept = [
        e for e in data
        if partition_pred is None or partition_pred(e["partition"])
    ]
    n_pruned = len(data) - len(kept)
    if not kept:
        if not data:
            raise ValueError("iceberg-lite v2 scan: snapshot has no data")
        empty = spark.read.parquet(data[0]["path"]).limit(0)
        return empty, len(data), n_pruned
    df = spark.read.parquet(*[e["path"] for e in kept]).withColumns(
        {
            "__file_path": decode_file_path(F.col("_metadata.file_path")),
            "__row_pos": F.col("_metadata.row_index"),
        }
    )
    seq_map = spark.createDataFrame(
        [(e["path"], e["seq"]) for e in kept],
        "__file_path string, __data_seq long",
    )
    df = df.join(F.broadcast(seq_map), "__file_path")
    if pos_dels:
        pos_df = None
        for e in pos_dels:
            one = spark.read.parquet(e["path"]).select(
                F.col("file_path").alias("__del_path"),
                F.col("pos").alias("__del_pos"),
                F.lit(e["seq"]).alias("__del_seq"),
            )
            pos_df = one if pos_df is None else pos_df.unionByName(one)
        df = df.join(
            F.broadcast(pos_df),
            (F.col("__file_path") == F.col("__del_path"))
            & (F.col("__row_pos") == F.col("__del_pos"))
            & (F.col("__del_seq") >= F.col("__data_seq")),
            "left_anti",
        )
    for e in eq_dels:
        cols = list(e["equality_cols"])
        if not cols:
            raise ValueError(f"equality delete {e['path']} without columns")
        eq_rows = (
            spark.read.parquet(e["path"])
            .select(*[F.col(c).alias(f"__eq_{c}") for c in cols])
            .distinct()
            .withColumn("__del_seq", F.lit(e["seq"]))
        )
        cond = F.lit(True)
        for c in cols:
            # null-SAFE equality: Iceberg equality-delete matching
            # treats null == null as a match, so a delete row carrying
            # NULL in an equality column must delete NULL data rows —
            # a plain '==' can never match them
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        cond = cond & (F.col("__del_seq") > F.col("__data_seq"))
        df = df.join(F.broadcast(eq_rows), cond, "left_anti")
    return (
        df.drop("__file_path", "__row_pos", "__data_seq"),
        len(data),
        n_pruned,
    )


# --------------------------------------------- schema evolution (v1)
# Iceberg resolves columns by FIELD ID, never by name: a file written
# before `RENAME COLUMN a TO b` stores the data under the old name, and
# a correct reader still surfaces it as `b` because both names map to
# the same field id. Real Iceberg embeds field ids in every parquet
# file's schema metadata; the lite layer gets the same resolution by
# recording which SCHEMA each snapshot wrote under (snapshot entry's
# "schema-id") and translating old names -> current names per file
# group at scan time. A name-based reader returns NULLs for every
# renamed column on pre-rename files — the failure mode the catalog
# query's oracle pins. Reference parity: the schema-evolution surface of
# /root/reference/src/streaming/schema_evolution_manager.py applied to
# the lakehouse layer.


def set_schema(location: str, fields: list[dict]) -> int:
    """Set (or evolve) the table schema: ``fields`` is a list of
    ``{"id": int, "name": str}`` — renames keep the id, adds introduce a
    new id, drops omit the id. Writes the next metadata version with the
    new schema appended to ``schemas`` and made current; snapshots are
    untouched (schema evolution is metadata-only, as in Iceberg).
    Returns the new schema id."""
    ids = [f["id"] for f in fields]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate field ids in {fields}")
    md = _load_metadata(location)
    if md is None:
        md = {
            "format-version": 1,
            "location": location,
            "current-snapshot-id": None,
            "snapshots": [],
        }
    schemas = list(md.get("schemas") or [])
    new_id = (
        max(s["schema-id"] for s in schemas) + 1 if schemas else 0
    )
    schemas.append(
        {"schema-id": new_id, "fields": [dict(f) for f in fields]}
    )
    md["schemas"] = schemas
    md["current-schema-id"] = new_id
    os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
    _commit_metadata(location, md)
    return new_id


def _added_schema_walk(md) -> dict[str, int]:
    """{file_path: writer schema-id} from the surviving snapshots'
    status=1 ADDED manifest rows. Manifest REUSE means one list
    references manifests from many commits, so the schema comes from
    the entry's own adder snapshot id (not the referencing snapshot),
    and each physical manifest is decoded once. Exact only for files
    whose adding snapshot is still in metadata — expire_snapshots can
    drop it while the file lives on (see the ``file-schemas`` metadata
    map, the persistent record)."""
    sid_schema = {
        s["snapshot-id"]: s.get("schema-id", md["current-schema-id"])
        for s in md["snapshots"]
    }
    out: dict[str, int] = {}
    seen: set[str] = set()
    for s in md["snapshots"]:
        for mrow in read_ocf(s["manifest-list"]):
            if mrow[0] in seen:
                continue
            seen.add(mrow[0])
            for status, esnap, data_file in read_ocf(mrow[0]):
                if status == 1 and esnap in sid_schema:  # ADDED here
                    out[data_file[0]] = sid_schema[esnap]
    return out


def _oldest_schema_id(md) -> int:
    """Best-available writer-schema bound for a legacy file with no
    surviving ADDED row and no file-schemas entry: it predates the
    oldest retained snapshot, so that snapshot's schema era is the
    closest recorded one."""
    if md["snapshots"]:
        return md["snapshots"][0].get("schema-id", md["current-schema-id"])
    return md["current-schema-id"]


def _files_by_schema(md, location: str, snapshot_id: int):
    """Group the ACTIVE data files of ``snapshot_id`` by the schema id
    they were WRITTEN under: exact resolution from surviving ADDED
    manifest rows, then the persisted ``file-schemas`` metadata map
    (which survives snapshot expiration), then the oldest retained
    snapshot's schema as the documented legacy fallback — never a
    KeyError crash on expired tables."""
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    if snapshot_id not in snaps:
        raise ValueError(
            f"unknown snapshot {snapshot_id} (have {sorted(snaps)})"
        )
    added_schema = _added_schema_walk(md)
    fs = md.get("file-schemas") or {}
    groups: dict[int, list[tuple[str, str, int]]] = {}
    for path, part, cnt in active_files(location, snapshot_id):
        if path in added_schema:
            sch = added_schema[path]
        elif path in fs:
            sch = fs[path]
        else:
            sch = _oldest_schema_id(md)
        groups.setdefault(sch, []).append((path, part, cnt))
    return groups


def scan_evolved(
    spark,
    location: str,
    snapshot_id: int | None = None,
    partition_pred=None,
):
    """Snapshot scan across SCHEMA EVOLUTION: every live data file's
    columns resolve by field id against the scanned snapshot's schema —
    renamed columns carry data across the rename, columns added later
    read as NULL from older files, dropped columns disappear. Partition
    pruning applies before any file opens, as in ``scan``. Returns
    (DataFrame, n_schema_groups, n_pruned)."""
    from pyspark.sql import functions as F

    md = _load_metadata(location)
    if md is None:
        raise FileNotFoundError(f"no Iceberg metadata under {location}")
    if md.get("schemas") is None:
        raise ValueError("table has no schema metadata; use scan()")
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    target_schema_id = snaps[sid].get("schema-id", md["current-schema-id"])
    schemas = {s["schema-id"]: s["fields"] for s in md["schemas"]}
    target = schemas[target_schema_id]
    target_by_id = {f["id"]: f["name"] for f in target}
    out = None
    n_groups = 0
    n_pruned = 0
    for sch_id, files in sorted(_files_by_schema(md, location, sid).items()):
        writer_by_id = {f["id"]: f["name"] for f in schemas[sch_id]}
        kept = [
            (p, part, cnt)
            for p, part, cnt in files
            if partition_pred is None or partition_pred(part)
        ]
        n_pruned += len(files) - len(kept)
        if not kept:
            continue
        n_groups += 1
        df = spark.read.parquet(*[p for p, _, _ in kept])
        # field-id resolution: writer name -> target name where the id
        # survives; ids absent from the target schema are dropped
        cols = [
            F.col(writer_by_id[fid]).alias(target_by_id[fid])
            for fid in writer_by_id
            if fid in target_by_id
        ]
        out_part = df.select(*cols)
        out = (
            out_part
            if out is None
            else out.unionByName(out_part, allowMissingColumns=True)
        )
    if out is None:
        raise ValueError("scan_evolved: no live data files after pruning")
    # columns added after a group's write era surface as NULL via the
    # union; normalize to the target schema's field order
    for f in target:
        if f["name"] not in out.columns:
            out = out.withColumn(f["name"], F.lit(None))
    return out.select(*[f["name"] for f in target]), n_groups, n_pruned


# ------------------------------------------- table maintenance actions
# The two operations that keep a streaming-fed lakehouse table healthy
# at scale, per the public Iceberg maintenance model: BIN-PACK
# COMPACTION (rewrite-data-files — the "small files problem" fix: a
# snapshot-per-batch sink accretes thousands of small files whose
# per-file open cost eventually dominates scans) and SNAPSHOT
# EXPIRATION (drop old snapshots' metadata and physically delete the
# files only they reference). Compaction is a REPLACE commit: data is
# bit-identical, old snapshots keep reading the old files until they
# expire — which is exactly what the catalog queries pin.


def compact_data_files(spark, location: str, partition_col: str):
    """Bin-pack all live data files: one distributed
    ``repartition(col).write.partitionBy(col)`` rewrite job over the
    whole table, committed as a snapshot whose prior files are DELETED
    tombstones and whose rewritten files are ADDED. Returns
    (snapshot_id, n_files_before, n_files_after)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from .parquet_meta import read_footer

    files = active_files(location)
    old_paths = tuple(p for p, _, _ in files)
    if not old_paths:
        raise ValueError("compact: no live data files")
    dir_col = f"__dir_{partition_col}"
    out = os.path.join(location, "data", f"compact-{_uuid.uuid4().hex[:8]}")
    (
        spark.read.parquet(*old_paths)
        .withColumn(dir_col, F.col(partition_col))
        .repartition(F.col(dir_col))
        .write.mode("overwrite")
        .partitionBy(dir_col)
        .parquet(out)
    )
    entries = []
    for d in sorted(os.listdir(out)):
        if not d.startswith(dir_col + "="):
            continue
        value = d.split("=", 1)[1]
        pdir = os.path.join(out, d)
        for f in sorted(os.listdir(pdir)):
            if f.endswith(".parquet"):
                path = os.path.join(pdir, f)
                entries.append((path, value, read_footer(path)[3]))
    sid = commit_snapshot(
        location,
        partition_col,
        entries,
        deleted_paths=old_paths,
        summary={"operation": "replace"},
    )
    return sid, len(old_paths), len(entries)


def expire_snapshots(location: str, keep_last: int = 1):
    """Expire all but the newest ``keep_last`` snapshots: their manifest
    lists and manifests are removed, and data files reachable ONLY from
    expired snapshots are physically deleted (files still referenced by
    a kept snapshot survive — the reachability rule that makes expiry
    safe after compaction). Returns (n_expired, n_files_removed)."""
    md = _load_metadata(location)
    if md is None:
        raise FileNotFoundError(f"no Iceberg metadata under {location}")
    snaps = md["snapshots"]
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    if keep_last >= len(snaps):
        return 0, 0
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    reachable: set[str] = set()
    for s in kept:
        for p, _, _ in active_files(location, s["snapshot-id"]):
            reachable.add(p)
    expired_paths: set[str] = set()
    for s in expired:
        for p, _, _ in active_files(location, s["snapshot-id"]):
            expired_paths.add(p)
    removed = 0
    for p in sorted(expired_paths - reachable):
        if os.path.exists(p):
            os.remove(p)
            removed += 1
    # manifest REUSE: a manifest may be referenced by many snapshots'
    # lists — reclaim only those no kept snapshot references
    kept_manifests: set[str] = set()
    for s in kept:
        for mrow in read_ocf(s["manifest-list"]):
            kept_manifests.add(mrow[0])
    for s in expired:
        for mrow in read_ocf(s["manifest-list"]):
            manifest = mrow[0]
            if manifest not in kept_manifests and os.path.exists(manifest):
                os.remove(manifest)
        os.remove(s["manifest-list"])
    new_md = dict(md)
    new_md["snapshots"] = kept
    if md.get("file-schemas"):
        # file-schemas is the record that keeps evolved scans exact
        # AFTER this expiry drops ADDED rows; prune only dead paths
        new_md["file-schemas"] = {
            p: s for p, s in md["file-schemas"].items() if p in reachable
        }
    _commit_metadata(location, new_md)
    return len(expired), removed
