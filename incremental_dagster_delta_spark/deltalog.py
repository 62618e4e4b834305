"""Delta Lake transaction-log EXPORT for :class:`PartitionedTable`.

The reference commits real Delta transactions through delta-rs
(``ingest_example/delta_io.py:112-116``); this environment ships no
delta jars (re-probed every round, docs/SCALE.md), so the engine's
tables live on the parquet+commit-marker layout. This module closes the
interop half of that gap from the PUBLIC protocol alone: it emits a
spec-compliant ``_delta_log`` for any table, so a real Delta reader
(delta-rs, delta-spark, DuckDB's delta extension) can consume the
table as-is elsewhere. Protocol reference: delta-io/delta
``PROTOCOL.md`` — log segments are ``_delta_log/{version:020d}.json``
files of newline-delimited single-action JSON objects; readers
reconstruct a snapshot by replaying ``add``/``remove`` actions by file
path, newest wins.

Actions emitted (minimum complete set for a parquet table):

- ``protocol``: minReaderVersion 1 / minWriterVersion 2 — the lowest
  versions that describe a plain parquet table with no advanced table
  features, so every reader qualifies.
- ``metaData``: table id (deterministic UUIDv5 of the table path, so
  re-exports of the same table agree), ``schemaString`` (the Spark
  struct JSON — Delta's schema serialization IS Spark's), partition
  columns, parquet format descriptor.
- ``add``: relative URI-encoded path, hive ``partitionValues`` (string
  map, per spec), size, modificationTime, ``dataChange: true``, and a
  ``stats`` JSON with ``numRecords`` read from the parquet footer when
  the file is locally readable.
- ``remove``: for files that left the live set (restore, partition
  delete, compaction rewrite), with ``deletionTimestamp``.
- ``commitInfo``: operation label + metrics (informational, like every
  writer emits).

Checkpoints: every Nth version (default 10, delta-spark's interval) the
exporter also writes ``{version:020d}.checkpoint.parquet`` — the
complete replayed state (protocol + metaData + live adds) in the spec's
checkpoint schema — and repoints ``_last_checkpoint`` at it, so readers
replay O(live files + recent commits) instead of the whole history and
:meth:`DeltaLogExporter.clean_metadata` can delete the subsumed JSON.

Export is INCREMENTAL and idempotent: each call diffs the table's live
committed file set against the replayed state of the existing log and
appends ONE new version only when something changed. The log lives in
``<table>/_delta_log`` — a hidden root entry, so the table's own scans
ignore it and r12's maintenance salvage preserves it across
compact/overwrite swaps like every other sidecar.

Verification without a Delta reader in the environment (DuckDB's delta
extension exists but cannot be downloaded offline — probed r12):
structural spec pins + :func:`replay_file_set` round-trips
(log-reconstructed snapshot ≡ the table's own ``read()``) in
tests/test_deltalog.py.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import posixpath
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame

from incremental_dagster_delta_spark.tableio import (
    HIVE_NULL_PARTITION,
    DeletionVectors,
    PartitionedTable,
    _leaf_values,
)

PROTOCOL_ACTION = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

# UUIDv5 namespace for deterministic table ids (fixed, arbitrary).
_TABLE_ID_NS = uuid.UUID("8c6d6f1e-3b3a-4a5e-9b8e-2f6f5d4c3b2a")


def _local_path(path: str) -> str:
    """Local filesystem path for plain-python IO: strip ``file:`` /
    ``file://`` / ``file:///`` URI prefixes (all forms Hadoop emits for
    local tables). Non-``file:`` schemes pass through untouched — the
    exporter's constructor rejects them before any IO happens."""
    if path.startswith("file:"):
        rest = path[len("file:") :]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return path


def _log_dir(table: PartitionedTable) -> str:
    # Local-IO path: os.makedirs("file:/x/t/_delta_log") would treat the
    # scheme as a relative directory name and silently write the log
    # under ./file: in cwd while _live_files lists the real table.
    return posixpath.join(_local_path(table.path), "_delta_log")


def _encode_path(rel: str) -> str:
    """Relative path, URI-encoded per spec. '=' and '/' stay literal —
    that is how Delta writers encode hive partition dirs."""
    return urllib.parse.quote(rel, safe="/=.-_")


def _decode_path(p: str) -> str:
    return urllib.parse.unquote(p)


def _live_files(table: PartitionedTable) -> dict[str, dict]:
    """rel-path → {size, modificationTime, partitionValues} for every
    live data file. The LIVENESS filter (hidden-segment skip, committed
    ``b{id}-`` prefixes only, uncommitted partials excluded) is
    ``PartitionedTable._live_file_statuses`` — one implementation shared
    with every maintenance rewrite, so the exported snapshot can never
    diverge from ``read()`` on what counts as table state (r14)."""
    out: dict[str, dict] = {}
    for rel, st in table._live_file_statuses():
        out[rel] = {
            "size": int(st.getLen()),
            "modificationTime": int(st.getModificationTime()),
            # per spec a null partition value is JSON null in the string
            # map, not hive's on-disk sentinel directory name
            "partitionValues": {
                k: None if v == HIVE_NULL_PARTITION else v
                for k, v in _leaf_values(posixpath.dirname(rel)).items()
            },
        }
    return out


class _Unserializable:
    """Sentinel: a footer stat value with no Delta-spec JSON encoding."""


_UNSERIALIZABLE = _Unserializable()


def _stats_json_value(v, *, round_up: bool = False):
    """Delta-spec JSON encoding for one footer stat value: dates and
    timestamps become ISO-8601 strings (timestamps truncated to
    millisecond precision per spec — maxValues round UP so stats-based
    skipping stays sound), Decimal becomes its string form, native JSON
    scalars pass through. Anything else → ``_UNSERIALIZABLE`` and the
    column is dropped from the maps (per-spec "no stats" is always a
    safe answer; a crashing ``json.dumps`` is not)."""
    if isinstance(v, float):
        import math

        # json.dumps would emit Infinity/NaN — not legal JSON, and a
        # strict foreign parser dies on the whole add action (r14
        # review pass 5); NaN bounds are also unusable for skipping
        return v if math.isfinite(v) else _UNSERIALIZABLE
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, datetime.datetime):  # before date — datetime IS a date
        if v.tzinfo is not None:  # pyarrow: isAdjustedToUTC timestamps
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            suffix = "Z"
        else:
            suffix = ""
        if round_up and v.microsecond % 1000:
            v += datetime.timedelta(microseconds=1000 - v.microsecond % 1000)
        v = v.replace(microsecond=(v.microsecond // 1000) * 1000)
        return v.isoformat(sep="T", timespec="milliseconds") + suffix
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # Delta writers emit decimal stats as JSON NUMBERS (a string
        # would also break files_in_range's ordering for foreign
        # readers). A double is the nearest representable value, which
        # can fall on the wrong side of the true decimal — widen by one
        # ulp in the safe direction so skipping stays sound.
        import math

        f = float(v)
        if math.isinf(f):
            return _UNSERIALIZABLE
        exact = decimal.Decimal(f)
        if round_up and exact < v:
            f = math.nextafter(f, math.inf)
        elif not round_up and exact > v:
            f = math.nextafter(f, -math.inf)
        return f
    return _UNSERIALIZABLE


def _decimal_scale(logical_type) -> int | None:
    """Scale of a parquet DECIMAL logical type, or None when the column
    is not a decimal (pyarrow only exposes it through to_json)."""
    try:
        info = json.loads(logical_type.to_json())
        if info.get("Type") == "Decimal":
            return int(info["scale"])
    except Exception:
        pass
    return None


def _file_stats(table_path: str, rel: str) -> dict | None:
    """Delta per-file stats from the parquet footer (metadata only, no
    row scan): numRecords plus minValues/maxValues/nullCount per leaf
    column — the fields Delta's data skipping reads. Row-group stats
    fold with min-of-mins / max-of-maxes / sum-of-null-counts. Columns
    without usable stats (e.g. a row group withholding min/max) are
    omitted from the maps, which per spec means "no skipping on this
    column", never wrong skipping. Local filesystems only; None when
    the footer is unreachable."""
    local = os.path.join(_local_path(table_path), rel)
    if not os.path.exists(local):
        return None
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(local).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nulls: dict[str, int] = {}
        dropped: set[str] = set()
        null_dropped: set[str] = set()
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaf — out of scope
                    continue
                st = col.statistics
                if st is None or not st.has_min_max or name in dropped:
                    dropped.add(name)
                    mins.pop(name, None), maxs.pop(name, None), nulls.pop(name, None)
                    continue
                try:
                    lo, hi = st.min, st.max
                except Exception:
                    # pyarrow refuses typed stats for some logical types
                    # (notably DECIMAL); INT32/INT64-backed decimals are
                    # recoverable from the raw unscaled values + the
                    # declared scale.
                    lo = hi = None
                    if col.physical_type in ("INT32", "INT64"):
                        scale = _decimal_scale(st.logical_type)
                        if scale is not None:
                            q = decimal.Decimal(1).scaleb(-scale)
                            lo = decimal.Decimal(st.min_raw).scaleb(-scale).quantize(q)
                            hi = decimal.Decimal(st.max_raw).scaleb(-scale).quantize(q)
                    if lo is None or hi is None:
                        dropped.add(name)
                        mins.pop(name, None), maxs.pop(name, None), nulls.pop(name, None)
                        continue
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                    except UnicodeDecodeError:
                        # pop what EARLIER row groups accumulated too —
                        # partial min/max would be narrower than the
                        # file's true range, i.e. wrong skipping
                        dropped.add(name)
                        mins.pop(name, None), maxs.pop(name, None), nulls.pop(name, None)
                        continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
                # null_count is OPTIONAL in parquet stats: fabricating 0
                # would let an IS NULL reader skip a file that holds
                # nulls (r14 review pass 5) — drop the column from the
                # map instead ("no stats" is always safe)
                if st.has_null_count and name not in null_dropped:
                    nulls[name] = nulls.get(name, 0) + int(st.null_count)
                else:
                    null_dropped.add(name)
                    nulls.pop(name, None)
        for name in list(mins):
            lo = _stats_json_value(mins[name])
            hi = _stats_json_value(maxs[name], round_up=True)
            if lo is _UNSERIALIZABLE or hi is _UNSERIALIZABLE:
                mins.pop(name), maxs.pop(name), nulls.pop(name, None)
            else:
                mins[name], maxs[name] = lo, hi
        stats: dict = {"numRecords": int(meta.num_rows)}
        if mins:
            stats["minValues"] = mins
            stats["maxValues"] = maxs
            stats["nullCount"] = nulls
        return stats
    except Exception:
        return None


def _existing_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    out = []
    for f in os.listdir(log_dir):
        if f.endswith(".json") and f[:-5].isdigit():
            out.append(int(f[:-5]))
    return sorted(out)


# -- checkpoints ---------------------------------------------------------------
#
# Per PROTOCOL.md, a checkpoint `{version:020d}.checkpoint.parquet` holds
# the COMPLETE replayed state as of that version (protocol + metaData +
# one add per live file), and `_last_checkpoint` points readers at it so
# replay starts there instead of at version 0 — the property that keeps
# log replay O(live files + recent commits) instead of O(table history),
# and the precondition for deleting aged JSON segments (metadata
# cleanup). Remove tombstones WITHIN the retention window ride along
# (PROTOCOL.md "Checkpoints" requires unexpired remove actions so
# foreign readers/vacuums can coordinate file deletion); tombstones
# older than ``tombstone_retention_ms`` (Delta's
# delta.deletedFileRetentionDuration, default 1 week) are dropped —
# the same expiry real Delta checkpoints apply (ADVICE r13).


def _checkpoint_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", str_map)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                        # spec optional fields (PROTOCOL.md "Remove File"):
                        # present when extendedFileMetadata is true — a
                        # spec-complete foreign vacuum expects them
                        # (VERDICT r14 #6)
                        ("extendedFileMetadata", pa.bool_()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _live_soft_deletes(table: PartitionedTable) -> bool:
    """True iff the table's ``_dv`` sidecar holds delete batches newer
    than the purge watermark — rows the base files still contain but a
    DV-aware read subtracts. Metadata-only probe (commit markers + the
    watermark file); the key column is irrelevant to it. A marker whose
    metrics are unreadable/legacy (parses as ``{}``) counts as LIVE —
    the guard must fail loud, not pass on missing metadata; only an
    explicit ``rows: 0`` (the empty-batch skip) is known-empty."""
    dv = DeletionVectors(table, key_col="_")
    wm = dv.applied_through()
    return any(
        bid > wm and m.get("rows", 1) != 0
        for bid, m in dv.sidecar.batch_metrics().items()
    )


def _last_checkpoint_info(log_dir: str) -> dict | None:
    p = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as fh:
            info = json.load(fh)
        v = int(info["version"])
    except Exception:
        return None
    cp = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    return {"version": v, "path": cp} if os.path.exists(cp) else None


def _read_checkpoint(
    cp_path: str,
) -> tuple[dict[str, dict], dict | None, dict | None, dict[str, dict]]:
    """(file state, protocol action, metaData action, remove tombstones)
    from a checkpoint parquet — the reader half of PROTOCOL.md's
    checkpoint section. Tombstones are keyed by decoded path; checkpoints
    written before the remove column existed yield an empty dict."""
    import pyarrow.parquet as pq

    state: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    protocol = metadata = None
    for row in pq.read_table(cp_path).to_pylist():
        if row.get("protocol") is not None:
            protocol = row["protocol"]
        if row.get("metaData") is not None:
            m = dict(row["metaData"])
            m["format"] = dict(m["format"] or {})
            m["format"]["options"] = dict(m["format"].get("options") or [])
            m["configuration"] = dict(m.get("configuration") or [])
            metadata = m
        if row.get("add") is not None:
            a = dict(row["add"])
            a["partitionValues"] = dict(a.get("partitionValues") or [])
            if a.get("stats") is None:
                a.pop("stats", None)
            state[_decode_path(a["path"])] = a
        if row.get("remove") is not None:
            r = dict(row["remove"])
            # normalize the extended-metadata fields: pyarrow maps read
            # back as pair lists, and pre-r15 checkpoints (no extended
            # columns) yield Nones that must not masquerade as values
            if r.get("partitionValues") is not None:
                r["partitionValues"] = dict(r["partitionValues"])
            for k in ("extendedFileMetadata", "partitionValues", "size"):
                if r.get(k) is None:
                    r.pop(k, None)
            tombstones[_decode_path(r["path"])] = r
    return state, protocol, metadata, tombstones


def _replay(
    log_dir: str, version: int | None = None
) -> tuple[dict[str, dict], dict | None, dict | None, dict[str, dict]]:
    """(file state, protocol, metaData, remove tombstones) replayed per
    spec: start from the checkpoint named by ``_last_checkpoint`` when
    present (JSON segments at or below it may have been cleaned up),
    then apply newer JSON versions in order — an ``add`` puts the path
    in the set (newest metadata wins), a ``remove`` deletes it and
    records a tombstone (dropped again if the path is later re-added).
    ``version`` pins the replay to that version (``VERSION AS OF``
    semantics); versions older than the checkpoint are unreachable once
    :meth:`clean_metadata` ran — exactly the retention trade real Delta
    tables make."""
    cp = _last_checkpoint_info(log_dir)
    if cp is not None and (version is None or cp["version"] <= version):
        state, protocol, metadata, tombstones = _read_checkpoint(cp["path"])
        start = cp["version"] + 1
    else:
        state, protocol, metadata, tombstones = {}, None, None, {}
        start = 0
    versions = _existing_versions(log_dir)
    if version is not None:
        # the pinned snapshot needs the FULL chain from its base (the
        # checkpoint at/below it, else version 0) — a crashed cleanup
        # that deleted an arbitrary subset of segments must raise, not
        # replay the survivors into a silently partial state (r14
        # review pass 5)
        if not (cp is not None and cp["version"] == version):
            base = cp["version"] + 1 if (cp is not None and cp["version"] <= version) else 0
            have = set(versions)
            missing = [x for x in range(base, version + 1) if x not in have]
            if missing:
                raise ValueError(
                    f"version {version} not reachable under {log_dir}: "
                    f"missing segments {missing} "
                    f"(checkpoint={cp['version'] if cp else None}, segments={versions})"
                )
    elif cp is None and versions and versions[0] != 0:
        raise ValueError(
            f"log under {log_dir} starts at segment {versions[0]} with no "
            "readable checkpoint — the _last_checkpoint pointer (or the "
            "checkpoint it names) is gone while cleanup already deleted "
            "the earlier segments; replaying the survivors would serve a "
            "silently partial snapshot"
        )
    for v in versions:
        if v < start:
            continue
        if version is not None and v > version:
            break
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    rel = _decode_path(a["path"])
                    state[rel] = a
                    tombstones.pop(rel, None)  # re-added path: tombstone retired
                elif "remove" in action:
                    rel = _decode_path(action["remove"]["path"])
                    state.pop(rel, None)
                    tombstones[rel] = action["remove"]
                elif "protocol" in action:
                    protocol = action["protocol"]
                elif "metaData" in action:
                    metadata = action["metaData"]
    return state, protocol, metadata, tombstones


def replay_file_set(log_dir: str, version: int | None = None) -> dict[str, dict]:
    """Reconstruct the snapshot from the log exactly the way the spec
    tells readers to (checkpoint if present, then newer JSON).
    ``version`` pins the snapshot (``VERSION AS OF``); default latest."""
    return _replay(log_dir, version)[0]


def files_in_range(
    log_dir: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
    files: dict[str, dict] | None = None,
) -> dict[str, dict]:
    """Data skipping from log stats, exactly as Delta readers do it:
    keep a file unless its [minValues, maxValues] interval for
    ``column`` provably misses [lo, hi]. Files without stats for the
    column are always kept (skipping must never be wrong). Driver-side
    metadata only — at 100 TB this prunes the FILE LIST before a single
    scan task launches, the log's whole point over directory listing.
    ``files`` skips the replay when the caller already holds a replayed
    (or pre-pruned) file set — e.g. :func:`files_in_partition` output."""
    if files is None:
        files = replay_file_set(log_dir, version)
    kept: dict[str, dict] = {}
    for rel, add in files.items():
        # foreign writers with stats collection off emit "stats": null
        # rather than omitting the key — treat both as "no stats" (keep
        # the file), never TypeError (r14 review pass 5)
        stats = json.loads(add["stats"]) if add.get("stats") else {}
        mn = stats.get("minValues", {}).get(column)
        mx = stats.get("maxValues", {}).get(column)
        if mn is not None and mx is not None:
            try:
                if mx < lo or mn > hi:
                    continue
            except TypeError:
                pass  # stats/bounds type mismatch — keep the file (never skip wrongly)
        kept[rel] = add
    return kept


def files_in_partition(
    log_dir: str,
    partition_values: dict,
    version: int | None = None,
    files: dict[str, dict] | None = None,
) -> dict[str, dict]:
    """Partition pruning from the log's ``partitionValues`` maps — the
    FIRST cut real Delta readers apply, before any stats comparison:
    keep files whose hive partition values match every key of
    ``partition_values`` exactly (values are the spec's string map —
    pass ``None`` to select the null-valued leaves, matching the spec's
    JSON-null encoding; a dict parameter rather than kwargs so partition
    columns named like this function's own parameters stay queryable).
    Composes with
    :func:`files_in_range` WITHOUT re-replaying the log: pass one
    helper's output as the other's ``files``. Driver-side metadata
    only, like the other pruning paths."""
    if files is None:
        files = replay_file_set(log_dir, version)
    kept: dict[str, dict] = {}
    for rel, add in files.items():
        pvals = add.get("partitionValues", {})
        if all(
            pvals.get(k) == (None if v is None else str(v))
            for k, v in partition_values.items()
        ):
            kept[rel] = add
    return kept


def log_history(log_dir: str) -> list[dict]:
    """``DESCRIBE HISTORY`` parity from the exported log: one row per
    surviving JSON version, newest first — version, commit timestamp,
    operation label, and the writer's operationMetrics. Versions whose
    segments were deleted by :meth:`DeltaLogExporter.clean_metadata`
    no longer appear (their state lives folded into the checkpoint),
    exactly the truncation real Delta history shows after log cleanup."""
    out: list[dict] = []
    for v in _existing_versions(log_dir):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    ci = action["commitInfo"]
                    out.append(
                        {
                            "version": v,
                            "timestamp": ci.get("timestamp"),
                            "operation": ci.get("operation"),
                            "operationMetrics": ci.get("operationMetrics", {}),
                        }
                    )
                    break
            else:  # version without commitInfo (foreign writer): still listed
                out.append(
                    {
                        "version": v,
                        "timestamp": None,
                        "operation": None,
                        "operationMetrics": {},
                    }
                )
    return sorted(out, key=lambda r: -r["version"])


def read_delta_log(
    table: PartitionedTable,
    column_range: tuple[str, object, object] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read the table THROUGH its exported log — the snapshot a real
    Delta reader would serve (replay the log, load exactly the add-file
    set). ``column_range=(col, lo, hi)`` applies stats-based file
    skipping before the load AND the residual predicate after it (the
    stats cut is file-granular, not row-exact). ``version`` reads
    ``VERSION AS OF`` that log version — valid while the version's data
    files survive (vacuum/maintenance reclaims them on the table's own
    schedule, the same coupling real Delta time travel has). Used by the
    round-trip tests; a foreign reader does the same replay from the
    same bytes."""
    from pyspark.sql.types import StructType

    log_dir = _log_dir(table)
    state, _proto, meta, _tomb = _replay(log_dir, version)
    schema = (
        StructType.fromJson(json.loads(meta["schemaString"]))
        if meta is not None and meta.get("schemaString")
        else None
    )
    if column_range is not None:
        col, lo, hi = column_range
        files = files_in_range(log_dir, col, lo, hi, version, files=state)
    else:
        files = state
    if not files:
        # distinguish "no exported snapshot at all" from a legitimately
        # EMPTY selection (stats pruning removed every file, or the
        # snapshot's live set is empty after removes) — the latter is a
        # valid empty DataFrame typed from metaData.schemaString, not an
        # error (r14 review pass 5)
        if not _existing_versions(log_dir) and _last_checkpoint_info(log_dir) is None:
            raise ValueError(f"no exported snapshot under {log_dir}")
        if schema is None:
            raise ValueError(
                f"empty selection under {log_dir} and no metaData schema to type it"
            )
        df = table.spark.createDataFrame([], schema)
    else:
        # typed by the replayed metaData, as a foreign reader would: no
        # inference, partition values parsed to their logged types
        reader = table.spark.read.format(table.fmt).option("basePath", table.path)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load([posixpath.join(table.path, rel) for rel in files])
    if column_range is not None:
        col, lo, hi = column_range
        df = df.where((df[col] >= lo) & (df[col] <= hi))
    return df


class DeltaLogExporter:
    """Incremental ``_delta_log`` emitter for one table. Construct and
    call :meth:`export` after any batch of table mutations; each call
    appends at most one log version."""

    def __init__(
        self,
        table: PartitionedTable,
        checkpoint_interval: int = 10,
        tombstone_retention_ms: int = 7 * 24 * 3600 * 1000,
    ) -> None:
        self.table = table
        self.log_dir = _log_dir(table)
        # every Nth version gets a checkpoint parquet (10 is delta-spark's
        # default delta.checkpointInterval); 0 disables auto-checkpointing
        self.checkpoint_interval = checkpoint_interval
        # remove tombstones younger than this ride into checkpoints so
        # foreign readers/vacuums can coordinate (spec requirement);
        # default = delta.deletedFileRetentionDuration's 1 week
        self.tombstone_retention_ms = tombstone_retention_ms
        # local-path assumption: the log is written with plain python
        # IO; the table layouts under test are file-backed (``file:``
        # URIs normalize via _local_path). (A cluster deployment would
        # route through the same Hadoop FS handles tableio uses — the
        # byte format is what the tests pin.)
        scheme_prefix = self.table.path.split("/", 1)[0]
        if ":" in scheme_prefix and not self.table.path.startswith("file:"):
            raise ValueError(
                "DeltaLogExporter writes with local IO; wire Hadoop FS for "
                f"non-local table path {self.table.path!r}"
            )

    # -- actions ---------------------------------------------------------------

    def _meta_action(self, created: int | None = None) -> dict:
        """``created`` carries the ORIGINAL createdTime forward when a
        schema change re-emits metaData (the spec field is table
        creation time, not schema-change time). The schema is the
        table's recorded one — what ``read()`` serves, no Spark job."""
        schema_json = self._schema_json()
        return {
            "metaData": {
                "id": str(uuid.uuid5(_TABLE_ID_NS, self.table.path)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": list(self.table.partition_cols),
                "configuration": {},
                "createdTime": int(created if created is not None else time.time() * 1000),
            }
        }

    def _schema_json(self) -> str:
        schema = self.table._schema()
        return (schema if schema is not None else self.table.read().schema).json()

    def _add_action(self, rel: str, info: dict) -> dict:
        add = {
            "path": _encode_path(rel),
            "partitionValues": info["partitionValues"],
            "size": info["size"],
            "modificationTime": info["modificationTime"],
            "dataChange": True,
        }
        stats = _file_stats(self.table.path, rel)
        if stats is not None:
            try:
                add["stats"] = json.dumps(stats)
            except TypeError:
                pass  # stats are an optimization; a snapshot without them is valid
        return {"add": add}

    # -- export ------------------------------------------------------------------

    def export(self, operation: str = "WRITE", allow_soft_deletes: bool = False) -> int:
        """Diff live files vs the replayed log; append one version when
        they differ. Returns the new version number, or -1 for a no-op
        (idempotent re-export).

        Refuses (loud over wrong) when the table carries LIVE deletion-
        vector batches: the export describes raw data files, so a
        foreign reader would serve rows a DV-aware read subtracts. Run
        ``DeletionVectors.purge()`` first — the rewrite bakes the
        deletes in and the next export diffs to the purged files — or
        pass ``allow_soft_deletes=True`` to publish the base table
        as-is (emitting spec deletion vectors needs reader version 3
        and roaring-bitmap DV files, out of this seam's scope)."""
        if not allow_soft_deletes and _live_soft_deletes(self.table):
            raise ValueError(
                f"{self.table.path} has unpurged deletion-vector batches; a "
                "foreign Delta reader of this export would see soft-deleted "
                "rows. DeletionVectors.purge() first, or pass "
                "allow_soft_deletes=True to export the raw base table."
            )
        live = _live_files(self.table)
        seen, _seen_proto, seen_meta, _seen_tomb = _replay(self.log_dir)
        added = sorted(set(live) - set(seen))
        removed = sorted(set(seen) - set(live))
        versions = _existing_versions(self.log_dir)
        cp = _last_checkpoint_info(self.log_dir)
        # metadata cleanup may leave the checkpoint as the only segment,
        # so "latest version" must consider both (else a fresh export
        # would re-issue version 0 below an existing checkpoint)
        last = max(versions[-1] if versions else -1, cp["version"] if cp else -1)
        # schema evolution: a foreign reader takes metaData.schemaString
        # as THE table schema, so a widened table must re-emit metaData
        # or new columns silently vanish from its reads (r14 review
        # pass 5). Writes widen the record before they commit files, so
        # the check rides exports that already ship file actions.
        meta_changed = (
            bool(added or removed)
            and last >= 0
            and bool(live)
            and seen_meta is not None
            and self._schema_json() != seen_meta.get("schemaString")
        )
        if last >= 0 and not added and not removed and not meta_changed:
            return -1
        if not live and last < 0:
            return -1  # nothing committed yet: no snapshot to describe
        v = last + 1
        now = int(time.time() * 1000)
        lines: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": operation,
                    "operationMetrics": {
                        "numAddedFiles": str(len(added)),
                        "numRemovedFiles": str(len(removed)),
                    },
                    "engineInfo": "incremental-dagster-delta-spark parquet export",
                }
            }
        ]
        if v == 0:
            lines.append(PROTOCOL_ACTION)
            lines.append(self._meta_action())
        elif meta_changed:
            lines.append(self._meta_action(created=seen_meta.get("createdTime")))
        for rel in removed:
            # extendedFileMetadata per spec: partitionValues + size travel
            # with the tombstone (known from the replayed add action), so
            # a spec-complete foreign vacuum/writer can coordinate on the
            # remove without resolving the old add (VERDICT r14 #6). A
            # FOREIGN add missing size (the spec-gap class r14 pass 5
            # already tolerates for stats/timestamps) degrades to a
            # minimal tombstone instead of crashing the export or
            # emitting ext=true with size null (r15 review).
            prior = seen[rel]
            action = {
                "path": _encode_path(rel),
                "deletionTimestamp": now,
                "dataChange": True,
            }
            if (
                prior.get("size") is not None
                and prior.get("partitionValues") is not None
            ):
                action.update(
                    extendedFileMetadata=True,
                    partitionValues=prior["partitionValues"],
                    size=prior["size"],
                )
            lines.append({"remove": action})
        for rel in added:
            lines.append(self._add_action(rel, live[rel]))
        os.makedirs(self.log_dir, exist_ok=True)
        final = os.path.join(self.log_dir, f"{v:020d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            for obj in lines:
                fh.write(json.dumps(obj, separators=(",", ":")) + "\n")
        # version visibility flips on the rename, like a Delta commit;
        # a racing writer of the SAME version would be the caller's
        # concurrency bug (Delta proper closes this with CAS — out of
        # scope for an export seam).
        os.replace(tmp, final)
        if self.checkpoint_interval and v > 0 and v % self.checkpoint_interval == 0:
            self.write_checkpoint()
        return v

    def write_checkpoint(self) -> int:
        """Write ``{v:020d}.checkpoint.parquet`` holding the complete
        replayed state at the latest version, then repoint
        ``_last_checkpoint`` at it. Returns the checkpointed version.
        Readers replaying after this start from the checkpoint, so
        :meth:`clean_metadata` may delete the JSON it subsumes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        versions = _existing_versions(self.log_dir)
        cp = _last_checkpoint_info(self.log_dir)
        if not versions and cp is None:
            raise ValueError(f"nothing to checkpoint under {self.log_dir}")
        v = versions[-1] if versions else cp["version"]
        state, protocol, metadata, tombstones = _replay(self.log_dir)
        # a cleaned log can lose the v0 protocol/metaData JSON; they are
        # reconstructible (deterministic table id, live schema)
        protocol = protocol or PROTOCOL_ACTION["protocol"]
        metadata = metadata or self._meta_action()["metaData"]
        rows: list[dict] = [{"protocol": protocol}, {"metaData": metadata}]
        for rel in sorted(state):
            a = state[rel]
            rows.append(
                {
                    "add": {
                        "path": a["path"],
                        "partitionValues": a.get("partitionValues", {}),
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        # checkpoints restate existing data; per spec the
                        # actions carry dataChange=false
                        "dataChange": False,
                        "stats": a.get("stats"),
                    }
                }
            )
        # unexpired remove tombstones ride along (spec: checkpoints must
        # carry them so a foreign vacuum doesn't delete files a reader of
        # an older version may still need); expired ones are dropped —
        # that expiry is exactly delta.deletedFileRetentionDuration
        now_ms = int(time.time() * 1000)
        cutoff = now_ms - self.tombstone_retention_ms
        for rel in sorted(tombstones):
            r = tombstones[rel]
            # deletionTimestamp is OPTIONAL per spec: a foreign remove
            # without one must be RETAINED (stamped now), not treated as
            # epoch-0 and expired out of the coordination window (r14
            # review pass 5)
            ts = r.get("deletionTimestamp")
            ts = int(ts) if ts is not None else now_ms
            if ts >= cutoff:
                # extended metadata propagates when the tombstone carried
                # it IN FULL; a foreign remove without it (or claiming it
                # while missing a field) stays minimal
                # (extendedFileMetadata=false per spec) rather than
                # fabricating partitionValues/size (VERDICT r14 #6;
                # r15 review: gating on size alone fabricated
                # partitionValues={} for a partitioned file)
                ext = (
                    bool(r.get("extendedFileMetadata"))
                    and r.get("size") is not None
                    and r.get("partitionValues") is not None
                )
                rows.append(
                    {
                        "remove": {
                            "path": r["path"],
                            "deletionTimestamp": ts,
                            "dataChange": False,
                            "extendedFileMetadata": ext,
                            "partitionValues": (
                                r.get("partitionValues", {}) if ext else None
                            ),
                            "size": r.get("size") if ext else None,
                        }
                    }
                )
        final = os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(rows, schema=_checkpoint_schema()), tmp)
        os.replace(tmp, final)
        lc_tmp = os.path.join(self.log_dir, f"_last_checkpoint.tmp-{uuid.uuid4().hex}")
        with open(lc_tmp, "w") as fh:
            json.dump({"version": v, "size": len(rows)}, fh)
        os.replace(lc_tmp, os.path.join(self.log_dir, "_last_checkpoint"))
        return v

    def clean_metadata(self) -> int:
        """Spec metadata cleanup: delete JSON segments (and superseded
        checkpoints) at or below the ``_last_checkpoint`` version —
        readers no longer replay them. Returns the number of files
        removed; a no-op when no checkpoint exists."""
        cp = _last_checkpoint_info(self.log_dir)
        if cp is None:
            return 0
        removed = 0
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) <= cp["version"]:
                os.remove(os.path.join(self.log_dir, f))
                removed += 1
            elif (
                f.endswith(".checkpoint.parquet")
                and f.split(".")[0].isdigit()
                and int(f.split(".")[0]) < cp["version"]
            ):
                os.remove(os.path.join(self.log_dir, f))
                removed += 1
        return removed
