"""Minimal Delta Lake log WRITER: emit a spec-conformant ``_delta_log``
so tables produced here are readable by real delta-spark (and by this
repo's own ``DeltaTableReader``).

Two uses:

- building byte-level Delta fixtures for interop tests (hand-authored
  commits, checkpoints, URL-encoded paths);
- ``export_vintage_to_delta``: publish a ``VintageTable`` snapshot as a
  Delta table — the bridge back to the reference's on-disk contract
  (/root/reference/README.md:92 writes ``format("delta")``), so a
  downstream system that only speaks Delta can consume tables maintained
  by this engine. Metadata-only: data files are hard-linked (same-device)
  or left in place is NOT an option for Delta (paths must resolve under
  the table root), so link-else-copy per file.

Only writer features of protocol (1, 2) are emitted — plain adds/removes,
no DVs/column-mapping — which is exactly what the read shim and stock
Delta readers accept everywhere.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
import uuid

_LOG = "_delta_log"


class DeltaCommitConflictError(RuntimeError):
    """A concurrent writer committed the version this commit expected —
    the Delta analogue of :class:`sdlt_spark.store.vintage.
    CommitConflictError`. Raised only when the caller passed
    ``expected_version`` (i.e. opted into optimistic concurrency);
    callers re-resolve the log, recompute against the new snapshot, and
    retry."""


# PROTOCOL.md's legacy-version -> implicit-feature mapping: a table at
# e.g. (2, 5) implicitly has columnMapping; upgrading it to table
# features (3, 7) MUST enumerate those implicit features or stock
# readers stop applying them (a (3,7) protocol listing only
# deletionVectors on a column-mapped table would make delta-spark
# read physical column names as data).
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def upgraded_dv_protocol(existing: dict | None) -> dict:
    """The protocol action for a commit that introduces deletion vectors
    on a table: (3, 7) naming deletionVectors PLUS every feature the
    existing protocol implied — explicit readerFeatures/writerFeatures
    carried verbatim, legacy versions translated per PROTOCOL.md. When
    the existing protocol already names deletionVectors it is returned
    unchanged (re-emitting an identical protocol action is spec-legal
    and idempotent)."""
    existing = existing or {}
    r = existing.get("minReaderVersion", 1)
    w = existing.get("minWriterVersion", 1)
    rf = set(existing.get("readerFeatures") or [])
    wf = set(existing.get("writerFeatures") or [])
    if r >= 3 and "deletionVectors" in rf:
        return dict(existing)
    if r < 3:
        for lvl, feats in _LEGACY_READER_FEATURES.items():
            if r >= lvl:
                rf.update(feats)
    if w < 7:
        for lvl, feats in _LEGACY_WRITER_FEATURES.items():
            if w >= lvl:
                wf.update(feats)
    rf.add("deletionVectors")
    # every reader feature must also appear in writerFeatures (spec)
    wf.add("deletionVectors")
    wf.update(rf)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def row_tracking_protocol(existing: dict | None = None) -> dict:
    """Protocol action for a commit that enables Row Tracking: writer
    version 7 naming ``rowTracking`` + ``domainMetadata`` (the high-water
    mark lives in domain metadata) plus every feature the existing
    protocol implied. Row tracking is a WRITER feature — readers that
    ignore it still read the data correctly — so the reader version is
    left wherever it was."""
    existing = existing or {}
    r = existing.get("minReaderVersion", 1)
    w = existing.get("minWriterVersion", 1)
    rf = set(existing.get("readerFeatures") or [])
    wf = set(existing.get("writerFeatures") or [])
    if w >= 7 and "rowTracking" in wf:
        return dict(existing)
    if w < 7:
        for lvl, feats in _LEGACY_WRITER_FEATURES.items():
            if w >= lvl:
                wf.update(feats)
    wf.update({"rowTracking", "domainMetadata"})
    wf.update(rf)
    out = {"minReaderVersion": r, "minWriterVersion": 7, "writerFeatures": sorted(wf)}
    if r >= 3 or rf:
        out["readerFeatures"] = sorted(rf)
    return out


MATERIALIZED_ROW_ID_COL = "_sdlt_row_id"
MATERIALIZED_ROW_COMMIT_COL = "_sdlt_row_commit_version"


def row_tracking_configuration() -> dict[str, str]:
    """Table configuration enabling Row Tracking with materialized-column
    names pre-declared (delta-spark generates uuid-suffixed names when it
    first materializes; declaring them at creation means every writer —
    including this repo's CoW mutations — agrees on where stable ids
    live). The columns are HIDDEN: not in the logical schema, present
    physically in files written by rewrites."""
    return {
        "delta.enableRowTracking": "true",
        "delta.rowTracking.materializedRowIdColumnName": MATERIALIZED_ROW_ID_COL,
        "delta.rowTracking.materializedRowCommitVersionColumnName": (
            MATERIALIZED_ROW_COMMIT_COL
        ),
    }


_STAT_STRING_PREFIX = 32


def _truncate_stat_strings(values: dict, is_max: bool) -> dict:
    """Delta writers bound per-file string stats to a 32-char prefix —
    at 100 TB the log's stats otherwise dominate its size for wide string
    tables. Truncation must stay SAFE for data skipping: a min prefix is
    <= the true min by construction; a truncated MAX must be bumped to a
    string >= every value it summarizes (increment the last retained
    char; if every retained char is already at the ceiling, drop the
    bound entirely — no upper bound beats a wrong one)."""
    out = {}
    for k, v in values.items():
        if isinstance(v, str) and len(v) > _STAT_STRING_PREFIX:
            p = v[:_STAT_STRING_PREFIX]
            if not is_max:
                out[k] = p
                continue
            bumped = None
            for i in range(len(p) - 1, -1, -1):
                cp = ord(p[i])
                if cp >= 0x10FFFF:
                    continue  # cannot bump past the ceiling at this slot
                # bumping U+D7FF would yield the lone surrogate U+D800 —
                # json.dumps escapes it as an unpaired \ud800 that strict
                # parsers in other Delta implementations reject, breaking
                # THEIR log replay. Jump the whole surrogate block
                # (U+E000 > every surrogate, so the bound stays safe).
                nxt = 0xE000 if cp == 0xD7FF else cp + 1
                bumped = p[:i] + chr(nxt)
                break
            if bumped is not None:
                out[k] = bumped
            # else: omit the max bound — callers treat a missing bound as
            # "cannot prune", never as "empty"
        else:
            out[k] = v
    return out


import contextlib


@contextlib.contextmanager
def _one_file_per_task(spark):
    """Pin ``spark.sql.files.maxRecordsPerFile`` to 0 (unlimited) for the
    duration of a write whose correctness depends on exactly one parquet
    part per shuffle task. The export split jobs content-address output
    names on (source token, partition tuple); if a session-level
    maxRecordsPerFile split one task's rows across several parts, every
    part beyond the first would silently vanish from the exported table —
    and the row→part assignment is not reproducible across syncs, so the
    skip-if-existing relink could not be taught to handle it either.
    Restores the caller's setting on exit."""
    key = "spark.sql.files.maxRecordsPerFile"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "0")
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@contextlib.contextmanager
def _with_parquet_field_ids(spark):
    """Scope ``spark.sql.parquet.fieldId.write.enabled`` to one write (the
    column-mapping rewrites need parquet field ids emitted from the alias
    metadata) and restore the caller's setting — a bare ``conf.set`` would
    change the SHARED session's behavior for every later unrelated write.
    Harmless for frames without id metadata, but scoping is the same
    discipline as ``_one_file_per_task``."""
    key = "spark.sql.parquet.fieldId.write.enabled"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _read_footer_stats_safe(abs_path: str) -> dict | None:
    try:
        from sdlt_spark.store.vintage import _read_footer_stats

        return _read_footer_stats(abs_path)
    except Exception:  # noqa: BLE001 — stats are an optimization
        return None


def allocate_base_row_ids(
    table_path: str, rels: list[str], prior_hwm: int | None = None
) -> tuple[dict[str, int], int]:
    """Assign disjoint fresh-row-id ranges to the files about to be
    committed: ``(base_row_ids, new_high_water_mark)`` in
    :meth:`DeltaLogWriter.commit`'s shape. Each file's range is
    [base, base + numRecords) — numRecords comes from the parquet footer
    (metadata-only, no data read). ``prior_hwm`` defaults to the table's
    current ``delta.rowTracking`` domain state (-1 on a fresh table)."""
    if prior_hwm is None:
        prior_hwm = -1
        try:
            from sdlt_spark.store.delta_read import DeltaTableReader

            reader = DeltaTableReader(None, table_path)
            prior_hwm = reader.row_id_high_water_mark()
        except (FileNotFoundError, ValueError):
            pass  # fresh table: no log yet / no metaData action
    from sdlt_spark.store.vintage import _read_footer_stats

    next_id = prior_hwm + 1
    out: dict[str, int] = {}
    for rel in rels:
        out[rel] = next_id
        zone = _read_footer_stats(os.path.join(table_path, rel))
        next_id += int((zone or {}).get("rows", 0))
    return out, next_id - 1


class DeltaLogWriter:
    """Append spec-shaped commits to a ``_delta_log``. The caller supplies
    relative data-file paths it has already written under the table root."""

    # sentinel distinguishing "never scanned" from "scanned, found None"
    _UNSCANNED = object()

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG)
        os.makedirs(self.log_dir, exist_ok=True)
        # id/protocol ride in writer state after the first resolve — a
        # metaData re-emit or DV upgrade on a long log otherwise pays a
        # newest-first full-log rescan PER COMMIT. The table id is stable
        # for the table's lifetime (Delta contract) so its cache never
        # goes stale; the protocol cache is refreshed from every action
        # this writer emits and dropped on a CAS conflict (the only point
        # a concurrent writer's upgrade becomes observable).
        self._table_id_cache: object = DeltaLogWriter._UNSCANNED
        self._protocol_cache: object = DeltaLogWriter._UNSCANNED

    def latest_version(self) -> int:
        """Current head version, -1 on an empty log."""
        return self._next_version() - 1

    def _existing_table_id(self) -> str | None:
        """The table's metadata.id from the newest metaData action —
        cached in writer state after the first resolve; JSON commits
        scanned newest-first, checkpoint replay as the fallback when
        every earlier JSON commit was cleaned up."""
        if self._table_id_cache is not DeltaLogWriter._UNSCANNED:
            return self._table_id_cache
        self._table_id_cache = self._scan_table_id()
        return self._table_id_cache

    def _scan_table_id(self) -> str | None:
        versions = sorted(
            (
                int(f[:-5])
                for f in os.listdir(self.log_dir)
                if f.endswith(".json") and f[:-5].isdigit()
            ),
            reverse=True,
        )
        for v in versions:
            try:
                with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        a = json.loads(line)
                        if "metaData" in a:
                            return a["metaData"].get("id")
            except OSError:
                continue
        try:
            from sdlt_spark.store.delta_read import DeltaTableReader

            return DeltaTableReader(None, self.path).snapshot().metadata.get("id")
        except Exception:  # noqa: BLE001 — no prior metadata resolvable
            return None

    def _existing_protocol(self) -> dict | None:
        """The newest protocol action on the log — cached in writer state
        (refreshed by every protocol action this writer emits, dropped on
        CAS conflict); JSON commits scanned newest-first, checkpoint
        replay as the fallback."""
        if self._protocol_cache is not DeltaLogWriter._UNSCANNED:
            p = self._protocol_cache
            return dict(p) if p is not None else None
        self._protocol_cache = self._scan_protocol()
        p = self._protocol_cache
        return dict(p) if p is not None else None

    def _scan_protocol(self) -> dict | None:
        versions = sorted(
            (
                int(f[:-5])
                for f in os.listdir(self.log_dir)
                if f.endswith(".json") and f[:-5].isdigit()
            ),
            reverse=True,
        )
        for v in versions:
            try:
                with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        a = json.loads(line)
                        if "protocol" in a:
                            return dict(a["protocol"])
            except OSError:
                continue
        try:
            from sdlt_spark.store.delta_read import DeltaTableReader

            snap = DeltaTableReader(None, self.path).snapshot()
            return dict(snap.protocol) if snap.protocol else None
        except Exception:  # noqa: BLE001
            return None

    def _next_version(self) -> int:
        """Max over JSON commits AND checkpoint versions + 1 — a log whose
        pre-checkpoint JSON commits were cleaned up must keep counting
        from the checkpoint, not restart at 0 (which would corrupt the
        table for every replaying reader)."""
        versions = [
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        for f in os.listdir(self.log_dir):
            if ".checkpoint" in f and (
                f.endswith(".parquet") or f.endswith(".json")
            ):
                head = f.split(".", 1)[0]
                if head.isdigit():
                    versions.append(int(head))
        return max(versions) + 1 if versions else 0

    def commit(
        self,
        adds: list[tuple[str, dict]] | None = None,
        removes: list | None = None,
        schema_json: str | None = None,
        partition_columns: list[str] | None = None,
        operation: str = "WRITE",
        collect_stats: bool = True,
        stats_override: dict[str, dict] | None = None,
        dvs: dict[str, dict] | None = None,
        cdc: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        configuration: dict[str, str] | None = None,
        data_change: bool = True,
        protocol: dict | None = None,
        operation_params: dict[str, str] | None = None,
        expected_version: int | None = None,
        base_row_ids: dict[str, int] | None = None,
        row_id_high_water_mark: int | None = None,
        row_commit_versions: dict[str, int] | None = None,
        domain_metadata: list[dict] | None = None,
    ) -> int:
        """One commit: ``adds`` = (relative path, partitionValues) pairs,
        ``removes`` = relative paths, or ``(relative path, deletionVector
        descriptor)`` pairs for files whose last add carried a DV — Delta
        keys logical files on (path, dv uniqueId), so a spec-conforming
        reader reconciles a remove against an add only when the
        descriptors match; omitting it would leave the stale add live and
        resurrect deleted rows for stock readers. The first commit must carry
        ``schema_json`` (a Spark StructType json) — it becomes the
        metaData action; later commits repeat metaData only when the
        schema changes (pass it again to evolve).

        ``dvs`` maps a relative path to a ``deletionVector`` descriptor
        (see :mod:`sdlt_spark.store.delta_dv`) attached to that add action
        — how Delta's DELETE records row-level deletes without rewriting
        the file. A table carrying DVs needs reader protocol v3, emitted
        automatically.

        ``collect_stats`` records Delta's per-file zone maps (numRecords +
        minValues/maxValues from the parquet footer — metadata-only reads)
        in each add action's ``stats`` field, so stock Delta readers AND
        :class:`~sdlt_spark.store.delta_read.DeltaTableReader.read_where`
        can file-skip. ``stats_override`` maps relative path to an
        already-known ``{"rows", "min", "max"}`` zone (the VintageTable
        stats shape) to avoid re-reading footers on export."""
        version = self._next_version()
        if expected_version is not None and version != expected_version:
            # Delta's optimistic concurrency: the caller derived this commit
            # from the snapshot at expected_version - 1; another writer won
            # the race, so publishing would be a lost update (e.g. both
            # sides rewriting one file duplicates its rows). The caller
            # must re-resolve the log and recompute.
            raise DeltaCommitConflictError(
                f"expected to commit version {expected_version} but the log "
                f"is at {version - 1}: a concurrent writer committed first"
            )
        ts = int(time.time() * 1000)
        if version > 0:
            # inCommitTimestamp must be STRICTLY monotonic (PROTOCOL.md —
            # timestampAsOf binary-searches on it): under clock skew or
            # sub-ms commit bursts, bump past the previous commit's clock
            prev = os.path.join(self.log_dir, f"{version - 1:020d}.json")
            try:
                with open(prev) as pf:
                    for line in pf:
                        line = line.strip()
                        if not line:
                            continue
                        a = json.loads(line)
                        if "commitInfo" in a:
                            prev_ict = a["commitInfo"].get("inCommitTimestamp")
                            if prev_ict is not None and ts <= prev_ict:
                                ts = prev_ict + 1
                            break
            except OSError:
                pass  # previous commit checkpointed away: mtimes rule there
        # CHECK constraints (delta.constraints.*) are a writer-version-3
        # feature, generated columns writer-version-4: stock writers must
        # see the floor or they would append rows without enforcing the
        # invariant / recomputing the expression
        min_writer = 2
        if any(k.startswith("delta.constraints.") for k in (configuration or {})):
            min_writer = 3
        if schema_json and "delta.generationExpression" in schema_json:
            min_writer = 4
        if schema_json and "delta.identity." in schema_json:
            min_writer = 6  # identityColumns floor
        actions: list[dict] = []
        if protocol is not None:
            # caller-supplied protocol wins outright — clones copy the
            # source's full feature set, and a SYNC that both carries DVs
            # and first introduces CHECK constraints passes the merged
            # (3,7)+checkConstraints form itself
            actions.append({"protocol": protocol})
        elif dvs:
            # DV-bearing tables are protocol (3, 7) with the feature named
            # — emitted as an upgrade of the EXISTING protocol (its legacy
            # versions translate to explicit features), never a bare
            # replacement that would drop e.g. checkConstraints: stock
            # writers would then append without enforcing the invariant
            existing = self._existing_protocol()
            if existing is None:
                # fresh table born with DVs: upgrade the implied legacy
                # floor this commit's own configuration/schema demands
                existing = {"minReaderVersion": 1, "minWriterVersion": min_writer}
            actions.append({"protocol": upgraded_dv_protocol(existing)})
        elif version == 0 and protocol is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": min_writer}}
            )
        if version == 0 and schema_json is None:
            raise ValueError("first Delta commit needs schema_json")
        if schema_json is not None:
            # table id is STABLE for the table's lifetime (Delta contract:
            # streaming readers key checkpoints on metadata.id and abort on
            # a change) — a re-emitted metaData carries the v0 id; only the
            # very first commit mints one
            table_id = (
                self._existing_table_id() if version > 0 else None
            ) or str(uuid.uuid4())
            actions.append(
                {
                    "metaData": {
                        "id": table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": partition_columns or [],
                        "configuration": dict(configuration or {}),
                        "createdTime": ts,
                    }
                }
            )
        for rel, pvals in adds or []:
            abs_f = os.path.join(self.path, rel)
            add = {
                # Delta URL-encodes paths (spaces, '#', ...)
                "path": urllib.parse.quote(rel),
                # spec: values are strings, a null partition value is JSON
                # null (not the string "None")
                "partitionValues": {
                    k: (None if v is None else str(v))
                    for k, v in (pvals or {}).items()
                },
                "size": os.path.getsize(abs_f) if os.path.exists(abs_f) else 0,
                "modificationTime": ts,
                # dataChange=false marks logically-invisible rewrites
                # (compaction): CDC readers skip the commit whole
                "dataChange": data_change,
            }
            if dvs and rel in dvs:
                add["deletionVector"] = dvs[rel]
            if base_row_ids and rel in base_row_ids:
                # PROTOCOL.md "Row Tracking": fresh row id of a row =
                # baseRowId + its position in the file; the commit that
                # wrote the rows is their default row commit version — a
                # re-add of an unchanged file (DV update) overrides it
                # with the file's ORIGINAL version via row_commit_versions
                add["baseRowId"] = int(base_row_ids[rel])
                add["defaultRowCommitVersion"] = int(
                    (row_commit_versions or {}).get(rel, version)
                )
            zone = (stats_override or {}).get(rel)
            if zone is None and collect_stats and os.path.exists(abs_f):
                try:
                    from sdlt_spark.store.vintage import _read_footer_stats

                    zone = _read_footer_stats(abs_f)
                except Exception:
                    zone = None  # stats are an optimization, never a blocker
            if zone is not None:
                stats_payload = {
                    "numRecords": zone.get("rows", 0),
                    "minValues": _truncate_stat_strings(
                        zone.get("min", {}), is_max=False
                    ),
                    "maxValues": _truncate_stat_strings(
                        zone.get("max", {}), is_max=True
                    ),
                }
                if zone.get("nulls"):
                    # Delta's nullCount: IS NULL / IS NOT NULL skipping for
                    # stock readers (ours keeps files with missing entries)
                    stats_payload["nullCount"] = zone["nulls"]
                add["stats"] = json.dumps(stats_payload)
            actions.append({"add": add})
        for item in removes or []:
            if isinstance(item, tuple):
                rel, rem_dv = item[0], item[1]
                rm_pvals = item[2] if len(item) > 2 else None
            else:
                rel, rem_dv, rm_pvals = item, None, None
            rm = {
                "path": urllib.parse.quote(rel),
                "deletionTimestamp": ts,
                "dataChange": data_change,
            }
            if rem_dv:
                # the (path, dvId) identity of the logical file this remove
                # cancels, plus extendedFileMetadata per PROTOCOL.md — which
                # promises the file's REAL partitionValues (callers pass
                # them as the tuple's third element on partitioned tables;
                # an empty map is only correct for unpartitioned ones)
                abs_r = os.path.join(self.path, rel)
                rm["extendedFileMetadata"] = True
                rm["partitionValues"] = {
                    k: (None if v is None else str(v))
                    for k, v in (rm_pvals or {}).items()
                }
                if os.path.exists(abs_r):
                    rm["size"] = os.path.getsize(abs_r)
                rm["deletionVector"] = rem_dv
            actions.append({"remove": rm})
        for item in cdc or []:
            # change-data files (PROTOCOL.md "Add CDC File"): the commit's
            # row-level change set; CDF readers use these INSTEAD of
            # deriving from add/remove. Each entry is a rel path or a
            # (rel path, partitionValues) pair — on partitioned tables the
            # action MUST carry the file's partition values (stock CDF
            # readers populate partition columns from the action, not the
            # parquet; PROTOCOL.md "Add CDC File" requires it).
            rel, cdc_pv = (
                item if isinstance(item, tuple) else (item, {})
            )
            abs_f = os.path.join(self.path, rel)
            actions.append(
                {
                    "cdc": {
                        "path": urllib.parse.quote(rel),
                        "partitionValues": cdc_pv or {},
                        "size": os.path.getsize(abs_f) if os.path.exists(abs_f) else 0,
                        "dataChange": False,
                    }
                }
            )
        for dm in domain_metadata or []:
            # caller-supplied domainMetadata actions (clustering state,
            # app domains, ...) — configuration must already be a string
            # per PROTOCOL.md
            actions.append(
                {
                    "domainMetadata": {
                        "domain": dm["domain"],
                        "configuration": dm.get("configuration", "{}"),
                        "removed": bool(dm.get("removed", False)),
                    }
                }
            )
        if row_id_high_water_mark is not None:
            # row-id allocation state rides in domainMetadata so concurrent
            # writers can CAS disjoint ranges (PROTOCOL.md "Row Tracking")
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": int(row_id_high_water_mark)}
                        ),
                        "removed": False,
                    }
                }
            )
        if txn is not None:
            # SetTransaction (Delta's txnAppId/txnVersion idempotence):
            # lets a replaying streaming writer detect batches it already
            # committed via DeltaTableReader.last_txn_version
            actions.append(
                {"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": ts}}
            )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": ts,
                    # inCommitTimestamp (the table feature's field): makes
                    # timestampAsOf robust to file copies/rsync resetting
                    # mtimes — the reader prefers it over mtime already
                    "inCommitTimestamp": ts,
                    "operation": operation,
                    "operationParameters": operation_params or {},
                }
            }
        )
        final = os.path.join(self.log_dir, f"{version:020d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        # same atomic CAS publish discipline as the vintage log
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.remove(tmp)
            # a concurrent commit landed: its protocol (if any) is newer
            # than whatever this writer has cached — force a re-scan next
            # time. The table id stays: it is stable for the table's life.
            self._protocol_cache = DeltaLogWriter._UNSCANNED
            if expected_version is not None:
                raise DeltaCommitConflictError(
                    f"version {version} was committed concurrently while "
                    "this commit was being written"
                ) from None
            raise
        os.remove(tmp)
        for a in actions:
            if "protocol" in a:
                self._protocol_cache = dict(a["protocol"])
            if "metaData" in a:
                self._table_id_cache = a["metaData"].get("id")
        return version

    def write_checkpoint(
        self,
        version: int | None = None,
        tombstone_retention_hours: float = 168.0,
        v2: bool = False,
    ) -> int:
        """Write ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` for the
        snapshot at ``version`` (default: latest) — Delta's bounded-replay
        mechanism, PROTOCOL.md checkpoint schema (row-per-action parquet
        with protocol/metaData/add/txn/remove struct columns;
        partitionValues as a map). Downstream readers then replay
        O(commits-since-checkpoint) JSON files instead of the whole
        history. The snapshot state comes from this repo's own independent
        log-replay reader, so writer and reader can never drift. DV
        descriptors on live files are carried through; so are ALL
        setTransaction actions (a streaming writer's txnAppId/txnVersion
        idempotence must survive JSON log cleanup — PROTOCOL.md requires
        checkpoints to carry them) and remove tombstones still inside the
        retention window (VACUUM keys its safety off them).

        ``v2=True`` writes the V2 layout instead (PROTOCOL.md "V2
        Checkpoints", the default shape from modern Databricks runtimes):
        a UUID-named ``<v>.checkpoint.<uuid>.parquet`` manifest carrying
        protocol/metaData/txn/tombstones + a ``checkpointMetadata`` action
        and ``sidecar`` references, with the add actions parked in a
        ``_sidecars/<uuid>.parquet`` file. The emitted protocol then names
        the ``v2Checkpoint`` reader feature, as the spec requires of
        tables using the layout."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sdlt_spark.store.delta_read import DeltaTableReader

        # snapshot replay is pure metadata work: no SparkSession needed
        reader = DeltaTableReader(None, self.path)
        if version is None:
            version = reader.latest_version()
        snap = reader.snapshot(version=version)
        # the replayed protocol (snapshot tracks it through BOTH the JSON
        # commits and any prior checkpoint — a DV table whose upgrade
        # commit was log-cleaned must still checkpoint as (3,7), or a
        # legacy reader would pass the gate and resurrect deleted rows)
        proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}

        proto_t = pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ]
        )
        meta_t = pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        )
        dv_t = pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ]
        )
        add_t = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                ("deletionVector", dv_t),
                # row tracking: losing these to a checkpoint would shift
                # every fresh row id after JSON log cleanup
                ("baseRowId", pa.int64()),
                ("defaultRowCommitVersion", pa.int64()),
            ]
        )
        txn_t = pa.struct(
            [
                ("appId", pa.string()),
                ("version", pa.int64()),
                ("lastUpdated", pa.int64()),
            ]
        )
        domain_t = pa.struct(
            [
                ("domain", pa.string()),
                ("configuration", pa.string()),
                ("removed", pa.bool_()),
            ]
        )
        remove_t = pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
                ("extendedFileMetadata", pa.bool_()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("deletionVector", dv_t),
            ]
        )
        meta = snap.metadata
        meta_row = {
            "id": meta.get("id", "sdlt-export"),
            "format": {"provider": (meta.get("format") or {}).get("provider", "parquet")},
            "schemaString": meta.get("schemaString", snap.schema.json()),
            "partitionColumns": snap.partition_columns,
            "configuration": list((meta.get("configuration") or {}).items()),
            "createdTime": meta.get("createdTime"),
        }
        txn_rows_payload = [
            {
                "appId": app,
                "version": tv,
                "lastUpdated": None,
            }
            for app, tv in sorted(snap.txns.items())
        ]
        domain_rows_payload = [
            {
                "domain": dm.get("domain"),
                "configuration": dm.get("configuration"),
                "removed": False,
            }
            for _d, dm in sorted(snap.domains.items())
        ]
        # only tombstones still inside the retention window ride along —
        # expired ones have done their VACUUM-safety job (delta-spark
        # expires them at checkpoint time the same way)
        tomb_cutoff_ms = (time.time() - tombstone_retention_hours * 3600.0) * 1000
        tomb_rows_payload = []
        for (path, _uid), rem in sorted(
            snap.tombstones.items(), key=lambda kv: (kv[0][0], kv[0][1] or "")
        ):
            ts_ms = rem.get("deletionTimestamp")
            if ts_ms is not None and ts_ms < tomb_cutoff_ms:
                continue
            tomb_rows_payload.append(
                {
                    "path": urllib.parse.quote(path),
                    "deletionTimestamp": ts_ms,
                    "dataChange": False,
                    "extendedFileMetadata": rem.get("extendedFileMetadata"),
                    "partitionValues": list(
                        (rem.get("partitionValues") or {}).items()
                    )
                    if rem.get("partitionValues") is not None
                    else None,
                    "size": rem.get("size"),
                    "deletionVector": rem.get("deletionVector"),
                }
            )
        add_payload = []
        for rel in sorted(snap.files):
            abs_f = os.path.join(self.path, rel)
            st = snap.stats.get(rel)
            dv = snap.dvs.get(rel)
            base, dcv = snap.row_ids.get(rel, (None, None))
            add_payload.append(
                {
                    "path": urllib.parse.quote(rel),
                    "partitionValues": list(snap.files[rel].items()),
                    "size": os.path.getsize(abs_f) if os.path.exists(abs_f) else 0,
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": json.dumps(st) if st else None,
                    "deletionVector": dv,
                    "baseRowId": base,
                    "defaultRowCommitVersion": dcv,
                }
            )

        def _one_hot(payloads_by_col: dict[str, list], types_by_col: dict):
            """Row-per-action table: each column's payload rows occupy a
            distinct row range, null everywhere else."""
            n = sum(len(p) for p in payloads_by_col.values())
            cols, offset = {}, 0
            for name, payload in payloads_by_col.items():
                rows = [None] * offset + payload + [None] * (
                    n - offset - len(payload)
                )
                cols[name] = pa.array(rows, types_by_col[name])
                offset += len(payload)
            return pa.table(cols)

        if v2:
            # PROTOCOL.md requires tables using the layout to name the
            # feature; the manifest carries everything but the adds, which
            # park in a _sidecars/ file referenced by a sidecar action
            proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    set(proto.get("readerFeatures") or []) | {"v2Checkpoint"}
                ),
                "writerFeatures": sorted(
                    set(proto.get("writerFeatures") or []) | {"v2Checkpoint"}
                ),
            }
            sidecar_dir = os.path.join(self.log_dir, "_sidecars")
            os.makedirs(sidecar_dir, exist_ok=True)
            sc_name = f"{uuid.uuid4()}.parquet"
            pq.write_table(
                pa.table({"add": pa.array(add_payload, add_t)}),
                os.path.join(sidecar_dir, sc_name),
            )
            sc_abs = os.path.join(sidecar_dir, sc_name)
            ckpt_meta_t = pa.struct(
                [("version", pa.int64()), ("tags", pa.map_(pa.string(), pa.string()))]
            )
            sidecar_t = pa.struct(
                [
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                ]
            )
            tbl = _one_hot(
                {
                    "checkpointMetadata": [{"version": version, "tags": []}],
                    "protocol": [proto],
                    "metaData": [meta_row],
                    "txn": txn_rows_payload,
                    "remove": tomb_rows_payload,
                    "domainMetadata": domain_rows_payload,
                    "sidecar": [
                        {
                            "path": sc_name,
                            "sizeInBytes": os.path.getsize(sc_abs),
                            "modificationTime": 0,
                        }
                    ],
                },
                {
                    "checkpointMetadata": ckpt_meta_t,
                    "protocol": proto_t,
                    "metaData": meta_t,
                    "txn": txn_t,
                    "remove": remove_t,
                    "domainMetadata": domain_t,
                    "sidecar": sidecar_t,
                },
            )
            ckpt_name = f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
            n = tbl.num_rows
        else:
            tbl = _one_hot(
                {
                    "protocol": [proto],
                    "metaData": [meta_row],
                    "add": add_payload,
                    "txn": txn_rows_payload,
                    "remove": tomb_rows_payload,
                    "domainMetadata": domain_rows_payload,
                },
                {
                    "protocol": proto_t,
                    "metaData": meta_t,
                    "add": add_t,
                    "txn": txn_t,
                    "remove": remove_t,
                    "domainMetadata": domain_t,
                },
            )
            ckpt_name = f"{version:020d}.checkpoint.parquet"
            n = tbl.num_rows
        # tmp + atomic rename, same discipline as commit(): readers
        # discover checkpoints by directory listing, so a half-streamed
        # parquet (or a crash mid-write) must never be visible under the
        # final name — it would fail every replay until manual cleanup
        ckpt_final = os.path.join(self.log_dir, ckpt_name)
        ckpt_tmp = ckpt_final + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(tbl, ckpt_tmp)
        os.replace(ckpt_tmp, ckpt_final)
        last_final = os.path.join(self.log_dir, "_last_checkpoint")
        last_tmp = last_final + f".tmp-{uuid.uuid4().hex}"
        with open(last_tmp, "w") as f:
            json.dump({"version": version, "size": n}, f)
        os.replace(last_tmp, last_final)
        return version


def export_vintage_to_delta(
    vintage,
    dest_path: str,
    checkpoint_interval: int = 10,
    dv_mode: str = "rewrite",
    tombstone_retention_hours: float = 168.0,
    row_tracking: bool = False,
) -> int:
    """Publish the current snapshot of a ``VintageTable`` as a Delta table
    a stock Delta reader can open — and keep it in sync: re-exporting to
    an existing export diffs the snapshots and commits only the delta
    (adds + removes), so a long-lived downstream Delta consumer follows
    the vintage table incrementally instead of re-reading a full copy.

    The SOURCE is never touched (round-5 verdict item 2): live deletion
    vectors are folded into the exported data at export time — covered
    files are rewritten (one distributed anti-join job for all of them,
    written per-source-file via partitionBy so the output names stay
    deterministic); uncovered files are hard-linked (zero-copy,
    same-device) else copied. Export of a table you can only read works,
    and exporting never creates a version on the source.

    Incremental diffing keys on deterministic export names:
    ``data/part-<md5(src_rel | covering DV set)>.parquet`` — a file's
    export name changes exactly when its bytes-as-seen change (new file,
    or its DV coverage changed), so sync = set difference, no state file.

    Every ``checkpoint_interval`` commits the export gets a parquet
    checkpoint + ``_last_checkpoint`` (Delta's own bounded-replay
    mechanism), so downstream readers of a long-lived export replay
    O(interval) JSON commits, not O(history).

    ``dv_mode``:

    - ``"rewrite"`` (default): DV-covered files are rewritten with their
      deleted rows dropped — protocol (1,2), readable by every Delta
      reader ever shipped. Cost O(covered bytes).
    - ``"preserve"``: covered files hard-link too, and the vintage DV
      rows are translated into REAL roaring sidecars (storageType ``u``,
      the framed ``.bin`` format) attached to the add actions — cost
      O(deleted rows), zero data rewritten, but the export becomes a
      protocol (3,7) deletionVectors table (modern readers only)."""
    import hashlib

    from pyspark.sql import functions as F

    dest = os.path.abspath(dest_path)
    writer = DeltaLogWriter(dest)
    existing: dict[str, None] | set = set()
    existing_schema = None
    is_sync = False
    if any(
        f.endswith(".json") and f[:-5].isdigit()
        for f in os.listdir(writer.log_dir)
    ):
        from sdlt_spark.store.delta_read import DeltaTableReader

        snap = DeltaTableReader(vintage.spark, dest).snapshot()
        existing = set(snap.files)
        existing_dvs = dict(snap.dvs)
        existing_schema = snap.schema.json()
        existing_config = dict(snap.metadata.get("configuration") or {})
        is_sync = True
    else:
        existing_dvs = {}
        existing_config = {}

    vsnap = vintage._snapshot()
    data, dvs = vintage._split_live(vsnap.files)
    fparts = vintage._file_partitions()
    part_cols: list[str] = []
    mat_rels: list[str] = []
    if any(rel in fparts for rel in data):
        # a zero-copy partitioned import: the raw files lack their
        # partition columns (the values live in the vintage sidecar).
        # Files with sidecar values round-trip zero-copy — the values
        # become the add actions' partitionValues. Files a mutation has
        # MATERIALIZED (no sidecar entry; the partition column lives only
        # inline, and one rewritten file can span several partition
        # values) are rewrite-SPLIT by partition value at export time:
        # one bounded distributed job over just the materialized bytes
        # per sync, each (source file, partition tuple) landing in its
        # own data file with the column hoisted into partitionValues —
        # the shape every partitioned Delta reader requires.
        dset = set(data)
        part_cols = sorted(
            {c for rel, vals in fparts.items() if rel in dset for c in vals}
        )
        mat_rels = sorted(rel for rel in data if rel not in fparts)
    if not part_cols and is_sync and snap.partition_columns:
        # the DEST is already a partitioned Delta table but every live
        # source file has materialized its partition column (e.g. a
        # whole-table rewrite consumed the last sidecar entries): adds
        # with empty partitionValues against a metaData still declaring
        # partitionColumns would read NULL partition values in every
        # stock reader — split ALL the files instead
        part_cols = list(snap.partition_columns)
        mat_rels = sorted(data)
    src_stats = vsnap.stats
    coverage = vintage._dv_coverage(dvs) if dvs else {}
    covering: dict[str, list[str]] = {rel: [] for rel in data}
    for dv_rel, covered_abs in coverage.items():
        for rel in data:
            if vintage._abs(rel) in covered_abs:
                covering[rel].append(dv_rel)

    if dv_mode not in ("rewrite", "preserve"):
        raise ValueError(f"dv_mode={dv_mode!r}; expected 'rewrite' or 'preserve'")
    if part_cols and dvs and dv_mode == "rewrite":
        # a rewrite materializes the partition column INTO the new file
        # while its add would carry no partitionValues — broken for every
        # partitioned reader; preserve mode keeps the round trip zero-copy
        raise ValueError(
            "dv_mode='rewrite' cannot export a partitioned zero-copy import "
            "with live deletion vectors; use dv_mode='preserve'"
        )
    # preserve-mode DVs over MATERIALIZED partition files (the only mode
    # reaching here with DVs): a roaring descriptor indexes row positions
    # in the ORIGINAL file and the split rewrite reorders them — so instead
    # of exporting a descriptor, the split job APPLIES those files' DVs
    # during the rewrite it performs anyway (anti-join, the read path's
    # plan): the split outputs carry no DVs and cost nothing extra. Other
    # covered files still hard-link zero-copy with their descriptors.
    # (This lifts the round-8 refusal — no compact() detour needed.)

    def _token(rel: str) -> str:
        # mode participates for covered files only, so flipping dv_mode
        # re-exports exactly the DV-bearing files and nothing else
        mode_tag = "dv|" if (dv_mode == "preserve" and covering[rel]) else ""
        key = rel + "|" + mode_tag + ",".join(sorted(covering[rel]))
        return hashlib.md5(key.encode()).hexdigest()[:20]

    # materialized partition files get their export names from the split
    # job below (one name per (source file, partition tuple) — unknowable
    # without the scan), not from the static name map
    wanted: dict[str, str] = {
        f"data/part-{_token(rel)}.parquet": rel
        for rel in data
        if rel not in set(mat_rels)
    }
    os.makedirs(os.path.join(dest, "data"), exist_ok=True)

    dvs_out: dict[str, dict] = {}
    if dv_mode == "preserve" and dvs:
        # translate vintage (file, pos) sidecar rows into REAL roaring
        # descriptors per covered file — O(deleted rows) metadata work,
        # zero data movement (DV sidecars are tiny by design; the same
        # driver cost class as _dv_coverage)
        import pyarrow.parquet as _pq

        from sdlt_spark.store.delta_dv import write_dv_file

        pos_by_abs: dict[str, set[int]] = {}
        for dv_rel in dvs:
            t = _pq.read_table(vintage._abs(dv_rel), columns=["file", "pos"])
            for ref, pos in zip(
                t.column("file").to_pylist(), t.column("pos").to_pylist()
            ):
                abs_ref = ref if os.path.isabs(ref) else vintage._abs(ref)
                pos_by_abs.setdefault(os.path.normpath(abs_ref), set()).add(pos)
        for out_rel, rel in wanted.items():
            if not covering[rel] or out_rel in existing:
                continue
            positions = sorted(pos_by_abs.get(vintage._abs(rel), ()))
            if positions:
                dvs_out[out_rel] = write_dv_file(
                    dest, positions, str(uuid.uuid4()), prefix="deletion_vectors"
                )

    # rewrite every DV-covered file that isn't already exported — ONE
    # distributed job: scan covered files, anti-join the DV rows, write
    # partitioned by export token (each token lands in exactly one task
    # via repartition-by-token, so one output file per source file).
    # (Skipped entirely in dv_mode='preserve': covered files hard-link
    # and carry their roaring descriptor instead.)
    covered_new = sorted(
        out
        for out, rel in wanted.items()
        if covering[rel] and out not in existing
    ) if dv_mode == "rewrite" else []
    # Nothing lands in dest/data until just before the commit: new files
    # (rewritten AND hard-linked) stage under .staging-* — which vacuum's
    # orphan sweep explicitly skips — then os.replace into place at commit
    # time. Hard links inherit the source inode's possibly ancient mtime,
    # so a concurrent vacuum would otherwise sweep an in-flight sync's
    # files during the (long) window between linking and committing; the
    # remaining exposure is the microseconds between the renames and the
    # commit write.
    staging = os.path.join(dest, f".staging-{uuid.uuid4().hex}")
    pending_moves: list[tuple[str, str]] = []
    produced: set[str] = set()
    if covered_new:
        spark = vintage.spark
        covered_rels = [wanted[out] for out in covered_new]
        tok_by_src = {
            vintage._abs(rel): _token(rel) for rel in covered_rels
        }
        surv = vintage._drop_dv_rows(
            vintage._with_dv_key(vintage._read_files(covered_rels, vsnap.schema)),
            dvs,
        )
        # __dv_file is table-relative (absolute for clone-translated refs);
        # canonicalize to absolute to hit tok_by_src
        root = vintage.path.rstrip("/") + "/"
        abs_src = F.when(
            F.col("__dv_file").startswith("/"), F.col("__dv_file")
        ).otherwise(F.concat(F.lit(root), F.col("__dv_file")))
        mapping = F.create_map(
            *[F.lit(x) for kv in tok_by_src.items() for x in kv]
        )
        surv = (
            surv.withColumn("__tok", mapping[abs_src])
            .drop("__dv_file", "__dv_pos")
            .repartition(max(1, len(covered_rels)), "__tok")
        )
        rewrite_dir = os.path.join(staging, "rewrite")
        with _one_file_per_task(spark):
            surv.write.partitionBy("__tok").mode("errorifexists").parquet(
                rewrite_dir
            )
        for d in os.listdir(rewrite_dir):
            if not d.startswith("__tok="):
                continue
            tok = d.split("=", 1)[1]
            parts = sorted(
                f
                for f in os.listdir(os.path.join(rewrite_dir, d))
                if f.endswith(".parquet")
            )
            # repartition-by-token + pinned maxRecordsPerFile ⇒ exactly
            # one part per token; anything else would drop rows silently
            if len(parts) > 1:
                raise RuntimeError(
                    f"DV rewrite for token {tok} produced {len(parts)} "
                    "parquet parts; expected exactly one (is a writer "
                    "option splitting task output?)"
                )
            out_rel = f"data/part-{tok}.parquet"
            pending_moves.append(
                (os.path.join(rewrite_dir, d, parts[0]), os.path.join(dest, out_rel))
            )
            produced.add(out_rel)
        # a covered file whose rows were ALL deleted produces nothing and
        # must not be added
        wanted = {
            out: rel
            for out, rel in wanted.items()
            if not (covering[rel] and out in covered_new and out not in produced)
        }

    # rewrite-SPLIT every materialized partition file: one distributed job
    # over ONLY the materialized bytes, grouped by (source token, partition
    # tuple) so each group lands in exactly one output file with the
    # partition columns hoisted out of the data (partitionBy drops them)
    # and into the directory name → the add action's partitionValues.
    # Output names are content-addressed on (token, partition tuple), so a
    # re-sync re-scans the materialized files (their leaf set is unknowable
    # without a scan) but re-links nothing that already exists.
    mat_pv: dict[str, dict] = {}
    if mat_rels:
        from sdlt_spark.store.paths import (
            decode_hive_segments,
            decoded_file_path,
        )

        spark = vintage.spark
        tok_by_abs = {vintage._abs(rel): _token(rel) for rel in mat_rels}
        mdf = vintage._read_files(mat_rels, vsnap.schema)
        mapping = F.create_map(
            *[F.lit(x) for kv in tok_by_abs.items() for x in kv]
        )
        mat_dvs = sorted({dv for rel in mat_rels for dv in covering[rel]})
        if mat_dvs:
            # fold the covering DVs into the split rewrite (see the note
            # above _token): anti-join the deleted positions away, then
            # derive the token from the canonicalized __dv_file — after a
            # join, _metadata is no longer referencable, and __dv_file is
            # exactly the per-row file identity the DV key carries
            surv = vintage._drop_dv_rows(vintage._with_dv_key(mdf), mat_dvs)
            root_ = vintage.path.rstrip("/") + "/"
            abs_src = F.when(
                F.col("__dv_file").startswith("/"), F.col("__dv_file")
            ).otherwise(F.concat(F.lit(root_), F.col("__dv_file")))
            mdf = surv.withColumn("__tok", mapping[abs_src]).drop(
                "__dv_file", "__dv_pos"
            )
        else:
            mdf = mdf.withColumn(
                "__tok", mapping[decoded_file_path(F.col("_metadata.file_path"))]
            )
        mdf = mdf.repartition(max(1, len(mat_rels)), "__tok", *part_cols)
        mat_dir = os.path.join(staging, "matsplit")
        with _one_file_per_task(spark):
            mdf.write.partitionBy("__tok", *part_cols).mode(
                "errorifexists"
            ).parquet(mat_dir)

        def _leafs(d: str, pv: dict) -> list[tuple[str, dict]]:
            sub = [
                f for f in os.listdir(d)
                if "=" in f and os.path.isdir(os.path.join(d, f))
            ]
            if not sub:
                parts = sorted(
                    f for f in os.listdir(d) if f.endswith(".parquet")
                )
                # pinned maxRecordsPerFile ⇒ one part per (token,
                # partition tuple); a multi-part leaf would silently drop
                # every row past parts[0] from the exported table
                if len(parts) > 1:
                    raise RuntimeError(
                        f"partition split leaf {d} produced {len(parts)} "
                        "parquet parts; expected exactly one (is a "
                        "writer option splitting task output?)"
                    )
                return [(os.path.join(d, parts[0]), pv)] if parts else []
            out = []
            for s in sub:
                out.extend(
                    _leafs(
                        os.path.join(d, s),
                        {**pv, **decode_hive_segments([s])},
                    )
                )
            return out

        for d in os.listdir(mat_dir):
            if not d.startswith("__tok="):
                continue
            tok = d.split("=", 1)[1]
            for leaf_file, pv in _leafs(os.path.join(mat_dir, d), {}):
                pv_key = json.dumps(pv, sort_keys=True)
                name = hashlib.md5(
                    f"{tok}|pv|{pv_key}".encode()
                ).hexdigest()[:20]
                out_rel = f"data/part-{name}.parquet"
                wanted[out_rel] = d  # keep it out of the remove set
                mat_pv[out_rel] = pv
                if out_rel in existing:
                    continue  # unchanged since the last sync
                pending_moves.append(
                    (leaf_file, os.path.join(dest, out_rel))
                )
                produced.add(out_rel)

    stats_override: dict[str, dict] = {}
    adds: list[tuple[str, dict]] = []
    link_dir = os.path.join(staging, "link")
    for out_rel in sorted(set(wanted) - set(existing)):
        rel = wanted[out_rel]
        if out_rel in produced:
            # stats via footer read at commit; split outputs carry their
            # partition tuple
            adds.append((out_rel, mat_pv.get(out_rel, {})))
            continue
        src = vintage._abs(rel)
        os.makedirs(link_dir, exist_ok=True)
        staged = os.path.join(link_dir, os.path.basename(out_rel))
        try:
            os.link(src, staged)
        except OSError:
            shutil.copy2(src, staged)
        pending_moves.append((staged, os.path.join(dest, out_rel)))
        # a partitioned round trip: the sidecar's per-file constants become
        # the add action's partitionValues (raw spec strings, zero-copy)
        adds.append((out_rel, fparts.get(rel, {}) if part_cols else {}))
        if rel in src_stats:
            # carry the vintage zone maps across (no footer re-reads)
            stats_override[out_rel] = src_stats[rel]
    # a removed file that carried a DV (preserve-mode exports) must name
    # that DV on its remove action — spec readers reconcile on (path, dvId)
    removes = [
        (rel, existing_dvs[rel], snap.files.get(rel) or {})
        if rel in existing_dvs
        else rel
        for rel in sorted(set(existing) - set(wanted))
    ]

    schema_json = vsnap.schema.json()
    # vintage CHECK constraints publish as delta.constraints.* (the inverse
    # of what import_delta_to_vintage reads back) so stock Delta WRITERS
    # keep enforcing the source's invariants on the export
    desired_config = {
        f"delta.constraints.{name}": expr
        for name, expr in sorted(vintage.constraints().items())
    }
    config_changed = desired_config != {
        k: v
        for k, v in existing_config.items()
        if k.startswith("delta.constraints.")
    }
    # partitionColumns live on the metaData action: a sync whose partition
    # layout changed (e.g. a later zero-copy partitioned import into a
    # previously unpartitioned export) must re-emit it, or adds carrying
    # partitionValues would sit under metaData still declaring
    # partitionColumns=[] and every reader would see NULL partition values
    parts_changed = is_sync and sorted(part_cols) != sorted(
        snap.partition_columns or []
    )
    if (
        existing_schema is not None
        and json.loads(existing_schema) == json.loads(schema_json)
        and not config_changed
        and not parts_changed
    ):
        schema_json_arg = None  # unchanged: don't repeat metaData
    else:
        schema_json_arg = schema_json
    # a SYNC that first introduces constraints must also raise
    # minWriterVersion to 3 — the v0 protocol said (1,2) and stock
    # writers would keep ignoring the new invariant otherwise
    protocol_arg = None
    if is_sync and desired_config and config_changed:
        cur = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        if cur.get("minWriterVersion", 1) < 3 and "writerFeatures" not in cur:
            protocol_arg = {
                "minReaderVersion": cur.get("minReaderVersion", 1),
                "minWriterVersion": 3,
            }
    # a sync that BOTH carries DVs and first introduces constraints needs
    # the merged feature-protocol form — explicit protocol wins in commit()
    if protocol_arg is not None and any(
        a[0] in dvs_out for a in adds
    ):
        protocol_arg = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "checkConstraints"],
        }
    # Row tracking on the export: requested at creation (row_tracking=True)
    # or inherited by a sync whose target is already tracked — every add
    # then carries a fresh baseRowId range and the HWM domain advances
    target_tracked = False
    if is_sync and snap is not None:
        wf_now = set((snap.protocol or {}).get("writerFeatures") or [])
        target_tracked = (
            existing_config.get("delta.enableRowTracking") == "true"
            or "rowTracking" in wf_now
        )
    want_tracking = row_tracking or target_tracked
    rt_config: dict[str, str] = {}
    if want_tracking and not target_tracked:
        # first tracked commit: protocol upgrade + configuration keys
        base_proto = protocol_arg or (snap.protocol if is_sync else None)
        if base_proto is None:
            if dvs_out:
                base_proto = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            else:
                base_proto = {
                    "minReaderVersion": 1,
                    "minWriterVersion": 3 if desired_config else 2,
                }
        protocol_arg = row_tracking_protocol(base_proto)
        rt_config = row_tracking_configuration()
        if schema_json_arg is None:
            schema_json_arg = schema_json  # config change forces metaData
    row_kwargs: dict = {}
    if want_tracking and adds:
        prior = (
            DeltaTableReader(None, dest).row_id_high_water_mark(snap)
            if is_sync and snap is not None
            else -1
        )
        next_id = prior + 1
        base_ids: dict[str, int] = {}
        # new adds still live under .staging-* at this point (pending_moves
        # publishes them just before the commit) — footer reads must hit
        # the staged file, not the not-yet-existing dest path
        staged_for = {
            os.path.relpath(final, dest): staged
            for staged, final in pending_moves
        }
        for rel, _pv in adds:
            base_ids[rel] = next_id
            z = stats_override.get(rel)
            if z is None or z.get("rows") is None:
                z = _read_footer_stats_safe(staged_for.get(rel, os.path.join(dest, rel)))
            rows = (z or {}).get("rows")
            if rows is None:
                # a silent 0 would hand the NEXT file an overlapping
                # baseRowId range — duplicate row ids are a correctness
                # corruption every downstream MERGE would compound, so a
                # tracked export must abort, matching allocate_base_row_ids
                # on the mutation path
                raise OSError(
                    f"cannot determine numRecords for {rel!r} (unreadable "
                    "parquet footer): refusing to allocate baseRowId "
                    "ranges for a row-tracked export"
                )
            next_id += int(rows)
        row_kwargs = {
            "base_row_ids": base_ids,
            "row_id_high_water_mark": next_id - 1,
        }
    try:
        if is_sync and not adds and not removes and schema_json_arg is None:
            return writer._next_version() - 1  # already in sync: no empty commit

        # publish the staged files and commit immediately after — the
        # vacuum-exposure window is these renames, not the whole sync
        for staged, final in pending_moves:
            os.replace(staged, final)
        version = writer.commit(
            adds=adds,
            removes=removes,
            # CAS: the wanted/remove sets were derived from `snap` (sync)
            # or assume a fresh table (first export) — racing writers must
            # fail loudly, not silently lose their commit
            expected_version=(snap.version + 1) if is_sync else 0,
            schema_json=schema_json_arg,
            partition_columns=part_cols,
            operation="WRITE" if not is_sync else "SYNC",
            stats_override=stats_override,
            dvs={k: v for k, v in dvs_out.items() if any(a[0] == k for a in adds)}
            or None,
            configuration=(
                {
                    **{
                        k: v
                        for k, v in existing_config.items()
                        if not k.startswith("delta.constraints.")
                    },
                    **desired_config,
                    **rt_config,
                }
                if schema_json_arg is not None
                else None
            ),
            protocol=protocol_arg,
            **row_kwargs,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if checkpoint_interval and version > 0 and version % checkpoint_interval == 0:
        # align tombstone carry-over with the vacuum retention the export's
        # operator uses — a checkpoint dropping tombstones younger than the
        # vacuum window would lose their protection after JSON log cleanup
        writer.write_checkpoint(
            version, tombstone_retention_hours=tombstone_retention_hours
        )
    return version


def _parse_retention_interval(raw: str) -> float | None:
    """``delta.deletedFileRetentionDuration`` -> hours. The documented
    shape is ``interval <n> <unit>`` (hour[s]/day[s]/week[s], also
    minute[s]/second[s]); unparseable values return None (caller keeps
    its default — a misread retention must never shorten the window)."""
    units = {
        "second": 1 / 3600.0,
        "minute": 1 / 60.0,
        "hour": 1.0,
        "day": 24.0,
        "week": 168.0,
    }
    try:
        parts = str(raw).strip().lower().split()
        if parts and parts[0] == "interval":
            parts = parts[1:]
        n = float(parts[0])
        unit = parts[1].rstrip("s")
        return n * units[unit]
    except (IndexError, ValueError, KeyError, AttributeError):
        return None


def vacuum_delta_export(
    dest_path: str, retention_hours: float | None = None
) -> list[str]:
    """Delta-style VACUUM for an exported table: physically delete data
    files that are not referenced by the CURRENT snapshot and whose
    modification time is older than the retention window. The window
    comes from, in order: the explicit argument, the table's
    ``delta.deletedFileRetentionDuration`` configuration, Delta's default
    168 h. Time travel to versions needing those files stops working —
    exactly Delta's documented trade-off. Returns the deleted relative
    paths.

    Metadata-plane driver work: one log replay + one directory listing;
    never reads data. Hard-linked exports share inodes with the source
    table, so deleting a link here never corrupts the source (the inode
    lives until its last link drops)."""
    import time as _time

    from sdlt_spark.store.delta_read import DeltaTableReader

    dest = os.path.abspath(dest_path)
    reader = DeltaTableReader(None, dest)  # metadata-only: no session
    snap = reader.snapshot()
    if retention_hours is None:
        cfg = (snap.metadata.get("configuration") or {}).get(
            "delta.deletedFileRetentionDuration"
        )
        parsed = _parse_retention_interval(cfg) if cfg else None
        # NOT `or`: a configured "interval 0 hours" means zero, not default
        retention_hours = 168.0 if parsed is None else parsed
    from sdlt_spark.store.paths import resolve_table_path

    live = {
        os.path.normpath(resolve_table_path(dest, rel)) for rel in snap.files
    }
    # DV sidecars referenced by live add actions are live too (a swept
    # .bin would make every read of its covered file fail loudly)
    from sdlt_spark.store.delta_dv import dv_file_path

    for desc in snap.dvs.values():
        p = dv_file_path(desc, dest)
        if p is not None:
            live.add(os.path.normpath(p))
    now = _time.time()
    cutoff = now - retention_hours * 3600.0
    # retention is keyed on the remove action's deletionTimestamp (Delta's
    # VACUUM contract), NOT the file's mtime — hard-linked exports inherit
    # the SOURCE inode's possibly ancient mtime, which would delete a
    # just-tombstoned file immediately and break time travel inside the
    # window. Tombstones come from the snapshot replay, which folds BOTH
    # JSON commits and checkpoint-carried remove rows — so log cleanup
    # does not silently shorten a file's protection.
    removed_at: dict[str, float] = {}
    for (rel, _uid), rem in snap.tombstones.items():
        ts = rem.get("deletionTimestamp")
        at = ts / 1000.0 if ts is not None else now
        # the strictly-monotonic inCommitTimestamp bump can stamp a remove
        # a few ms AHEAD of the wall clock (same-millisecond commits get
        # prev_ict + 1); clamp to the sweep's own `now` so a future stamp
        # can't outlive a zero-retention sweep run immediately after the
        # delete (cutoff derives from the same instant, so clamped == now
        # is never > cutoff at retention 0)
        at = min(at, now)
        abs_f = os.path.normpath(resolve_table_path(dest, rel))
        removed_at[abs_f] = max(removed_at.get(abs_f, 0.0), at)
        # a tombstoned logical file's DV sidecar ages on the same clock
        # (time travel inside the window still needs to expand it)
        desc = rem.get("deletionVector")
        if desc:
            p = dv_file_path(desc, dest)
            if p is not None:
                p = os.path.normpath(p)
                removed_at[p] = max(removed_at.get(p, 0.0), at)
    deleted: list[str] = []
    for dirpath, _, files in os.walk(dest):
        # substring match: staged files live in NESTED subdirs of
        # .staging-* (link/, rewrite/__tok=...), and a basename-only check
        # would sweep an in-flight sync's hard links (ancient inode mtimes)
        if _LOG in dirpath or ".staging-" in dirpath:
            continue
        for f in files:
            # .parquet data files AND .bin DV sidecars (a removed
            # preserve-mode file's roaring bitmap would otherwise orphan
            # forever); bins are written fresh at export so their mtime is
            # an honest orphan clock, and tombstone-referenced ones age
            # from the remove's deletionTimestamp like their data file
            if not (f.endswith(".parquet") or f.endswith(".bin")):
                continue
            abs_f = os.path.normpath(os.path.join(dirpath, f))
            if abs_f in live:
                continue
            # tombstoned files age from their deletionTimestamp; orphans
            # the log never referenced (crashed half-syncs) from mtime
            try:
                age_ref = removed_at.get(abs_f, os.path.getmtime(abs_f))
                if age_ref > cutoff:
                    continue
                os.remove(abs_f)
                deleted.append(os.path.relpath(abs_f, dest))
            except OSError:
                pass  # raced with a concurrent sync; next vacuum sweeps it
    return sorted(deleted)


def set_clustering_columns(dest_path: str, cols: list[str]) -> int:
    """Declare (or change) a table's liquid-clustering columns — the
    ``delta.clustering`` domainMetadata modern delta-spark writes for
    ``CLUSTER BY`` tables. One metadata commit; the layout itself is
    applied by the next :func:`optimize_delta_export`, which defaults its
    clustering key to these columns. The protocol upgrades to writer v7
    naming ``clusteringColumns`` (the feature readers may ignore) +
    ``domainMetadata`` (where the state lives)."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    dest = os.path.abspath(dest_path)
    reader = DeltaTableReader(None, dest)
    snap = reader.snapshot()
    missing = [c for c in cols if c not in snap.schema.names]
    if missing:
        raise ValueError(f"clustering columns not in schema: {missing}")
    proto = snap.protocol or {}
    w = proto.get("minWriterVersion", 1)
    wf = set(proto.get("writerFeatures") or [])
    if w < 7:
        for lvl, feats in _LEGACY_WRITER_FEATURES.items():
            if w >= lvl:
                wf.update(feats)
    wf.update({"clusteringColumns", "domainMetadata"})
    wf.update(proto.get("readerFeatures") or [])
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(wf),
    }
    if proto.get("readerFeatures") or proto.get("minReaderVersion", 1) >= 3:
        new_proto["readerFeatures"] = sorted(proto.get("readerFeatures") or [])
    writer = DeltaLogWriter(dest)
    return writer.commit(
        operation="CLUSTER BY",
        operation_params={"clusterBy": json.dumps(cols)},
        protocol=new_proto,
        domain_metadata=[
            {
                "domain": "delta.clustering",
                # the spec nests each clustering column as a name-path
                "configuration": json.dumps(
                    {"clusteringColumns": [[c] for c in cols]}
                ),
            }
        ],
        expected_version=snap.version + 1,
    )


def clustering_columns(snap) -> list[str]:
    """The table's declared liquid-clustering columns (top-level names),
    [] when unclustered."""
    dm = snap.domains.get("delta.clustering")
    if not dm:
        return []
    cfg = dm.get("configuration")
    try:
        if isinstance(cfg, str):
            cfg = json.loads(cfg)
        return [path[0] for path in (cfg or {}).get("clusteringColumns", [])]
    except (TypeError, ValueError, json.JSONDecodeError, IndexError):
        return []


def _tracked_rewrite_scan(reader, snap, rels):
    """Keyed physical scan of ``rels`` for an OPTIMIZE-style rewrite —
    ``(df, tracking)``. On a row-tracked table the stable ids are
    attached and renamed to the materialized hidden columns, so a
    dataChange=false rewrite cannot renumber rows (PROTOCOL.md: row ids
    must be preserved across OPTIMIZE; delta-spark materializes them the
    same way)."""
    from sdlt_spark.store.delta_mutate import _row_tracking

    tracking = _row_tracking(snap)
    extras = [c for c in reader._row_tracking_cols(snap) if c]
    df, _data_fields, _part_fields = reader._keyed_scan(
        snap, rels, keys=True, extra_physical=extras if tracking else None
    )
    if tracking:
        mat_rid, mat_rcv, _needs = tracking
        df = reader._attach_row_ids(snap, df, rels)
        if extras:
            df = df.drop(*extras)
        df = df.withColumnRenamed("row_id", mat_rid).withColumnRenamed(
            "row_commit_version", mat_rcv
        )
    return df, tracking


def _tracked_rewrite_kwargs(dest, reader, snap, produced, tracking) -> dict:
    if not tracking:
        return {}
    from sdlt_spark.store.delta_mutate import _tracking_commit_kwargs

    return _tracking_commit_kwargs(
        dest, reader, snap, [(rel, {}) for rel in produced], tracking
    )


def optimize_delta_export(
    dest_path: str,
    spark,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
) -> list[str]:
    """Delta's OPTIMIZE (bin-packing compaction) for a table this module
    writes — what a long-lived streaming-sink table needs: every
    micro-batch commit adds small files, and scan cost degrades with file
    count. Groups live files smaller than ``target_file_bytes`` into
    ~target-size bins, rewrites each bin as ONE file in ONE distributed
    job (scan all small files once; a broadcast path->bin map routes rows;
    repartition-by-bin makes exactly one output file per bin), and commits
    the swap with ``dataChange=false`` — logically invisible, so CDC
    readers skip it, exactly delta-spark's OPTIMIZE contract. Returns the
    new relative file names.

    DV-bearing files are left alone (compacting them would need the purge
    semantics the vintage store's own compact() implements); files already
    at or above the target are untouched. Bins with fewer than two files
    are skipped — rewriting a lone small file buys nothing.

    Scale shape: driver work is O(live files) metadata (the same class as
    log replay); data movement is O(small-file bytes), never the table.
    """
    from pyspark.sql import functions as F

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.paths import resolve_table_path

    dest = os.path.abspath(dest_path)
    reader = DeltaTableReader(spark, dest)
    snap = reader.snapshot()
    # (id-mode field-id emission is scoped to the rewrite writes below via
    # _with_parquet_field_ids — never set session-wide)
    if not zorder_by:
        # a liquid-clustered table's OPTIMIZE clusters on its declared
        # columns by default (delta-spark's behavior for CLUSTER BY
        # tables); an explicit zorder_by still overrides
        declared = clustering_columns(snap)
        if len(declared) >= 2:
            zorder_by = declared
    if zorder_by:
        return _zorder_delta_export(
            dest, spark, reader, snap, zorder_by, target_file_bytes
        )
    small: list[tuple[str, int]] = []
    for rel in sorted(snap.files):
        if rel in snap.dvs:
            continue  # purge is a different op; see docstring
        abs_f = resolve_table_path(dest, rel)
        try:
            size = os.path.getsize(abs_f)
        except OSError:
            continue
        if size < target_file_bytes:
            small.append((rel, size))
    # first-fit decreasing bin packing, WITHIN each partition-values group
    # — real OPTIMIZE compacts per partition; mixing partitions in one
    # output file would leave its add action unable to carry a single
    # partitionValues dict (rows would read their partition column NULL)
    def _pkey(rel: str) -> tuple:
        return tuple(sorted((snap.files[rel] or {}).items()))

    bins: list[tuple[int, list[str]]] = []  # (bytes, members)
    by_part: dict[tuple, list[tuple[str, int]]] = {}
    for rel, size in sorted(small, key=lambda rs: -rs[1]):
        by_part.setdefault(_pkey(rel), []).append((rel, size))
    for _pk, group in sorted(by_part.items()):
        start = len(bins)
        for rel, size in group:
            for i in range(start, len(bins)):
                used, members = bins[i]
                if used + size <= target_file_bytes:
                    bins[i] = (used + size, members + [rel])
                    break
            else:
                bins.append((size, [rel]))
    bins = [(u, m) for u, m in bins if len(m) >= 2]
    if not bins:
        return []

    writer = DeltaLogWriter(dest)
    bin_by_abs = {
        resolve_table_path(dest, rel): f"{i:06d}"
        for i, (_, members) in enumerate(bins)
        for rel in members
    }
    # every bin's members share one partitionValues dict by construction
    pvals_by_bin = {
        f"{i:06d}": snap.files[members[0]] or {}
        for i, (_, members) in enumerate(bins)
    }
    rels = [rel for _, members in bins for rel in members]
    # scan the files' RAW (physical) columns with the decoded path key
    # attached — partition values stay log-only (Delta's layout: compacted
    # files, like their sources, do not contain partition columns); on a
    # row-tracked table stable ids materialize into the compacted files
    df, tracking = _tracked_rewrite_scan(reader, snap, rels)
    mapping = F.create_map(*[F.lit(x) for kv in bin_by_abs.items() for x in kv])
    staging = os.path.join(dest, f".staging-{uuid.uuid4().hex}")
    produced: list[str] = []
    try:
        with _with_parquet_field_ids(spark):
            (
                df.withColumn("__bin", mapping[F.col("__delta_path")])
                .drop("__delta_path", "__delta_pos")
                .repartition(len(bins), "__bin")
                .write.partitionBy("__bin")
                .mode("errorifexists")
                .parquet(staging)
            )
        pending: list[tuple[str, str]] = []
        add_pvals: dict[str, dict] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith("__bin="):
                continue
            tok = d.split("=", 1)[1]
            parts = sorted(
                f
                for f in os.listdir(os.path.join(staging, d))
                if f.endswith(".parquet")
            )
            # usually exactly one part per bin (repartition-by-bin), but a
            # writer config like maxRecordsPerFile can split it — move and
            # add EVERY part, never silently drop rows
            for part in parts:
                out_rel = f"data/optimized-{uuid.uuid4().hex}.parquet"
                pending.append(
                    (os.path.join(staging, d, part), os.path.join(dest, out_rel))
                )
                produced.append(out_rel)
                add_pvals[out_rel] = pvals_by_bin.get(tok, {})
        os.makedirs(os.path.join(dest, "data"), exist_ok=True)
        for staged, final in pending:
            os.replace(staged, final)
        writer.commit(
            adds=[(rel, add_pvals[rel]) for rel in produced],
            removes=rels,
            operation="OPTIMIZE",
            data_change=False,
            # CAS: a concurrent mutation between our snapshot and this
            # commit would otherwise be clobbered (the compacted files
            # were read from the OLD snapshot — committing over a delete
            # would resurrect its rows)
            expected_version=snap.version + 1,
            **_tracked_rewrite_kwargs(dest, reader, snap, produced, tracking),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return produced


def _zorder_delta_export(
    dest: str,
    spark,
    reader,
    snap,
    zorder_by: list[str],
    target_file_bytes: int,
) -> list[str]:
    """OPTIMIZE ZORDER BY for an exported Delta table: rewrite ALL live
    files clustered on the Morton interleave of ``zorder_by`` (the shared
    :func:`sdlt_spark.store.zcurve.zorder_key` the vintage store's
    ``compact(zorder_by=...)`` uses), split into ~``target_file_bytes``
    files per partition-values group, committed ``dataChange=false`` with
    ``zOrderBy`` in operationParameters — delta-spark's contract. Each
    output file then covers a small hyper-rectangle of the key space, so
    log-carried min/max stats prune selective filters on EVERY listed
    column for downstream ``read_where`` and stock Delta readers alike.

    DV-bearing files are folded in: the rewrite applies their deletion
    vectors (the anti-join plan the read path uses) and the removes name
    the old descriptors, so the commit also PURGES DVs — logical content
    is unchanged, exactly delta-spark's OPTIMIZE-on-DV-table behavior.

    Scale shape: unlike bin-packing (O(small-file bytes)) this is a full
    clustering rewrite — O(live bytes) data movement through ONE
    range-shuffle, the price of re-clustering at any engine; driver work
    stays O(file-list) metadata plus two bounded aggs for the key's
    bucket bounds."""
    from pyspark.sql import functions as F

    from sdlt_spark.store.paths import resolve_table_path
    from sdlt_spark.store.zcurve import zorder_key

    part_set = set(snap.partition_columns)
    bad = [c for c in zorder_by if c in part_set or c not in snap.schema.names]
    if bad:
        raise ValueError(
            f"zorder_by columns must be non-partition data columns: {bad}"
        )
    rels = sorted(snap.files)
    if not rels:
        return []

    def _pkey(rel: str) -> tuple:
        return tuple(sorted((snap.files[rel] or {}).items()))

    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        groups.setdefault(_pkey(rel), []).append(rel)
    ordered = sorted(groups.items())
    tok_of = {pk: f"{i:06d}" for i, (pk, _) in enumerate(ordered)}
    pvals_by_tok = {
        tok_of[pk]: snap.files[members[0]] or {} for pk, members in ordered
    }
    n_files = 0
    for _pk, members in ordered:
        nbytes = 0
        for rel in members:
            try:
                nbytes += os.path.getsize(resolve_table_path(dest, rel))
            except OSError:
                pass
        n_files += max(1, (nbytes + target_file_bytes - 1) // target_file_bytes)

    df, tracking = _tracked_rewrite_scan(reader, snap, rels)
    covered = {rel: snap.dvs[rel] for rel in rels if rel in snap.dvs}
    if covered:
        df = reader._anti_join_dvs(df, covered)
    grp_map = F.create_map(
        *[
            x
            for pk, members in ordered
            for rel in members
            for x in (F.lit(resolve_table_path(dest, rel)), F.lit(tok_of[pk]))
        ]
    )
    df = df.withColumn("__grp", grp_map[F.col("__delta_path")]).drop(
        "__delta_path", "__delta_pos"
    )
    z = zorder_key(df, zorder_by)
    staging = os.path.join(dest, f".staging-{uuid.uuid4().hex}")
    produced: list[str] = []
    writer = DeltaLogWriter(dest)
    try:
        with _with_parquet_field_ids(spark):
            (
                df.withColumn("__z", z)
                .repartitionByRange(int(n_files), "__grp", "__z")
                .sortWithinPartitions("__grp", "__z")
                .drop("__z")
                .write.partitionBy("__grp")
                .mode("errorifexists")
                .parquet(staging)
            )
        pending: list[tuple[str, str]] = []
        add_pvals: dict[str, dict] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith("__grp="):
                continue
            tok = d.split("=", 1)[1]
            for part in sorted(
                f
                for f in os.listdir(os.path.join(staging, d))
                if f.endswith(".parquet")
            ):
                out_rel = f"data/zordered-{uuid.uuid4().hex}.parquet"
                pending.append(
                    (os.path.join(staging, d, part), os.path.join(dest, out_rel))
                )
                produced.append(out_rel)
                add_pvals[out_rel] = pvals_by_tok.get(tok, {})
        os.makedirs(os.path.join(dest, "data"), exist_ok=True)
        for staged, final in pending:
            os.replace(staged, final)
        writer.commit(
            adds=[(rel, add_pvals[rel]) for rel in produced],
            removes=[
                (rel, covered[rel], snap.files.get(rel) or {})
                if rel in covered
                else rel
                for rel in rels
            ],
            operation="OPTIMIZE",
            data_change=False,
            operation_params={"zOrderBy": json.dumps(zorder_by)},
            expected_version=snap.version + 1,  # CAS, see optimize
            **_tracked_rewrite_kwargs(dest, reader, snap, produced, tracking),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return produced


def clone_delta_export(src_path: str, dest_path: str) -> int:
    """Delta SHALLOW CLONE: create a NEW Delta table at ``dest_path``
    whose add actions point at the SOURCE table's data files by absolute
    path — PROTOCOL.md explicitly allows absolute add paths, and this is
    exactly the table shape delta-spark's ``CREATE TABLE ... SHALLOW
    CLONE`` writes. One metadata commit, zero data movement: cloning a
    100 TB table costs a log replay plus O(file-list) JSON.

    Carried over verbatim: schema, partition columns, configuration
    (constraints included), the full protocol feature set, per-file
    stats (no footer re-reads), partition values, and deletion vectors —
    ``u``-storage descriptors (relative to the source root) convert to
    ``p`` (absolute path) descriptors so they resolve from the clone.

    The clone then evolves independently: appends/OPTIMIZE land under
    the clone root; its VACUUM only walks the clone root, so the source
    table's files are physically untouchable from the clone side (and
    the source's own vacuum can still delete files the clone references
    — Delta's documented shallow-clone hazard, unchanged here)."""
    from sdlt_spark.store.delta_dv import dv_file_path
    from sdlt_spark.store.delta_read import DeltaTableReader

    src = os.path.abspath(src_path)
    dest = os.path.abspath(dest_path)
    log_dir = os.path.join(dest, _LOG)
    if os.path.isdir(log_dir) and any(
        f.endswith(".json") or ".checkpoint" in f for f in os.listdir(log_dir)
    ):
        raise FileExistsError(f"{dest} already has a _delta_log; clone "
                              "targets must be fresh")
    snap = DeltaTableReader(None, src).snapshot()  # metadata-only
    from sdlt_spark.store.paths import resolve_table_path

    adds: list[tuple[str, dict]] = []
    stats_override: dict[str, dict] = {}
    dvs: dict[str, dict] = {}
    base_row_ids: dict[str, int] = {}
    row_commit_versions: dict[str, int] = {}
    for rel in sorted(snap.files):
        abs_src = resolve_table_path(src, rel)  # src may itself be a clone
        adds.append((abs_src, snap.files[rel]))
        if rel in snap.row_ids:
            # a shallow clone keeps the source's row ids (delta-spark's
            # CLONE contract) — dropping them would renumber every row
            base, dcv = snap.row_ids[rel]
            base_row_ids[abs_src] = base
            if dcv is not None:
                row_commit_versions[abs_src] = dcv
        st = snap.stats.get(rel)
        if st:
            stats_override[abs_src] = {
                "rows": st.get("numRecords", 0),
                "min": st.get("minValues", {}),
                "max": st.get("maxValues", {}),
            }
        desc = snap.dvs.get(rel)
        if desc:
            if desc.get("storageType") == "i":
                dvs[abs_src] = dict(desc)  # inline blobs travel in the log
            else:
                conv = dict(desc)
                conv["storageType"] = "p"
                conv["pathOrInlineDv"] = dv_file_path(desc, src)
                dvs[abs_src] = conv
    writer = DeltaLogWriter(dest)
    return writer.commit(
        adds=adds,
        schema_json=snap.metadata.get("schemaString"),
        partition_columns=snap.metadata.get("partitionColumns")
        or snap.partition_columns,
        operation="CLONE",
        collect_stats=False,
        stats_override=stats_override,
        dvs=dvs or None,
        configuration=snap.metadata.get("configuration") or {},
        protocol=snap.protocol
        or {"minReaderVersion": 1, "minWriterVersion": 2},
        operation_params={"sourceTable": src},
        base_row_ids=base_row_ids or None,
        row_commit_versions=row_commit_versions or None,
        # the clone's own allocation must start past the source's mark
        row_id_high_water_mark=(
            DeltaTableReader(None, src).row_id_high_water_mark(snap)
            if base_row_ids
            else None
        ),
    )


def restore_delta_export(
    dest_path: str, version: int | None = None, timestamp: float | None = None
) -> int:
    """Delta's RESTORE for a table this module writes: roll the CURRENT
    state back to ``version``'s file set in ONE metadata commit — adds
    re-point at the old snapshot's files (which must still exist, i.e.
    not vacuumed), removes tombstone the current-only files, history is
    preserved (the restore is itself a new version; restore-of-restore
    works). O(file-list) driver work, zero data movement — restoring a
    100 TB table costs a directory's worth of metadata.

    DV descriptors restore with their files (the old snapshot's logical
    files come back as (path, dvId), and removes name the current DVs so
    spec readers reconcile)."""
    from sdlt_spark.store.delta_read import DeltaTableReader, dv_unique_id

    dest = os.path.abspath(dest_path)
    reader = DeltaTableReader(None, dest)  # metadata-only: no session
    if (version is None) == (timestamp is None):
        raise ValueError("pass version OR timestamp, exactly one")
    if timestamp is not None:
        # RESTORE TO TIMESTAMP AS OF: same resolution rule as reads
        version = reader._resolve_timestamp(timestamp)
    target = reader.snapshot(version=version)
    current = reader.snapshot()

    def _key(snap, rel):
        return (rel, dv_unique_id(snap.dvs.get(rel)))

    target_keys = {_key(target, rel) for rel in target.files}
    current_keys = {_key(current, rel) for rel in current.files}
    from sdlt_spark.store.delta_dv import dv_file_path

    from sdlt_spark.store.paths import resolve_table_path

    missing = [
        rel
        for rel in target.files
        if not os.path.exists(resolve_table_path(dest, rel))
    ]
    for rel, desc in target.dvs.items():
        p = dv_file_path(desc, dest)
        if p is not None and not os.path.exists(p):
            missing.append(p)  # the restored logical file needs its DV
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: {len(missing)} file(s) "
            f"already vacuumed, e.g. {missing[0]}"
        )
    adds = [
        (rel, target.files[rel])
        for rel in sorted(target.files)
        if _key(target, rel) not in current_keys
    ]
    removes = [
        (rel, current.dvs[rel]) if rel in current.dvs else rel
        for rel in sorted(current.files)
        if _key(current, rel) not in target_keys
    ]
    writer = DeltaLogWriter(dest)
    target_config = dict(target.metadata.get("configuration") or {})
    current_config = dict(current.metadata.get("configuration") or {})
    # delta-spark RESTORE restores full metadata: re-emit when the schema
    # OR the configuration (constraints etc.) differ, carrying the
    # TARGET's configuration — an empty dict here would silently strip
    # delta.constraints.* from the restored table
    meta_changed = (
        target.schema.json() != current.schema.json()
        or target_config != current_config
    )
    # row tracking: re-added files must carry their ORIGINAL
    # (baseRowId, defaultRowCommitVersion) — a restore that dropped them
    # would renumber every restored row (the high-water mark domain is
    # monotonic, so it stays wherever the current state left it)
    base_row_ids = {
        rel: target.row_ids[rel][0]
        for rel, _ in adds
        if rel in target.row_ids
    }
    row_commit_versions = {
        rel: target.row_ids[rel][1]
        for rel, _ in adds
        if rel in target.row_ids and target.row_ids[rel][1] is not None
    }
    return writer.commit(
        adds=adds,
        removes=removes,
        schema_json=target.schema.json() if meta_changed else None,
        partition_columns=target.partition_columns,
        operation="RESTORE",
        # CAS: the add/remove delta was derived from `current`; a
        # concurrent commit in between invalidates it
        expected_version=current.version + 1,
        configuration=target_config if meta_changed else None,
        dvs={rel: target.dvs[rel] for rel, _ in adds if rel in target.dvs}
        or None,
        base_row_ids=base_row_ids or None,
        row_commit_versions=row_commit_versions or None,
    )
