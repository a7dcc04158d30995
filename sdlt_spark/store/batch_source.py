"""``vintage`` — a BATCH Data Source over a VintageTable (read AND write).

Delta-parity UX for SQL-first users (README.md:92,98,169 does everything
through ``format("delta")``):

    spark.dataSource.register(VintageSnapshotDataSource)
    df = (spark.read.format("vintage")
          .option("path", table_dir)
          .option("versionAsOf", 3)        # optional time travel
          .load())
    (df.write.format("vintage")
       .mode("append")                     # or overwrite
       .option("path", table_dir)
       .option("txnId", "batch-42")        # optional idempotence token
       .save())

Built on the PySpark 4 Python Data Source API.

Read path:
- the driver lists the snapshot's live files from the commit log (metadata
  only); each DATA file becomes one ``InputPartition`` and executors read
  parquet via pyarrow into Arrow RecordBatches padded/cast to the snapshot
  schema (schema-evolved tables read uniformly);
- live deletion vectors are applied per file on the executor (position
  mask over the deletion-vector sidecars ``delete``/``update(mode='dv')``
  write) — reads match ``VintageTable.read``
  exactly even mid-DV;
- ``pushFilters`` (Spark 4.1) turns top-level comparison predicates into
  zone-map FILE SKIPPING: a selective range on a clustered column reads
  O(matching files) through plain ``spark.read.format("vintage")``. All
  filters are still returned to Spark (zone maps are file-granular
  over-approximations), so results are exact. Opt in per read with
  ``.option("pushdown", "true")`` alongside the session conf
  ``spark.sql.python.filterPushdown.enabled=true`` — Spark's planning
  worker errors on any reader that merely DEFINES pushFilters while the
  conf is off, so the option keeps plain-session reads working.

Write path (``DataSourceArrowWriter``):
- executors stream their Arrow batches straight into parquet part files
  under a fresh immutable commit directory (zero-row tasks write nothing);
- ``commit()`` on the driver registers the files in ONE atomic VintageTable
  commit — append (schema must match, like Delta) or overwrite — with
  zone-map stats, CAS publish, and the same failure hygiene as the API
  path (``abort()`` deletes staged files). CHECK constraints are validated
  driver-side with one Spark scan of the staged files before the commit is
  published (the API write path enforces them in-flight instead).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType

from sdlt_spark.store.vintage import VintageTable

_DATA_DIR = "data"


def _table(path: str) -> VintageTable:
    # metadata-only: log replay and schema resolution never touch a
    # SparkSession, so a session-less instance works on the driver
    return VintageTable(None, path)  # type: ignore[arg-type]


def _parse_options(options: dict) -> tuple[str, int | None, float | None]:
    options = {k.lower(): v for k, v in options.items()}
    path = options.get("path")
    if not path:
        raise ValueError("vintage requires .option('path', <table dir>)")
    version = options.get("versionasof")
    timestamp = options.get("timestampasof")
    if version is not None and timestamp is not None:
        raise ValueError("versionAsOf and timestampAsOf are mutually exclusive")
    return (
        path,
        int(version) if version is not None else None,
        float(timestamp) if timestamp is not None else None,
    )


def apply_dv_mask(tbl, abs_path: str, dv_paths: tuple[str, ...], table_root: str):
    """Drop the rows of ``tbl`` (a pyarrow Table read from ``abs_path``)
    whose positions a deletion-vector sidecar names. Shared by the batch
    and streaming executors. DV ``file`` refs are table-relative, or
    absolute for clone-translated sidecars."""
    import pyarrow.parquet as pq

    if not dv_paths:
        return tbl
    me = os.path.normpath(abs_path)
    drop: set[int] = set()
    for dv_path in dv_paths:
        dv = pq.read_table(dv_path)
        for ref, pos in zip(dv.column("file").to_pylist(), dv.column("pos").to_pylist()):
            ref_abs = (
                ref
                if os.path.isabs(ref)
                else os.path.normpath(os.path.join(table_root, ref))
            )
            if ref_abs == me:
                drop.add(pos)
    if drop:
        tbl = tbl.take([i for i in range(tbl.num_rows) if i not in drop])
    return tbl


def pad_table_to_schema(tbl, schema, overrides=None, fallbacks=None):
    """pyarrow Table -> Arrow table cast/padded to the Spark ``schema``:
    ``overrides`` win over file columns (bookkeeping constants like
    ``_commit_version``/``_change_type``), existing columns cast,
    ``fallbacks`` fill columns the file lacks (log-carried partition
    values), everything else reads as typed NULLs. The ONE pad/cast
    ladder shared by the batch snapshot reader and both streaming change
    sources — a cast-safety or decimal fix here serves all three."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    overrides = overrides or {}
    fallbacks = fallbacks or {}
    n = tbl.num_rows
    arrays, names = [], []
    for field in schema.fields:
        at = to_arrow_type(field.dataType)
        if field.name in overrides:
            arr = pa.array([overrides[field.name]] * n, type=at)
        elif field.name in tbl.column_names:
            arr = tbl[field.name].combine_chunks().cast(at)
        elif field.name in fallbacks:
            arr = pa.array([fallbacks[field.name]] * n, type=at)
        else:
            arr = pa.nulls(n, at)
        arrays.append(arr)
        names.append(field.name)
    return pa.table(arrays, names=names)


@dataclass
class _SnapshotFilePartition(InputPartition):
    abs_path: str
    dv_paths: tuple[str, ...] = ()
    table_root: str | None = None


class VintageSnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path, self._version, self._timestamp = _parse_options(options)
        # (col, lo, hi) zone-map cuts accumulated by pushFilters; bounds are
        # inclusive over-approximations of the pushed predicates
        self._ranges: list[tuple[str, object, object]] = []

    # --------------------------------------------------------------- planning

    def partitions(self):
        t = _table(self._path)
        snap = t._snapshot(version=self._version, timestamp=self._timestamp)
        data, dvs = VintageTable._split_live(snap.files)
        for col, lo, hi in self._ranges:
            data = t._prune_by_range(snap, col, lo, hi, data)
        root = os.path.abspath(self._path)
        # Driver-side coverage map: each partition ships ONLY the sidecars
        # that cover its file — shipping the full DV list made every
        # executor task scan every sidecar, O(files x DVs) small reads.
        # Paths are abspathed so a relative .option('path', ...) still
        # matches apply_dv_mask's ref resolution (a relative abs_path
        # compared against absolute refs silently skipped the mask —
        # resurrecting deleted rows).
        coverage = t._dv_coverage(dvs) if dvs else {}
        cover_by_file: dict[str, list[str]] = {}
        for dv_rel, covered in coverage.items():
            dv_abs = os.path.normpath(os.path.join(root, dv_rel))
            for c in covered:
                key = os.path.normpath(os.path.abspath(c))
                cover_by_file.setdefault(key, []).append(dv_abs)
        parts = []
        for rel in data:
            abs_path = os.path.normpath(os.path.join(root, rel))
            parts.append(
                _SnapshotFilePartition(
                    abs_path,
                    tuple(sorted(cover_by_file.get(abs_path, ()))),
                    root,
                )
            )
        return parts

    def read(self, partition: _SnapshotFilePartition):
        """Executor-side: one parquet file -> Arrow batches cast/padded to
        the snapshot schema (files from pre-evolution commits lack newer
        columns and get typed NULLs); deletion-vector positions dropped."""
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        tbl = apply_dv_mask(
            tbl, partition.abs_path, partition.dv_paths, partition.table_root
        )
        yield from pad_table_to_schema(tbl, self._schema).to_batches()


class VintagePushdownReader(VintageSnapshotReader):
    """Snapshot reader + zone-map file skipping from pushed filters. Split
    into a subclass because Spark REJECTS any reader that merely defines
    pushFilters while ``spark.sql.python.filterPushdown.enabled`` is false
    — the data source picks the class per session (see
    :meth:`VintageSnapshotDataSource.reader`)."""

    def pushFilters(self, filters):
        """Convert top-level column comparisons into zone-map file skipping.
        EVERY filter is returned for Spark to re-apply — zone maps are
        file-granular, so the cut is an over-approximation and exactness
        comes from Spark's own post-scan filter. Strict bounds relax to
        inclusive ones (keeping a boundary file is the safe
        over-approximation)."""
        comparable = (int, float, str)
        for f in filters:
            col = ".".join(f.attribute) if hasattr(f, "attribute") else None
            if (
                col is not None
                and len(getattr(f, "attribute", ())) == 1
                and isinstance(getattr(f, "value", None), comparable)
            ):
                if isinstance(f, EqualTo):
                    self._ranges.append((col, f.value, f.value))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._ranges.append((col, f.value, None))
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._ranges.append((col, None, f.value))
            yield f  # Spark still evaluates everything post-scan


# ------------------------------------------------------------------ write


@dataclass
class _StagedFile(WriterCommitMessage):
    rel_path: str


class VintageWriter(DataSourceArrowWriter):
    """Executor tasks stage parquet parts; the driver publishes ONE commit."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts.get("path")
        if not self._path:
            raise ValueError("vintage requires .option('path', <table dir>)")
        self._txn_id = opts.get("txnid")
        self._overwrite = overwrite
        self._schema = schema
        # one immutable commit dir per logical write, chosen on the driver
        self._commit_dir = f"{_DATA_DIR}/c{uuid.uuid4().hex}"

    # -------------------------------------------------------------- executor

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _StagedFile("")  # empty task: no file (small-file hygiene)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        abs_dir = os.path.join(self._path, self._commit_dir)
        os.makedirs(abs_dir, exist_ok=True)
        target = pa.schema(
            [(f.name, to_arrow_type(f.dataType)) for f in self._schema.fields]
        )
        tbl = pa.Table.from_batches(batches).cast(target)
        pq.write_table(tbl, os.path.join(abs_dir, fname))
        return _StagedFile(f"{self._commit_dir}/{fname}")

    # ---------------------------------------------------------------- driver

    def _spark_table(self) -> VintageTable:
        from pyspark.sql import SparkSession

        # commit() runs on the driver but in a py4j callback thread where
        # the thread-local active session may be unset; getOrCreate()
        # returns the one instantiated session either way
        sess = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        return VintageTable(sess, self._path)

    def _prune_orphans(self, committed: list[str]) -> None:
        """Delete staged parquet in the commit dir that no task commit
        message references — failed/speculative task attempts write files
        Spark never reports to commit(); without this they'd sit forever
        as unreferenced data (vacuum would sweep them eventually, but the
        committer should not leak in the first place)."""
        abs_dir = os.path.join(self._path, self._commit_dir)
        if not os.path.isdir(abs_dir):
            return
        keep = {os.path.basename(f) for f in committed}
        for f in os.listdir(abs_dir):
            if f.endswith(".parquet") and f not in keep:
                try:
                    os.remove(os.path.join(abs_dir, f))
                except OSError:
                    pass  # best-effort hygiene; vacuum sweeps stragglers

    def commit(self, messages):
        t = self._spark_table()
        files = sorted(m.rel_path for m in messages if m.rel_path)
        self._prune_orphans(files)
        mode = "overwrite" if self._overwrite else "append"
        if mode == "append" and t.exists():
            # same contract as VintageTable.write / Delta: appends must
            # conform to the table schema, names AND types
            current = {f.name: f.dataType.simpleString() for f in t._schema_at().fields}
            incoming = {f.name: f.dataType.simpleString() for f in self._schema.fields}
            if incoming != current:
                self.abort(messages)
                raise ValueError(
                    f"append schema mismatch: table has {sorted(current.items())}, "
                    f"dataframe has {sorted(incoming.items())}"
                )
        constraints = t.constraints() if t.exists() else {}
        if constraints and files:
            # the API write path enforces CHECKs in-flight; here the rows
            # are already staged, so validate with one scan BEFORE publish
            from pyspark.sql import functions as F

            staged = t.spark.read.parquet(*[os.path.join(self._path, f) for f in files])
            for name, expr in constraints.items():
                ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
                n_bad = staged.filter(~ok).count()
                if n_bad:
                    self.abort(messages)
                    from sdlt_spark.store.vintage import ConstraintViolationError

                    raise ConstraintViolationError(
                        f"CHECK constraint {name} ({expr}) violated by "
                        f"{n_bad} staged row(s); write aborted"
                    )
        t._op_files = dict.fromkeys(files)
        try:
            t._op_files.update(t._collect_stats(files))
            params = {"mode": "Overwrite" if self._overwrite else "Append"}
            if self._txn_id is not None:
                params["txnId"] = str(self._txn_id)
            # Delta's discipline: a blind append commutes with any concurrent
            # commit, so losing the version race is retryable — re-resolve
            # the log and re-publish at the new version (the staged files are
            # untouched). Overwrite does NOT retry: its remove-set was
            # derived from a snapshot a concurrent writer just changed, and
            # blindly replacing the NEW state is a lost update.
            from sdlt_spark.store.vintage import CommitConflictError, _COMMIT_RETRIES

            for attempt in range(_COMMIT_RETRIES):
                try:
                    if attempt > 0 and not self._overwrite and t.exists():
                        # a lost version race means ANOTHER commit landed;
                        # if it changed the schema, re-publishing ours
                        # would silently revert it (Delta re-checks
                        # metadata conflicts on retry too) — re-run the
                        # same schema-match gate against the NEW state
                        cur = {
                            f.name: f.dataType.simpleString()
                            for f in t._schema_at().fields
                        }
                        inc = {
                            f.name: f.dataType.simpleString()
                            for f in self._schema.fields
                        }
                        if inc != cur:
                            self.abort(messages)
                            raise ValueError(
                                "append schema mismatch after concurrent "
                                f"commit: table now has {sorted(cur.items())}, "
                                f"dataframe has {sorted(inc.items())}"
                            )
                    remove = t._live_files() if (self._overwrite and t.exists()) else []
                    t._commit(
                        "WRITE", params, files, remove, schema_json=self._schema.json()
                    )
                    break
                except CommitConflictError:
                    if self._overwrite or attempt == _COMMIT_RETRIES - 1:
                        raise
        except BaseException:
            t._cleanup_op_files()
            raise

    def abort(self, messages):
        import shutil

        shutil.rmtree(
            os.path.join(self._path, self._commit_dir), ignore_errors=True
        )


class VintageSnapshotDataSource(DataSource):
    """Register with ``spark.dataSource.register(VintageSnapshotDataSource)``,
    then ``spark.read.format("vintage")`` / ``df.write.format("vintage")``."""

    @classmethod
    def name(cls) -> str:
        return "vintage"

    def schema(self) -> StructType:
        path, version, ts = _parse_options(dict(self.options))
        # timestampAsOf resolves the schema IN EFFECT at that time (the
        # snapshot's), never the head's — the head would show columns that
        # did not exist yet (diverging from VintageTable.read(timestamp=...))
        base = _table(path)._snapshot(version, ts).schema
        # every column nullable: padded evolution rows carry NULLs
        return StructType([StructField(f.name, f.dataType, True) for f in base.fields])

    def reader(self, schema: StructType) -> VintageSnapshotReader:
        # Pushdown is an explicit read option (.option("pushdown", "true"))
        # rather than conf sniffing: reader() runs inside Spark's planning
        # WORKER process, which has no session to read the conf from — and
        # merely DEFINING pushFilters makes Spark error out loudly when
        # `spark.sql.python.filterPushdown.enabled` is false, which would
        # break every plain-session user. Opting in asserts you set the
        # conf too.
        opts = {k.lower(): v for k, v in self.options.items()}
        enabled = str(opts.get("pushdown", "false")).lower() in ("true", "1")
        cls = VintagePushdownReader if enabled else VintageSnapshotReader
        return cls(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> VintageWriter:
        return VintageWriter(schema, dict(self.options), overwrite)
