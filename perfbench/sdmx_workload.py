"""``sdmx_revisions``: an SDMX exchange on a versioned exchange-rate table.

Set-up loads a seeded synthetic table with the reference's exchange-rate
schema (FIXTURES §A), clustered on ``KEY``, appends monthly releases and
compacts; at the bench scale the compaction is version 10, the store's
first checkpoint, and the warm-up and timed writes carry the history past
the second. The timed cycle mixes:

- revision messages (``write``): a block of adjacent series gets its last
  periods revised (forecast ``F`` -> final ``A``) and one new forecast
  period; the merge after a delete re-inserts the deleted series;
- a series delete and a series-attribute update (``write``);
- head series reads through the ``KEY`` zone maps (``read``);
- as-of series reads by version or by timestamp (``travel``) of the
  vintages set-up published;
- one compaction per cycle (``maintain``), which keeps the live file count
  bounded so per-op cost does not trend with the op index.

Every message is a CSV file read through ``read_submission``. A pure-Python
model of the message stream (key -> value/status/decimals per version, row
count per version) checks every read and, at the end, the head snapshot and
as-of row counts.
"""

from __future__ import annotations

import bisect
import os
import random
import time

from pyspark.sql import functions as F

from perfbench.harness import (
    MAINTAIN, READ, TRAVEL, WRITE, Op, dir_bytes, file_bytes, local_path, require,
)

FIELDS = [
    "FREQ", "CURRENCY", "CURRENCY_DENOM", "EXR_TYPE", "EXR_SUFFIX", "TIME_PERIOD",
    "OBS_VALUE", "OBS_STATUS", "COLLECTION", "DECIMALS", "TITLE", "UNIT", "UNIT_MULT",
]
COLS = ["KEY", "OBS_VALUE", "OBS_STATUS", "DECIMALS"]

SCALES = {
    # 500 series x 240 months = 120,000 observations in 8 files
    "bench": {"series": 500, "months": 240, "files": 8, "releases": 9,
              "revise_series": 3},
    "tiny": {"series": 6, "months": 12, "files": 2, "releases": 3,
             "revise_series": 2},
}


def period(m: int) -> str:
    return f"{2000 + m // 12}-{m % 12 + 1:02d}"


def key(cur: str, m: int) -> str:
    return f"M:{cur}:EUR:SP00:A:{period(m)}"


class Model:
    """Per-key history of (version, row or None) and the row count per
    version; a row is (OBS_VALUE, OBS_STATUS, DECIMALS)."""

    def __init__(self):
        self.hist: dict[str, list[tuple[int, tuple | None]]] = {}
        self.count: list[int] = []
        self.series: dict[str, set[str]] = {}

    def commit(self, version: int, changes: dict[str, tuple | None]) -> str | None:
        if version != len(self.count):
            return f"commit returned version {version}, expected {len(self.count)}"
        n = self.count[-1] if self.count else 0
        for k, row in changes.items():
            h = self.hist.setdefault(k, [])
            was = h[-1][1] if h else None
            n += (row is not None) - (was is not None)
            h.append((version, row))
            self.series.setdefault(k.split(":")[1], set()).add(k)
        self.count.append(n)
        return None

    def head(self, cur: str) -> dict:
        return self.at(cur, len(self.count) - 1)

    def at(self, cur: str, version: int) -> dict:
        out = {}
        for k in self.series.get(cur, ()):
            h = self.hist[k]
            i = bisect.bisect_right(h, version, key=lambda e: e[0]) - 1
            if i >= 0 and h[i][1] is not None:
                out[k] = h[i][1]
        return out


def rows_to_dict(rows) -> dict:
    return {r["KEY"]: (r["OBS_VALUE"], r["OBS_STATUS"], r["DECIMALS"]) for r in rows}


def compare(got: dict, want: dict, what: str) -> str | None:
    if got == want:
        return None
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
    return (f"{what}: {len(got)} rows, model has {len(want)}; missing {missing}, "
            f"extra {extra}, differing {[(k, got[k], want[k]) for k in wrong]}")


class SdmxRevisions:
    # 5 writes, 8 reads, 11 as-of reads (one per set-up version at the
    # bench scale) and one compaction. The cheap reads are many so their
    # medians hold still
    CYCLE = [
        "merge", "read", "travel", "read", "travel", "delete", "read", "travel",
        "travel", "compact", "merge", "read", "travel", "read", "travel", "update",
        "travel", "read", "travel", "travel", "merge", "read", "travel", "read",
        "travel",
    ]
    # every kind at least once; merges and reads three times, and as-of
    # reads, which keep getting faster for longer, seven times
    WARM_UP = [
        "merge", "read", "travel", "travel", "delete", "merge", "update", "read",
        "travel", "travel", "compact", "merge", "read", "travel", "travel", "travel",
    ]

    def __init__(self, spark, seed: int, scale: str, workdir: str, tracer):
        from sdlt_spark.store import VintageTable, sdmx

        self.spark = spark
        self.sdmx = sdmx
        self.tracer = tracer
        self.cfg = SCALES[scale]
        self.rng = random.Random(seed)
        self.workdir = workdir
        self.msg_dir = os.path.join(workdir, "messages")
        os.makedirs(self.msg_dir, exist_ok=True)
        self.table_dir = os.path.join(workdir, "exr")
        self.vt = VintageTable(spark, self.table_dir)
        self.model = Model()
        self.ts: list[float] = []  # a wall time at which version v was current
        self.vintages: list[int] = []  # set-up's versions, in a seeded order
        letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        codes = set()
        while len(codes) < self.cfg["series"]:
            codes.add("".join(self.rng.choice(letters) for _ in range(3)))
        self.codes = sorted(codes)
        self.last = dict.fromkeys(self.codes, self.cfg["months"] - 1)  # last period
        self.decimals = dict.fromkeys(self.codes, 4)
        self.deleted: list[str] = []
        self.n_msg = 0
        self.n_travel = 0

    # ------------------------------------------------------------ messages

    def _row(self, cur: str, m: int, status: str) -> tuple[str, tuple]:
        value = round(self.rng.uniform(0.5, 150.0), 4)
        line = (f"M,{cur},EUR,SP00,A,{period(m)},{value:.4f},{status},A,"
                f"{self.decimals[cur]},{cur}/Euro,{cur},0")
        return line, (value, status, self.decimals[cur])

    def _message(self, lines: list[str]) -> tuple[str, int]:
        self.n_msg += 1
        path = os.path.join(self.msg_dir, f"msg-{self.n_msg:05d}.csv")
        body = ",".join(FIELDS) + "\n" + "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(body)
        return path, len(body)

    def _committed(self, version: int, changes: dict) -> str | None:
        self.ts.append(time.time())
        return self.model.commit(version, changes)

    def _live_codes(self) -> list[str]:
        return [c for c in self.codes if c not in self.deleted]

    # --------------------------------------------------------------- setup

    def setup(self) -> None:
        lines, changes = [], {}
        for cur in self.codes:
            for m in range(self.cfg["months"]):
                line, row = self._row(cur, m, "A")
                lines.append(line)
                changes[key(cur, m)] = row
        path, _ = self._message(lines)
        v = self.vt.write(
            self.sdmx.read_submission(self.spark, path),
            cluster_by=["KEY"], num_files=self.cfg["files"],
        )
        require(self._committed(v, changes))
        # monthly releases: one new forecast period for every series
        for _ in range(self.cfg["releases"]):
            lines, changes = [], {}
            for cur in self.codes:
                self.last[cur] += 1
                line, row = self._row(cur, self.last[cur], "F")
                lines.append(line)
                changes[key(cur, self.last[cur])] = row
            path, _ = self._message(lines)
            v = self.vt.write(self.sdmx.read_submission(self.spark, path), mode="append")
            require(self._committed(v, changes))
        v = self.vt.compact(num_files=self.cfg["files"], sort_by=["KEY"])
        require(self._committed(v, {}))
        self.vintages = list(range(v + 1))
        self.rng.shuffle(self.vintages)

    # ----------------------------------------------------------------- ops

    def prepare(self, kind: str) -> Op:
        return getattr(self, f"_op_{kind}")()

    def _op_merge(self) -> Op:
        lines, changes = [], {}
        live = self._live_codes()
        # adjacent series share a data file on a table clustered on KEY, so
        # every revision rewrites about the same number of files
        first = self.rng.randrange(max(1, len(live) - self.cfg["revise_series"] + 1))
        for cur in live[first:first + self.cfg["revise_series"]]:
            for m in range(self.last[cur] - 1, self.last[cur] + 1):
                line, row = self._row(cur, m, "A")  # revised, forecast -> final
                lines.append(line)
                changes[key(cur, m)] = row
            self.last[cur] += 1
            line, row = self._row(cur, self.last[cur], "F")  # new period
            lines.append(line)
            changes[key(cur, self.last[cur])] = row
        if self.deleted:  # re-insert a deleted series with its full history
            cur = self.deleted.pop(0)
            for m in range(self.last[cur] + 1):
                line, row = self._row(cur, m, "A")
                lines.append(line)
                changes[key(cur, m)] = row
        path, size = self._message(lines)
        T = self.tracer

        def run():
            with T.span("sdmx.read_submission"):
                src = self.sdmx.read_submission(self.spark, path)
            with T.span("vintage.merge"):
                return self.vt.merge(src, ["KEY"])

        return Op("merge", WRITE, run, lambda v: self._committed(v, changes), size)

    def _op_delete(self) -> Op:
        cur = self.rng.choice(self._live_codes())
        lines = [self._row(cur, m, "A")[0] for m in range(self.last[cur] + 1)]
        changes = {k: None for k in self.model.head(cur)}
        self.deleted.append(cur)
        path, size = self._message(lines)
        T = self.tracer

        def run():
            with T.span("sdmx.read_submission"):
                series = [
                    r["CURRENCY"] for r in
                    self.sdmx.read_submission(self.spark, path)
                    .select("CURRENCY").distinct().collect()
                ]
            in_list = ", ".join(f"'{c}'" for c in series)
            with T.span("vintage.delete"):
                return self.vt.delete(f"CURRENCY IN ({in_list})")

        return Op("delete", WRITE, run, lambda v: self._committed(v, changes), size)

    def _op_update(self) -> Op:
        cur = self.rng.choice(self._live_codes())
        self.decimals[cur] = 9 - self.decimals[cur]  # 4 <-> 5
        line, _ = self._row(cur, self.last[cur], "A")
        changes = {k: (r[0], r[1], self.decimals[cur]) for k, r in self.model.head(cur).items()}
        path, size = self._message([line])
        T = self.tracer

        def run():
            with T.span("sdmx.read_submission"):
                attrs = (
                    self.sdmx.read_submission(self.spark, path)
                    .select("CURRENCY", "DECIMALS").distinct().collect()
                )
            (c, dec), = attrs
            with T.span("vintage.update"):
                return self.vt.update(f"CURRENCY = '{c}'", {"DECIMALS": str(dec)})

        return Op("update", WRITE, run, lambda v: self._committed(v, changes), size)

    def _op_compact(self) -> Op:
        T = self.tracer

        def run():
            with T.span("vintage.compact"):
                return self.vt.compact(num_files=self.cfg["files"], sort_by=["KEY"])

        return Op("compact", MAINTAIN, run, lambda v: self._committed(v, {}))

    def _op_read(self) -> Op:
        cur = self.rng.choice(self._live_codes())
        lo, hi = f"M:{cur}:", f"M:{cur}:~"
        T = self.tracer

        def run():
            with T.span("vintage.read_where"):
                df = self.vt.read_where("KEY", lo, hi)
            with T.span("vintage.read_where.exec"):
                rows = df.select(*COLS).collect()
            return df, rows

        want = self.model.head(cur)
        return Op("read", READ, run,
                  lambda out: compare(rows_to_dict(out[1]), want, f"read {cur}"),
                  probe=lambda out: self._count_scan(*out))

    def _op_travel(self) -> Op:
        self.n_travel += 1
        # a fixed set of versions, so the read cost does not drift as the
        # history grows; any run of len(vintages) consecutive as-of reads,
        # such as one cycle's, reads each of them once
        v = self.vintages[self.n_travel % len(self.vintages)]
        cur = self.rng.choice(self.codes)
        by_time = self.n_travel % 2 == 0
        T = self.tracer

        def run():
            with T.span("vintage.read"):
                df = self.vt.read(timestamp=self.ts[v]) if by_time else self.vt.read(version=v)
            with T.span("vintage.read.exec"):
                return df.filter(F.col("CURRENCY") == cur).select(*COLS).collect()

        want = self.model.at(cur, v)
        how = f"timestamp of v{v}" if by_time else f"version {v}"
        return Op("travel", TRAVEL, run,
                  lambda rows: compare(rows_to_dict(rows), want, f"as-of {how} {cur}"),
                  probe=lambda _rows: self._count_replay(v))

    # ------------------------------------------------------- measurements

    def _count_scan(self, df, rows) -> None:
        import pyarrow.parquet as pq

        files = df.inputFiles()
        scanned = sum(pq.ParquetFile(local_path(f)).metadata.num_rows for f in files)
        self.tracer.count("files_scanned", len(files))
        self.tracer.count("rows_returned_per_row_scanned", len(rows) / max(1, scanned))

    def _count_replay(self, version: int) -> None:
        """Commits a reader of ``version`` replays past the newest checkpoint
        at or before it."""
        ckpt = max((c for c in self.vt._checkpoint_versions() if c <= version), default=-1)
        self.tracer.count("commits_since_checkpoint", version - ckpt)

    def live_files(self) -> int:
        return len(self.vt.read().inputFiles())

    def storage_amp(self) -> float:
        return dir_bytes(self.table_dir) / file_bytes(self.vt.read().inputFiles())

    def table_bytes(self) -> int:
        return dir_bytes(self.table_dir)

    def final_checks(self) -> list[str]:
        """Head snapshot against the model, and as-of row counts."""
        errs = []
        head = self.vt.read().select(*COLS).toPandas()
        got = dict(zip(head["KEY"], zip(head["OBS_VALUE"].tolist(), head["OBS_STATUS"],
                                        head["DECIMALS"].tolist())))
        want = {}
        for cur in self.codes:
            want.update(self.model.head(cur))
        err = compare(got, want, "head snapshot")
        if err:
            errs.append(err)
        head = len(self.model.count) - 1
        for v in sorted({0, head // 2, max(0, head - 1), head}):
            n = self.vt.read(version=v).count()
            if n != self.model.count[v]:
                errs.append(f"as-of version {v}: {n} rows, model has {self.model.count[v]}")
        return errs
