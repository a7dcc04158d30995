"""End-to-end SDMX workflow on sdlt_spark — the reference's full
choreography (/root/reference/README.md) as a user would run it.

    python examples/sdmx_workflow.py [table_dir]

Walks through: initial load -> incremental merges -> time travel -> full
replacement -> forecast/final revision -> delete -> attribute update ->
history -> schema evolution -> compaction -> vacuum, printing the row
counts the reference documents at each checkpoint.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sdlt_spark import VintageTable, get_spark
from sdlt_spark.store.sdmx import exr_input_dir, read_submission

IN = exr_input_dir()


def main() -> None:
    spark = get_spark("sdmx_workflow")
    path = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp() + "/exr"
    table = VintageTable(spark, path)
    key = ["KEY"]

    def checkpoint(label: str) -> None:
        print(f"{label:<42} {table.read().count():>5} rows")

    table.write(read_submission(spark, f"{IN}/data.0.csv"), mode="overwrite")
    checkpoint("initial load (expect 504)")

    table.merge(read_submission(spark, f"{IN}/data.1.csv"), key)
    checkpoint("merge Jan-Feb 2020 (expect 508)")

    table.merge(read_submission(spark, f"{IN}/data.2.csv"), key)
    checkpoint("merge CHF coverage (expect 762)")

    print(f"{'versionAsOf 0 (expect 504)':<42} {table.read(version=0).count():>5} rows")

    table.write(read_submission(spark, f"{IN}/data.3.csv"), mode="overwrite")
    checkpoint("full replacement (expect 474)")

    table.merge(read_submission(spark, f"{IN}/data.4.csv"), key)
    checkpoint("merge forecasts (expect 477)")

    table.merge(read_submission(spark, f"{IN}/data.5.csv"), key)
    checkpoint("merge final values (expect 477)")

    table.delete("CURRENCY = 'RUB'")
    checkpoint("delete RUB series (expect 318)")

    table.update("CURRENCY = 'CHF'", {"DECIMALS": F.lit(5)})
    checkpoint("series-attribute update (expect 318)")

    print("\nhistory (newest first):")
    table.history().select("version", "operation", "dataChange").show(truncate=False)

    table.merge(
        read_submission(spark, f"{IN}/data.6.csv", with_obs_com=True),
        key,
        schema_evolution=True,
    )
    com = (
        table.read()
        .filter(F.col("OBS_COM").isNotNull())
        .select("CURRENCY", "TIME_PERIOD", "OBS_COM")
        .collect()
    )
    print(f"schema evolution: OBS_COM rows = {[tuple(r) for r in com]}")

    table.compact(num_files=4, sort_by=["KEY"])
    print(f"compacted to {len(table._live_files())} files (dataChange=false)")
    removed = table.vacuum(retention_hours=0)
    print(f"vacuumed {len(removed)} unreferenced files; table still reads "
          f"{table.read().count()} rows at {path}")


if __name__ == "__main__":
    main()
