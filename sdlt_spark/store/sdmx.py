"""SDMX statistical-data ingest (the reference's data model, SURVEY.md §1).

Schema and key derivation follow /root/reference/README.md:45-80: explicit
non-nullable StructType applied to CSV reads, and a surrogate KEY column
concatenating the six dimensions with ``concat`` + ``':'`` literals —
matching the reference's concat+lit chain INCLUDING its NULL semantics
(any NULL dimension -> NULL key). ``concat_ws`` would look equivalent but
SKIPS NULL arguments, so two differently-malformed rows could collide on
one key and merge into each other — see ``with_key``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The choreography's input CSVs (data.0.csv … data.6.csv): the reference
# checkout's own when present, else the deterministic copy vendored under
# tests/fixtures/sdmx_exr (written by generate.py there, same row counts
# and codes).
_REFERENCE_IN = "/root/reference/in"
_VENDORED_IN = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "../../tests/fixtures/sdmx_exr")
)


def exr_input_dir() -> str:
    """Directory holding the choreography's ``data.{0..6}.csv``."""
    return _REFERENCE_IN if os.path.isdir(_REFERENCE_IN) else _VENDORED_IN


# README.md:70 — dimension columns, in key order (time dimension last)
DIMENSIONS = ["FREQ", "CURRENCY", "CURRENCY_DENOM", "EXR_TYPE", "EXR_SUFFIX", "TIME_PERIOD"]
MEASURE = "OBS_VALUE"

# README.md:45-59 — declared schema; all non-nullable
def exr_schema(with_obs_com: bool = False) -> T.StructType:
    fields = [
        T.StructField("FREQ", T.StringType(), False),
        T.StructField("CURRENCY", T.StringType(), False),
        T.StructField("CURRENCY_DENOM", T.StringType(), False),
        T.StructField("EXR_TYPE", T.StringType(), False),
        T.StructField("EXR_SUFFIX", T.StringType(), False),
        T.StructField("TIME_PERIOD", T.StringType(), False),
        T.StructField("OBS_VALUE", T.DoubleType(), False),
        T.StructField("OBS_STATUS", T.StringType(), False),
    ]
    if with_obs_com:
        # data.6.csv adds OBS_COM after OBS_STATUS (README.md:336-351)
        fields.append(T.StructField("OBS_COM", T.StringType(), False))
    fields += [
        T.StructField("COLLECTION", T.StringType(), False),
        T.StructField("DECIMALS", T.IntegerType(), False),
        T.StructField("TITLE", T.StringType(), False),
        T.StructField("UNIT", T.StringType(), False),
        T.StructField("UNIT_MULT", T.StringType(), False),
    ]
    return T.StructType(fields)


def with_key(df: DataFrame) -> DataFrame:
    """Surrogate primary key over the dimensions (README.md:73-80).

    F.concat (not concat_ws): the reference builds the key with a plain
    concat chain, so a NULL dimension yields a NULL key — concat_ws
    would SKIP the null and let two differently-malformed rows collide
    on the same key, corrupting every later merge on KEY."""
    parts = []
    for i, d in enumerate(DIMENSIONS):
        if i:
            parts.append(F.lit(":"))
        parts.append(F.col(d))
    return df.withColumn("KEY", F.concat(*parts))


def read_submission(spark: SparkSession, path: str, with_obs_com: bool = False) -> DataFrame:
    """CSV source with header + explicit schema (README.md:67)."""
    df = spark.read.csv(path, header=True, schema=exr_schema(with_obs_com))
    return with_key(df)
