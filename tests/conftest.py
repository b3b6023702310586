"""Shared fixtures: one local SparkSession, one DuckDB oracle connection."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fagi_gis_spark.session import get_spark

    return get_spark("fagi-tests", cores=4, shuffle_partitions=4)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_TINY}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(spark_df, duck_df: pd.DataFrame):
    """Order-insensitive comparison: columns, row count and values.

    Integer and string columns must match exactly.  Float columns pass
    under ``assert_series_equal``'s default relative tolerance (1e-5),
    which is looser than ``tools/driver_sim.py::compare``: that check
    requires float values to be equal, so a float query can pass here
    and still mismatch there."""
    left = normalize(spark_df.toPandas())
    right = normalize(duck_df)
    assert list(left.columns) == list(right.columns), (left.columns, right.columns)
    assert len(left) == len(right), f"row count {len(left)} != {len(right)}"
    for c in left.columns:
        lv, rv = left[c], right[c]
        if lv.dtype.kind == "f" or rv.dtype.kind == "f":
            pd.testing.assert_series_equal(
                lv.astype("float64"), rv.astype("float64"), check_names=False
            )
        else:
            mismatches = (lv.astype(str) != rv.astype(str))
            assert not mismatches.any(), (
                f"col {c}: {int(mismatches.sum())} mismatches; first:\n"
                f"spark={lv[mismatches].head(3).tolist()}\n"
                f"duck ={rv[mismatches].head(3).tolist()}"
            )
