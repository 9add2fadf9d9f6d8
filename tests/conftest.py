from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from etl_gmaps_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # 6g driver heap: get_spark's 48g default lets the shared session
    # JVM outgrow a 15 GB host next to the subprocess JVMs that the
    # spark-submit and Iceberg-harness tests start
    s = get_spark(
        "etl_gmaps_spark-tests", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for frame equality: tokens→tuple, sort, reset index."""
    out = pdf.copy()
    if "tokens" in out.columns:
        out["tokens"] = out["tokens"].map(lambda v: None if v is None else tuple(v))
    out = out.sort_values(sorted(out.columns.tolist())[0:1]).reset_index(drop=True)
    return out[sorted(out.columns)]


def assert_table_equal(spark_df, expected_pdf: pd.DataFrame) -> None:
    got = canon(spark_df.toPandas())
    want = canon(expected_pdf)
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
