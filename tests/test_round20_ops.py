"""Round-11 continuation: the sf-adaptive exact->sketch percentile swap
(the r10 verdict's sketched registry candidate) and its footer-row-count
input."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from cloud_data_sync_spark import tables
from cloud_data_sync_spark.registry import all_queries
from cloud_data_sync_spark.tables import input_rows

from tests.conftest import SF_DIR


def test_input_rows_reads_footers_across_split_files(spark, tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame({"x": range(7)}).to_parquet(d / "events.parquet", index=False)
    pd.DataFrame({"x": range(5)}).to_parquet(
        d / "events_001.parquet", index=False
    )
    split = spark.read.parquet(str(d / "events.parquet"), str(d / "events_001.parquet"))
    assert input_rows(split) == 12
    assert input_rows(split.filter("x > 3")) == 12  # footers, not a scan
    assert input_rows(spark.range(3)) == 0  # no input files
    for f in d.iterdir():
        f.unlink()
    assert input_rows(split) == 0  # listed files gone


def test_percentiles_adaptive_exact_below_cutoff(spark):
    """sf0.001 is far below the 2M-row cutoff: the exact branch runs and
    hash-matches quantile_cont (the driver-gate contract)."""
    out = (
        all_queries()["q_percentiles_adaptive"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    assert set(out["mode"]) == {"exact"}
    con = duckdb.connect()
    ora = con.execute(
        f"""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM read_parquet('{SF_DIR}/lineitem.parquet')
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).df()
    assert list(out["p50"]) == pytest.approx(list(ora["p50"]))
    assert list(out["p90"]) == pytest.approx(list(ora["p90"]))


def test_percentiles_adaptive_sketch_above_cutoff(spark, monkeypatch):
    """Force the big-data branch through the row policy: mode flips to
    'sketch' and the sketch lands within 1% of the exact branch — the
    claim q_agg_approx_quantiles hash-certifies, held by the swap too."""
    # the raw builder, not the prepared wrapper: the cache key is the data
    # VINTAGE (the real decision input — row count — is vintage-derived),
    # so a patched row count on identical files would legitimately hit the
    # cached plan.
    fn = all_queries()["q_percentiles_adaptive"].fn.__wrapped__
    monkeypatch.setattr(tables, "input_rows", lambda df: 2_000_001)
    sk = fn(spark, SF_DIR).toPandas().set_index("l_returnflag")
    assert set(sk["mode"]) == {"sketch"}
    monkeypatch.undo()
    ex = fn(spark, SF_DIR).toPandas().set_index("l_returnflag")
    assert set(ex["mode"]) == {"exact"}
    for flag in ex.index:
        for col in ("p50", "p90"):
            exact = ex.loc[flag, col]
            assert abs(sk.loc[flag, col] - exact) <= 0.01 * abs(exact)
