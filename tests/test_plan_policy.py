"""The size policy in ``tables``: ``input_rows`` (parquet footer rows of a
frame's input files) and ``spread`` (repartition split-bound inputs).

Every row-gated plan choice in the package reads these two functions, so
the cases here pin the decision itself; ``test_large_branches_match_oracle``
then runs every row-gated key with the large branch forced and checks it
against its DuckDB oracle, since no fixture SF reaches those thresholds.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pandas as pd
import pytest

from cloud_data_sync_spark import tables
from cloud_data_sync_spark.registry import all_queries
from cloud_data_sync_spark.tables import TABLE_NAMES, input_rows, spread, table_path

from tests.conftest import SF_DIR
from tools.check_oracle import canon_rows, value_hash


def _write(path, n: int) -> None:
    pd.DataFrame({"k": range(n), "v": [float(i) for i in range(n)]}).to_parquet(
        path, index=False
    )


def _repartition(df) -> str:
    """The logical root when ``spread`` added a repartition, else ''."""
    root = df._jdf.queryExecution().analyzed().toString().splitlines()[0]
    return root if root.startswith("Repartition") else ""


@pytest.fixture()
def one_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 10)
    return path, spark.read.parquet(path)


def test_spread_noop_when_splits_cover_parallelism(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    paths = [str(tmp_path / f"t_{i}.parquet") for i in range(cores)]
    for p in paths:
        _write(p, 10)
    df = spark.read.parquet(*paths)
    assert spread(df, "k") is df
    assert spread(df) is df


def test_spread_noop_at_or_below_row_gate(one_file):
    _, df = one_file
    assert spread(df, "k", above_rows=10) is df
    assert _repartition(spread(df, "k", above_rows=9))


def test_spread_keyed_vs_round_robin(spark, one_file):
    _, df = one_file
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    keyed = _repartition(spread(df, "k"))
    assert keyed.startswith("RepartitionByExpression") and "k#" in keyed
    assert spread(df, "k").rdd.getNumPartitions() == cores
    rr = _repartition(spread(df))
    assert rr.startswith(f"Repartition {cores}, true")


def test_spread_redecides_after_in_place_rewrite(spark, one_file):
    path, df = one_file
    assert spread(df, "k", above_rows=50) is df
    st = os.stat(path)
    _write(path, 100)  # same path: new size, new mtime
    assert os.stat(path).st_size != st.st_size
    assert input_rows(df) == 100
    assert _repartition(spread(df, "k", above_rows=50))
    # the split confs are read live: 1-byte splits cover every core
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    spark.conf.set("spark.sql.files.openCostInBytes", "1b")
    try:
        assert spread(df, "k") is df
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert _repartition(spread(df, "k"))


def test_non_file_input_counts_as_large(one_file, monkeypatch):
    _, df = one_file
    monkeypatch.setattr(
        df, "inputFiles", lambda: ["s3a://bucket/t/part-00000.parquet"]
    )
    assert input_rows(df) == sys.maxsize
    # large by rows AND by splits: the gate passes and the scan is
    # assumed to list >= cores splits, so nothing is added
    assert spread(df, "k", above_rows=10**12) is df
    assert spread(df) is df


ROW_GATED = (
    "q_gaussian_nb",
    "q_dup_inflation",
    "q_dedup_tokenset",
    "q_decay_leaderboard",
    "q_join_left",
    "q_pseudonymize",
    "q_anomaly_mad",
    "q_tpch_mktshare",
    "q_tpch_profit",
    "q_sync_incremental",
)


def _optimized(df) -> str:
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", ROW_GATED)
def test_large_branches_match_oracle(spark, oracle, monkeypatch, key):
    """The large branch of every row gate, forced at sf0.001 through the
    raw builder (the prepared plan is keyed on the data vintage, which a
    patched row count does not change)."""
    spec = all_queries()[key]
    small = _optimized(spec.fn.__wrapped__(spark, SF_DIR))
    monkeypatch.setattr(tables, "input_rows", lambda df: 10**9)
    plan = spec.fn.__wrapped__(spark, SF_DIR)
    assert _optimized(plan) != small, "the row gate did not switch"
    rows = [tuple(r) for r in plan.collect()]
    cols, lines = canon_rows(list(plan.columns), rows)
    rel = oracle.execute(spec.oracle)
    ocols, olines = canon_rows([d[0] for d in rel.description], rel.fetchall())
    assert cols == ocols
    assert len(lines) == len(olines)
    assert value_hash(lines) == value_hash(olines)
