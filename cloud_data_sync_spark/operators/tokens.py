"""Shared tokenization contract.

Every text operator (dedup shingles, TF-IDF, LM scoring, PMI, vocab) and
every DuckDB oracle assumes the SAME tokenizer:
``string_split_regex(trim(lower(text)), '\\s+')``. Keeping it in one place
means a future tweak (e.g. unicode whitespace) cannot silently diverge
between operators that must agree on token identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def low_toks(col: str = "text") -> Column:
    """Lowercased whitespace tokens of ``col`` — the corpus-wide contract."""
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


def toks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` plus its ``toks`` (= ``low_toks()``) array column,
    materialized once per (session, documents vintage) via the shared
    substrate helper (tables.session_substrate).

    ~18 text/corpus/vocab queries start by re-running the identical regex
    tokenize over the identical immutable parquet; at 100 TB a pipeline
    writes this tokenized table once and every consumer scans it — the
    session-scoped localCheckpoint is the same materialized common
    subexpression. Token VALUES are unchanged (same ``low_toks`` contract
    the oracles assume), only where they are computed; order-sensitive
    sketch consumers (``q_approx_topk``) deliberately stay on the raw scan
    because the substrate's repartition would perturb their merge order.
    """
    from cloud_data_sync_spark.tables import load_table, session_substrate, spread

    def _build() -> DataFrame:
        docs = spread(load_table(spark, sf_dir, "documents"))
        return docs.withColumn("toks", low_toks())

    return session_substrate(
        spark, sf_dir, "doc-toks", "documents", _build
    )
