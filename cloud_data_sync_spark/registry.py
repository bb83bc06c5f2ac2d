"""Query registry: single source of truth behind ``__spark_entry__.py``.

Every operator in the engine registers a ``QuerySpec`` — a Spark query
builder ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL. The driver's correctness gate runs both and
compares row-count + schema + order-insensitive value-hash, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded identically on both sides;
- double→integer conversions go through ``floor``/``cast`` identically
  (DuckDB CAST rounds, Spark CAST truncates — never rely on bare CAST of a
  fractional double to an integer type);
- NEVER ``round()`` a ratio whose denominator can be of the form 2^a·5^b
  (rank ratios k/n, averages over power-of-ten-ish group sizes): such
  ratios land on EXACT decimal halves where Spark rounds half-up and
  DuckDB half-even (caught at sf0.1: cume_dist over a 640-row partition).
  Use ``floor(x * 1e6) / 1e6`` on both sides — floor has no rounding mode
  and both engines produce bit-identical IEEE doubles for the product.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from cloud_data_sync_spark.tables import TABLE_NAMES, session_cached

QueryFn = Callable[[SparkSession, str], DataFrame]


def floor_ratio(expr, digits: int):
    """Mode-free fixed-point truncation for emitted ratios (see module
    docstring): ``floor(x * 10^d) / 10^d``. Use for ANY ratio whose
    denominator can be dyadic (rank ratios, count fractions, set-overlap
    ratios) — ``round()`` diverges between Spark (half-up) and DuckDB
    (half-even) on the exact decimal halves such ratios produce. The SQL
    twin is ``floor(x * 10^d) / 10^d`` verbatim."""
    from pyspark.sql import functions as F

    p = 10 ** digits
    return F.floor(expr * p) / p

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    doc: str = ""
    # The plan the audit pins. A query whose registered result IS a shared
    # session substrate explains as `Scan ExistingRDD` once the substrate
    # exists — structurally uncheckable. `plan_fn` exposes the substrate's
    # BUILDER pipeline (the plan that actually executes at scale, where
    # the substrate is a written table and every consumer's shape is this
    # one) so tools/plan_audit.py and tests/test_plans.py keep auditing
    # the real shuffle/join structure. None ⇒ audit `fn`'s own plan.
    plan_fn: QueryFn | None = None


# Prepared-plan cache: the session store (tables.session_cached) that
# tables.load_table already applies to scans, lifted to whole registered
# queries. A DataFrame is an immutable logical plan — re-invoking a
# registered query on the SAME session and SAME table files can return
# the same plan object and execution is identical (AQE re-plans each
# run), but the build cost disappears: builders are py4j-bound (each
# Column operator is a driver round trip) and profiling at r10 measured
# ~36 s of the full registry's wall in plan construction alone. Real
# engines call this a prepared-statement / plan cache. The input vintage
# covers all of TABLE_NAMES, so a rewritten/mutated input file misses the
# cache instead of serving a stale plan (the gate suites rewrite tables
# in place).
#
# Callers get a CLONE (a one-py4j-call `SELECT *` over the cached
# analyzed plan), never the cached handle itself: an EXECUTED Dataset
# pins its whole AQE execution state JVM-side (broadcast relations,
# shuffle-stage references, metrics) until the handle is GC'd, and a
# cache that handed out the base object accumulated 255 executed plans'
# state for the session's life — measured as a 1 GiB-heap OOM 188 keys
# into the sf0.1 vanilla oracle gate. With the clone, the cached base is
# never executed (it holds only the analyzed tree; re-analysis of the
# clone short-circuits on the resolved child) and each execution's
# state dies with its transient clone — the pre-cache lifetime.
def _clone(df: DataFrame) -> DataFrame:
    return df.selectExpr("*")


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    plan: QueryFn | None = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _clone(
                session_cached(
                    spark, sf_dir, f"query:{name}", TABLE_NAMES,
                    lambda: fn(spark, sf_dir),
                )
            )

        prepared.__name__ = fn.__name__
        prepared.__doc__ = fn.__doc__
        prepared.__wrapped__ = fn
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=prepared,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            plan_fn=plan,
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that register queries.
    from cloud_data_sync_spark import sync  # noqa: F401
    from cloud_data_sync_spark.functions import udfs  # noqa: F401
    from cloud_data_sync_spark.operators import (  # noqa: F401
        analytics,
        bucketed,
        corpus,
        dedup,
        governance,
        maintenance,
        ml,
        multimodal,
        optstats,
        relational,
        similarity,
        text,
        tpch,
    )
    from cloud_data_sync_spark.streaming import (  # noqa: F401
        crawl,
        enrich,
        stateful,
        tws,
        windows,
    )

    return dict(_REGISTRY)
