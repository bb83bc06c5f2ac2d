"""cloud-data-sync-spark: a PySpark-native analytics engine with the
reference cloud-object-sync tool's capabilities plus the operators a
large-scale training-data pipeline needs.

Public API — everything a library embedder uses (SURVEY.md §3.3):

    from cloud_data_sync_spark import get_spark, load_config, sync_all

    spark = get_spark("my-app")
    cfg = load_config("config.json")
    reports = sync_all(spark, cfg, state_path="/state")

The query registry (the driver contract's backing store) is exported for
programmatic access to every named operator:

    from cloud_data_sync_spark import all_queries
    df = all_queries()["q_dedup_minhash"].fn(spark, "/data/sf0.1")

Imports here are lazy (module ``__getattr__``) so ``import
cloud_data_sync_spark`` stays cheap and never triggers the full operator
registry unless asked for.
"""

from __future__ import annotations

__version__ = "0.4.0"

_EXPORTS = {
    # session
    "get_spark": ("cloud_data_sync_spark.session", "get_spark"),
    # config
    "Config": ("cloud_data_sync_spark.config", "Config"),
    "ConfigError": ("cloud_data_sync_spark.config", "ConfigError"),
    "load_config": ("cloud_data_sync_spark.config", "load_config"),
    "validate_config": ("cloud_data_sync_spark.config", "validate_config"),
    "save_default_config": ("cloud_data_sync_spark.config", "save_default_config"),
    # sync core
    "sync_diff": ("cloud_data_sync_spark.sync", "sync_diff"),
    "sync_counts": ("cloud_data_sync_spark.sync", "sync_counts"),
    # runner
    "SyncReport": ("cloud_data_sync_spark.runner", "SyncReport"),
    "sync_buckets": ("cloud_data_sync_spark.runner", "sync_buckets"),
    "sync_all": ("cloud_data_sync_spark.runner", "sync_all"),
    "run_continuous": ("cloud_data_sync_spark.runner", "run_continuous"),
    # state table
    "load_state": ("cloud_data_sync_spark.state", "load_state"),
    "state_exists": ("cloud_data_sync_spark.state", "state_exists"),
    "StateVersionError": ("cloud_data_sync_spark.state", "StateVersionError"),
    # query registry
    "all_queries": ("cloud_data_sync_spark.registry", "all_queries"),
    "QuerySpec": ("cloud_data_sync_spark.registry", "QuerySpec"),
}

__all__ = sorted(_EXPORTS) + ["__version__"]


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)


def __dir__() -> list[str]:
    return __all__
