"""Session-store semantics (tables.session_cached / session_substrate).

The store contract: a value is built at most once per (session, sf_dir,
tag, input vintage); a changed input vintage misses AND evicts the
superseded entry; a miss drops entries of other (stopped) sessions; a
session without a readable applicationId builds and stores nothing; a
substrate's checkpoint genuinely materializes once (consumers scan it, they
do not re-run the pipeline). The consumers' VALUE correctness is covered by
the oracle gate — these tests pin the caching behavior itself.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cloud_data_sync_spark import tables
from cloud_data_sync_spark.tables import (
    load_table,
    session_cached,
    session_substrate,
)

SF_DIR = "/root/testdata/sf0.001"


def _entries(sf_dir: str, tag: str) -> list[tuple]:
    root = os.path.realpath(sf_dir)
    return [k for k in tables._SESSION_STORE if k[1] == root and k[2] == tag]


def _rewrite(path: str, mtime: int) -> None:
    """Same path, new (size, mtime) vintage."""
    with open(path, "ab") as f:
        f.write(b"x")
    os.utime(path, (mtime, mtime))


def test_same_key_returns_cached_frame(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    a = session_substrate(spark, SF_DIR, "test-same-key", "region", build)
    b = session_substrate(spark, SF_DIR, "test-same-key", "region", build)
    assert a is b
    assert len(calls) == 1
    assert a.count() == 5


def test_different_tag_rebuilds(spark):
    a = session_substrate(
        spark, SF_DIR, "test-tag-a", "region", lambda: spark.range(3)
    )
    b = session_substrate(
        spark, SF_DIR, "test-tag-b", "region", lambda: spark.range(4)
    )
    assert a is not b
    assert (a.count(), b.count()) == (3, 4)
    assert len(_entries(SF_DIR, "test-tag-a")) == 1
    assert len(_entries(SF_DIR, "test-tag-b")) == 1


def test_stale_vintage_is_evicted_not_served(spark, tmp_path):
    # rewrite the input file between calls: the new vintage must rebuild,
    # and the superseded entry must leave the store (so its checkpoint
    # blocks become collectable instead of pinned for the session)
    sf = str(tmp_path)
    dst = os.path.join(sf, "region.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "region.parquet"), dst)
    builds = []

    def build():
        builds.append(1)
        return spark.range(7)

    a = session_substrate(spark, sf, "test-stale", "region", build)
    assert a.count() == 7 and len(_entries(sf, "test-stale")) == 1
    _rewrite(dst, 1)
    b = session_substrate(spark, sf, "test-stale", "region", build)
    assert len(builds) == 2
    assert b is not a
    # the stale entry was evicted, not accumulated
    assert len(_entries(sf, "test-stale")) == 1


def test_multi_table_key_tracks_every_input_vintage(spark, tmp_path):
    """A builder that reads TWO tables must miss the store when EITHER
    input is rewritten — keying on one table only would serve stale rows
    for the other (r4 advice)."""
    sf = str(tmp_path)
    for t in ("region", "nation"):
        shutil.copyfile(
            os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet")
        )
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    inputs = ("region", "nation")
    a = session_substrate(spark, sf, "test-multi", inputs, build)
    assert a.count() == 3 and builds == [1]
    # rewrite the SECOND input: the tuple key must miss
    _rewrite(os.path.join(sf, "nation.parquet"), 1)
    b = session_substrate(spark, sf, "test-multi", inputs, build)
    assert len(builds) == 2
    assert b is not a
    assert len(_entries(sf, "test-multi")) == 1  # superseded entry evicted


def test_load_table_keeps_one_scan_per_table(spark, tmp_path):
    """Each in-place rewrite misses load_table's scan plan AND evicts the
    superseded one: a rewrite must not pin one more scan plan for the
    session's life."""
    sf = str(tmp_path)
    dst = os.path.join(sf, "region.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "region.parquet"), dst)
    region = pd.read_parquet(dst)
    seen = []
    for n in (5, 3, 1):
        region.head(n).to_parquet(dst, index=False)
        os.utime(dst, (n, n))
        seen.append(load_table(spark, sf, "region").count())
        assert len(_entries(sf, "scan:region")) == 1
    assert seen == [5, 3, 1]


def test_purge_drops_dead_entries(spark):
    # classic PySpark runs one SparkContext per process: an entry under
    # another applicationId belongs to a stopped session and the next
    # miss removes it
    dead_key = ("dead-app", os.path.realpath(SF_DIR), "test-dead", ((),))
    tables._SESSION_STORE[dead_key] = object()
    session_cached(spark, SF_DIR, "test-dead-miss", "region", lambda: 1)
    assert dead_key not in tables._SESSION_STORE
    assert len(_entries(SF_DIR, "test-dead-miss")) == 1


def test_unreadable_app_id_builds_without_storing():
    class _NoContext:
        @property
        def sparkContext(self):  # noqa: N802 - SparkSession's attribute name
            raise RuntimeError("stopped")

    before = dict(tables._SESSION_STORE)
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    fake = _NoContext()
    assert session_cached(fake, SF_DIR, "test-no-app", "region", build) == 1
    assert session_cached(fake, SF_DIR, "test-no-app", "region", build) == 2
    assert tables._SESSION_STORE == before


def test_input_vintage_one_entry_per_name(tmp_path):
    d = tmp_path / "v"
    d.mkdir()
    for f in ("region.parquet", "nation.parquet", "nation_001.parquet", "x.txt"):
        (d / f).write_bytes(b"abc")
    v = tables.input_vintage(str(d), ("nation", "region", "orders"))
    assert [[f for f, _, _ in files] for files in v] == [
        ["nation.parquet", "nation_001.parquet"],
        ["region.parquet"],
        [],
    ]
    assert tables.input_vintage(str(d / "missing"), ("region",)) == ((),)


def _cache_tags() -> list[str]:
    """Every literal ``tag`` the package passes to the session store (the
    third argument of session_cached, session_substrate and
    drained_family, or ``tag=``)."""
    pkg = pathlib.Path(tables.__file__).parent
    fns = {"session_cached", "session_substrate", "drained_family"}
    tags = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name not in fns:
                continue
            arg = node.args[2] if len(node.args) > 2 else next(
                (k.value for k in node.keywords if k.arg == "tag"), None
            )
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                tags.append(arg.value)
    return tags


def test_session_store_tags_are_unique():
    # one shared store: a reused tag would silently serve one caller's
    # value to another
    tags = _cache_tags()
    assert len(tags) >= 31, tags
    dup = [t for t, n in Counter(tags).items() if n > 1]
    assert not dup, f"session-store tags used more than once: {dup}"


def test_checkpoint_materializes_once(spark):
    # behavioral pin of "scan, not recompute": a pandas-UDF side effect in
    # the build pipeline fires during the first action only — the second
    # action reads the materialized checkpoint
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def bump(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    sub = session_substrate(
        spark,
        SF_DIR,
        "test-acc",
        "region",
        lambda: spark.range(100).select(bump("id").alias("id")),
    )
    assert sub.count() == 100
    first = acc.value
    assert first >= 100  # pipeline ran (at least) once to materialize
    assert sub.count() == 100
    assert acc.value == first  # second action did NOT re-run the pipeline


def test_consumers_attach_to_checkpoint_scan(spark):
    # consumers' plans hang off the checkpoint RDD, not the build pipeline
    # (no parquet relation survives in the optimized plan)
    from cloud_data_sync_spark.operators.dedup import corpus_signatures

    df = corpus_signatures(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan


def test_corpus_signatures_cached_per_session(spark):
    from cloud_data_sync_spark.operators.dedup import corpus_signatures

    assert corpus_signatures(spark, SF_DIR) is corpus_signatures(spark, SF_DIR)


def test_substrate_matches_inline_pipeline(spark):
    # the substrate is a pure materialization: row-for-row identical to
    # building the signature pipeline inline
    from cloud_data_sync_spark.operators.dedup import (
        augmented_documents,
        corpus_signatures,
        minhash_signatures,
    )

    sub = corpus_signatures(spark, SF_DIR).select("doc_id", "sig")
    inline = minhash_signatures(
        augmented_documents(spark, SF_DIR), hashed_shingles=True
    ).select("doc_id", "sig")
    assert sub.exceptAll(inline).count() == 0
    assert inline.exceptAll(sub).count() == 0


def test_toks_substrate_matches_inline_tokenize(spark):
    # documents + toks substrate: same rows and token arrays as tokenizing
    # the raw scan inline with the shared low_toks contract
    from cloud_data_sync_spark.operators.tokens import low_toks, toks_documents
    from cloud_data_sync_spark.tables import load_table

    sub = toks_documents(spark, SF_DIR)
    inline = load_table(spark, SF_DIR, "documents").withColumn("toks", low_toks())
    assert sub.columns == inline.columns
    assert sub.exceptAll(inline).count() == 0
    assert inline.exceptAll(sub).count() == 0


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


# Queries whose REGISTERED RESULT is itself a shared substrate: their own
# plan explains as `Scan ExistingRDD`, so the structural audit would be
# vacuous unless the builder pipeline is exposed via QuerySpec.plan_fn
# (tools/plan_audit.py and tests/test_plans.py audit `plan_fn or fn`).
# This guard fails if a future output substrate forgets the plan= hook.
OUTPUT_SUBSTRATE_QUERIES = (
    "q_sync_diff",
    "q_ngram_lm",
    "q_sim_topk",
    "q_sim_ivf",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_dedup_prefix_filter",
    "q_dedup_lsh_recall",
)


def test_output_substrate_queries_expose_builder_plans(spark):
    from cloud_data_sync_spark.registry import all_queries

    qs = all_queries()
    for name in OUTPUT_SUBSTRATE_QUERIES:
        spec = qs[name]
        assert spec.plan_fn is not None, f"{name} lost its plan= builder"
        if name == "q_dedup_clusters":
            # its builder runs connected components, whose ≤2M-edge path
            # EXECUTES a guarded driver union-find during build — the
            # returned labels are a local relation by design (dedup.py
            # _cc_local), so there are no relational operators to assert
            continue
        plan = spec.plan_fn(spark, SF_DIR)._jdf.queryExecution().toString()
        # the builder must expose the real pipeline, not the checkpoint: a
        # builder that merely re-read the substrate would be a bare
        # RDD-scan plan with no relational operators, making the plan
        # audit vacuous again (every one of these pipelines aggregates,
        # joins, or shuffles)
        assert any(op in plan for op in ("Join", "Aggregate", "Exchange")), (
            f"{name}: builder plan exposes no relational operators"
        )


def test_materialize_reliable_checkpoint_mode(spark, tmp_path):
    """spark.cloud_data_sync.checkpoint_dir flips every lineage-truncation
    site from localCheckpoint to a reliable checkpoint (SCALE.md's first
    real-cluster change) with identical results in both modes."""
    import os

    from cloud_data_sync_spark.operators.dedup import connected_components
    from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF, materialize

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "a long, b long"
    )
    # local mode (default): no conf set
    base = sorted(
        tuple(r) for r in connected_components(edges, local_max_edges=0).collect()
    )
    ckdir = str(tmp_path / "ck")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckdir)
    try:
        m = materialize(edges, eager=True)
        assert sorted(tuple(r) for r in m.collect()) == sorted(
            tuple(r) for r in edges.collect()
        )
        wrote = any(fs for _, _, fs in os.walk(ckdir))
        assert wrote, "reliable mode must write checkpoint files"
        # the distributed label-propagation branch under reliable mode
        reliable = sorted(
            tuple(r)
            for r in connected_components(edges, local_max_edges=0).collect()
        )
        assert reliable == base
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_session_substrate_honors_checkpoint_conf(spark, tmp_path):
    import os

    from cloud_data_sync_spark.tables import (
        CHECKPOINT_DIR_CONF,
        session_substrate,
    )

    ckdir = str(tmp_path / "ck2")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckdir)
    try:
        df = session_substrate(
            spark,
            SF_DIR,
            "ck-test-substrate",
            "region",
            lambda: spark.range(100).selectExpr("id", "id * 2 AS y"),
        )
        assert df.count() == 100  # lazy checkpoint materializes here
        assert any(fs for _, _, fs in os.walk(ckdir))
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def _effectful_frame(spark, fx_dir: str):
    """A frame whose computation drops one uniquely-named marker file per
    row — the marker count IS the number of times the side effects ran."""

    def emit(batches):
        import tempfile

        for pdf in batches:
            for _ in range(len(pdf)):
                tempfile.mkstemp(dir=fx_dir)
            yield pdf

    return spark.range(0, 8, 1, 2).mapInPandas(emit, "id long")


def test_side_effecting_materialize_runs_exactly_once(spark, tmp_path):
    """GUARD (r6 advice, high): under spark.cloud_data_sync.checkpoint_dir,
    a side-effecting frame must NOT go through df.checkpoint() — Spark's
    reliable checkpoint recomputes the unpersisted RDD in a second job to
    write the checkpoint files, so every copy/delete in the sync runner
    would execute TWICE per tick. materialize(side_effecting=True) routes
    write-then-read parquet instead: exactly one execution, durable result.
    This test fails (16 markers, not 8) if that routing is ever removed."""
    from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF, materialize

    fx = tmp_path / "fx"
    fx.mkdir()
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ck3"))
    try:
        out = materialize(
            _effectful_frame(spark, str(fx)),
            eager=True,
            side_effecting=True,
            tag="guard",
        )
        assert out.count() == 8
        assert len(os.listdir(fx)) == 8, (
            "side effects ran more than once under the reliable-checkpoint "
            "flag (df.checkpoint's second job re-executed the frame)"
        )
        # consuming the returned frame again must scan files, not recompute
        assert out.count() == 8
        assert len(os.listdir(fx)) == 8
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_side_effecting_materialize_prunes_superseded_generation(spark, tmp_path):
    """Each (app, tag) keeps one live generation: the continuous sync loop
    must not grow the checkpoint root per tick (r6 advice, medium)."""
    from cloud_data_sync_spark.tables import CHECKPOINT_DIR_CONF, materialize

    ck = tmp_path / "ck4"
    spark.conf.set(CHECKPOINT_DIR_CONF, str(ck))
    try:
        a = materialize(
            spark.range(3), eager=True, side_effecting=True, tag="gen"
        )
        assert a.count() == 3
        b = materialize(
            spark.range(4), eager=True, side_effecting=True, tag="gen"
        )
        assert b.count() == 4
        app_dirs = list((ck / "effects").iterdir())
        assert len(app_dirs) == 1
        gens = [d for d in app_dirs[0].iterdir() if d.name.startswith("gen-")]
        assert len(gens) == 1, f"superseded generation not pruned: {gens}"
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


# -- registry prepared-plan cache (r10) --------------------------------------


def _prepared_entry(name: str, sf_dir: str):
    hits = _entries(sf_dir, f"query:{name}")
    assert len(hits) <= 1
    return (hits[0], tables._SESSION_STORE[hits[0]]) if hits else (None, None)


def test_prepared_plan_cache_serves_cached_base(spark):
    """A second invocation must be served from the cache, not rebuilt:
    builders are py4j-bound (the r10 profile measured ~36s of the full
    registry's wall in plan construction alone). Proven by swapping the
    cached base for a sentinel frame and observing the next invocation
    return a clone of the sentinel. Callers must get a CLONE, not the
    base itself — an executed Dataset pins its AQE execution state
    JVM-side, and handing out the base OOM'd the 1 GiB vanilla gate."""
    from cloud_data_sync_spark.registry import all_queries

    q = all_queries()["q_join_inner"]
    base_out = q.fn(spark, SF_DIR)
    key, cached = _prepared_entry("q_join_inner", SF_DIR)
    assert key is not None
    # the handle handed to callers is a clone, never the cached base
    assert base_out is not cached
    sentinel = spark.range(3).toDF("sentinel_col")
    tables._SESSION_STORE[key] = sentinel
    try:
        out = q.fn(spark, SF_DIR)
        assert out.columns == ["sentinel_col"]  # served from cache
        assert out is not sentinel  # and cloned
    finally:
        tables._SESSION_STORE[key] = cached


def test_prepared_plan_cache_misses_on_table_vintage_change(spark, tmp_path):
    """Mutating any input table file (the gate suites rewrite tables in
    place) must miss the cache — a stale plan would carry the old file
    index."""
    from cloud_data_sync_spark.registry import all_queries
    from cloud_data_sync_spark.tables import TABLE_NAMES, table_path

    d = str(tmp_path / "sfx")
    os.makedirs(d)
    for t in TABLE_NAMES:
        shutil.copyfile(table_path(SF_DIR, t), table_path(d, t))
    q = all_queries()["q_join_inner"]
    q.fn(spark, d)
    key, _ = _prepared_entry("q_join_inner", d)
    assert key is not None
    # swap in a sentinel: a vintage change must BYPASS it (fresh build)
    tables._SESSION_STORE[key] = spark.range(3).toDF("sentinel_col")
    st = os.stat(table_path(d, "lineitem"))
    os.utime(table_path(d, "lineitem"), ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    out = q.fn(spark, d)
    assert "sentinel_col" not in out.columns
    assert key not in tables._SESSION_STORE  # superseded vintage evicted


def test_prepared_plan_cache_keys_by_sf_dir(spark):
    from cloud_data_sync_spark.registry import all_queries

    q = all_queries()["q_join_inner"]
    q.fn(spark, SF_DIR)
    q.fn(spark, "/root/testdata/sf0.01")
    k1, _ = _prepared_entry("q_join_inner", SF_DIR)
    k2, _ = _prepared_entry("q_join_inner", "/root/testdata/sf0.01")
    assert k1 is not None and k2 is not None and k1 != k2
