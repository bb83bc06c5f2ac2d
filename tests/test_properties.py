"""Property-based tests (hypothesis) for the sync core.

The e2e tests pin concrete scenarios; these pin the ALGEBRA: invariants
that must hold for any catalog/state contents, not just the fixtures.
Strategies draw small random catalogs; Spark jobs per example are tiny, so
examples are capped to keep the suite fast.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, _parse_datatype_string

from cloud_data_sync_spark.executor import RESULT_SCHEMA
from cloud_data_sync_spark.runner import count_actions, next_state, observe_report
from cloud_data_sync_spark.state import KEYS, STATE_SCHEMA, delete_keys, upsert
from cloud_data_sync_spark.sync import reconcile, sync_diff

BASE_TS = datetime(2024, 1, 1)

_names = st.lists(
    st.sampled_from([f"obj{i}.bin" for i in range(6)]), min_size=0, max_size=6, unique=True
)


def _catalog_rows(names: list[str], seed: int) -> list[tuple]:
    return [
        ("m1", n, 10 + i, f"etag{(seed + i) % 3}", BASE_TS + timedelta(minutes=(seed + i) % 4))
        for i, n in enumerate(names)
    ]


CATALOG_SCHEMA = (
    "mapping_id string, object_name string, size long, etag string,"
    " last_modified timestamp"
)


def _state_rows(names: list[str], seed: int) -> list[tuple]:
    return [
        (
            "m1",
            n,
            10 + i,
            BASE_TS + timedelta(minutes=(seed + i) % 4),
            f"etag{(seed + i + 1) % 3}",
            "text/plain",
            {"owner": f"o{(seed + i) % 3}"},
            BASE_TS + timedelta(hours=1),
            ["success", "failed_get"][(seed + i) % 2],
        )
        for i, n in enumerate(names)
    ]


def _canon(row) -> tuple:
    """A collected row as a hashable, comparable tuple: map cells collect as
    dicts, struct cells as Rows."""
    return tuple(
        tuple(sorted(v.items()))
        if isinstance(v, dict)
        else _canon(v)
        if isinstance(v, tuple)
        else v
        for v in row
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(src_names=_names, tgt_names=_names, st_names=_names, seed=st.integers(0, 7))
def test_sync_diff_partitions_the_namespace(spark, src_names, tgt_names, st_names, seed):
    src = spark.createDataFrame(_catalog_rows(src_names, seed), CATALOG_SCHEMA)
    tgt = spark.createDataFrame(_catalog_rows(tgt_names, seed + 1), CATALOG_SCHEMA)
    full_state = spark.createDataFrame(_state_rows(st_names, seed), STATE_SCHEMA)
    state = full_state.select(
        "mapping_id", "object_name", "etag", "last_modified", "sync_status"
    )
    plan = sync_diff(src, tgt, state).collect()
    by_action: dict[str, set] = {"copy": set(), "skip": set(), "delete": set()}
    for r in plan:
        by_action[r.action].add(r.object_name)
    # every source object is classified exactly once, as copy or skip
    assert by_action["copy"] | by_action["skip"] == set(src_names)
    assert not (by_action["copy"] & by_action["skip"])
    # deletes are exactly the target-only objects
    assert by_action["delete"] == set(tgt_names) - set(src_names)
    # plan rows = |src| + |tgt \\ src| (no duplicates, no losses)
    assert len(plan) == len(src_names) + len(set(tgt_names) - set(src_names))

    # the keyed pass gives the same rows, plus a keep row per state-only key
    keyed = reconcile(src, tgt, full_state).collect()
    cols = ["mapping_id", "object_name", "action", "reason", "size", "etag", "last_modified"]
    assert sorted(_canon([r[c] for c in cols]) for r in keyed if r.action != "keep") == sorted(
        _canon([r[c] for c in cols]) for r in plan
    )
    keep = {r.object_name for r in keyed if r.action == "keep"}
    assert keep == set(st_names) - set(src_names) - set(tgt_names)
    stored = {r.object_name: _canon(r)[2:] for r in full_state.collect()}
    assert {r.object_name: r.state and _canon(r.state) for r in keyed} == {
        n: stored.get(n) for n in set(src_names) | set(tgt_names) | set(st_names)
    }


def _executed(spark, plan, oks: list[bool]):
    """``plan``'s rows as ``execute_plan`` returns them, with each copy and
    delete row's outcome drawn from ``oks`` instead of file I/O."""
    out_type = StructType(
        _parse_datatype_string(RESULT_SCHEMA).fields
        + [plan.schema["reason"], plan.schema["state"]]
    )
    rows = []
    for i, r in enumerate(plan.collect()):
        ok = oks[i % len(oks)]
        status = content_type = synced = None
        metadata: dict = {}
        if r.action == "copy":
            status = "success" if ok else ("failed_get", "failed_upload")[i % 2]
            content_type, metadata = "text/plain", {"run": str(i)}
            synced = BASE_TS + timedelta(hours=2, minutes=i)
        elif r.action == "delete":
            status = "success" if ok else "failed_delete"
            synced = BASE_TS + timedelta(hours=2, minutes=i)
        rows.append(
            (r.mapping_id, r.object_name, r.action, status,
             None if status in (None, "success") else "boom",
             r.size, r.last_modified, r.etag, content_type, metadata, synced,
             r.reason, r.state)
        )
    return spark.createDataFrame(rows, out_type)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    src_names=_names,
    tgt_names=_names,
    st_names=_names,
    seed=st.integers(0, 7),
    oks=st.lists(st.booleans(), min_size=6, max_size=6),
)
# failed deletes with and without a state row, and a state-only key
@example(["obj0.bin"], ["obj1.bin", "obj2.bin"], ["obj2.bin", "obj3.bin"], 0, [False] * 6)
def test_next_state_equals_the_upsert_delete_merge(
    spark, src_names, tgt_names, st_names, seed, oks
):
    """The runner's projected state equals the reference merge, row for
    row: every copy row upserted over the stored rows, then every
    successfully deleted key removed."""
    src = spark.createDataFrame(_catalog_rows(src_names, seed), CATALOG_SCHEMA)
    tgt = spark.createDataFrame(_catalog_rows(tgt_names, seed + 1), CATALOG_SCHEMA)
    state = spark.createDataFrame(_state_rows(st_names, seed), STATE_SCHEMA)
    results = _executed(spark, reconcile(src, tgt, state), oks)
    copy_rows = results.filter(F.col("action") == "copy").select(
        *STATE_SCHEMA.fieldNames()[:-1], F.col("status").alias("sync_status")
    )
    deleted = results.filter((F.col("action") == "delete") & (F.col("status") == "success"))
    want = delete_keys(upsert(state, copy_rows), deleted)
    got = next_state(results)
    assert got.columns == want.columns == STATE_SCHEMA.fieldNames()
    assert sorted(_canon(r) for r in got.collect()) == sorted(_canon(r) for r in want.collect())


# mapping ids as config mappings render them, with the characters a SQL
# literal must escape
_MIDS = ["m1", "s:a->t:b", "s:it's->t:b", "s:p\\q->t:r", "s:\\'->t:''"]
_ACTIONS = ["copy", "skip", "delete", "keep"]
_STATUSES = ["success", "failed_get", "failed_upload", "failed_delete", None]
_executed_rows = st.lists(
    st.tuples(
        st.sampled_from(_MIDS),
        st.sampled_from(_ACTIONS),
        st.sampled_from(_STATUSES),
        st.booleans(),
    ),
    max_size=14,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(drawn=_executed_rows)
# every action under every status, with and without a state row
@example(
    [
        (_MIDS[i % len(_MIDS)], a, s, i % 2 == 0)
        for i, (a, s) in enumerate((a, s) for a in _ACTIONS for s in _STATUSES for _ in "ab")
    ]
)
def test_observed_report_equals_count_actions(spark, drawn):
    """The report observed on an executed frame equals ``count_actions``
    over what the runner tallied before: every non-keep row by action and
    status, plus one ``STATE_ROW`` row per row of ``next_state``."""
    stored = (1, BASE_TS, "e", "text/plain", {}, BASE_TS, "success")
    rows = [
        (mid, f"o{i}", action, status, None, 1, BASE_TS, "e", None, {}, None, "r",
         stored if has_state else None)
        for i, (mid, action, status, has_state) in enumerate(drawn)
    ]
    executed_type = StructType(
        _parse_datatype_string(RESULT_SCHEMA).fields
        + [
            StructField("reason", StringType()),
            StructField("state", StructType([f for f in STATE_SCHEMA.fields if f.name not in KEYS])),
        ]
    )
    results = spark.createDataFrame(rows, executed_type)
    observed, report = observe_report(results, _MIDS)
    observed.collect()
    want = count_actions(
        results.where("action != 'keep'")
        .select("mapping_id", "action", "status")
        .unionByName(
            next_state(results).selectExpr("mapping_id", "'state' AS action"),
            allowMissingColumns=True,
        )
    )
    got = report()
    assert list(got) == _MIDS
    assert {mid: c for mid, c in got.items() if c} == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(a_names=_names, b_names=_names, seed=st.integers(0, 7))
def test_upsert_idempotent_and_key_unique(spark, a_names, b_names, seed):
    existing = spark.createDataFrame(_state_rows(a_names, seed), STATE_SCHEMA)
    updates = spark.createDataFrame(_state_rows(b_names, seed + 2), STATE_SCHEMA)
    merged = upsert(existing, updates)
    rows = merged.collect()
    # one row per key, keys = union of inputs
    keys = [(r.mapping_id, r.object_name) for r in rows]
    assert len(keys) == len(set(keys))
    assert {k[1] for k in keys} == set(a_names) | set(b_names)
    # applying the same updates again changes nothing (idempotency)
    again = {_canon(r) for r in upsert(merged, updates).collect()}
    assert again == {_canon(r) for r in rows}
    # an update never loses to an equal-or-older existing row
    upd = {(r.mapping_id, r.object_name): r for r in updates.collect()}
    for r in rows:
        k = (r.mapping_id, r.object_name)
        if k in upd and upd[k].last_synced >= (r.last_synced or upd[k].last_synced):
            assert _canon(r) == _canon(upd[k])


# -- round-3 operator algebra -------------------------------------------------

_intervals = st.lists(
    st.tuples(st.integers(0, 40), st.integers(1, 12)),  # (start_min, dur_min)
    min_size=1,
    max_size=8,
)


def _merge_reference(iv: list[tuple[int, int]]) -> list[tuple[int, int, int]]:
    """O(n log n) island merge over [s, e) minute intervals → (s, e, count)."""
    spans = sorted((s, s + d) for s, d in iv)
    out: list[list[int]] = []
    for s, e in spans:
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += 1
        else:
            out.append([s, e, 1])
    return [tuple(x) for x in out]


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(iv=_intervals)
def test_gaps_islands_matches_reference_merge(spark, tmp_path_factory, iv):
    """q_gaps_islands must agree with a brute-force interval merge for ANY
    interval set (overlap chains, containment, duplicates, touching ends)."""
    from cloud_data_sync_spark.operators.relational import q_gaps_islands

    tmp = tmp_path_factory.mktemp("gi")
    rows = [
        # event_id multiples of 7 pass the query's subset filter; value is
        # the duration in minutes
        (7 * (i + 1), BASE_TS + timedelta(minutes=s), 1, "view", float(d), "{}")
        for i, (s, d) in enumerate(iv)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp / "events.parquet"))

    got = sorted(
        (r.island_start, r.island_end, r.n_intervals)
        for r in q_gaps_islands(spark, str(tmp)).collect()
    )
    us = lambda m: int((BASE_TS + timedelta(minutes=m)).timestamp() * 1_000_000)  # noqa: E731
    want = sorted((us(s), us(e), n) for s, e, n in _merge_reference(iv))
    assert got == want


_doc_texts = st.lists(
    st.lists(st.sampled_from(["red", "green", "blue", "cyan", "lime"]), min_size=3, max_size=7),
    min_size=2,
    max_size=5,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(toksets=_doc_texts)
def test_prefix_filter_has_zero_false_negatives(spark, tmp_path_factory, toksets):
    """Every pair whose trigram-shingle Jaccard clears the threshold MUST be
    reported — the exactness guarantee that separates prefix filtering from
    LSH. Verified against a brute-force all-pairs reference."""
    from cloud_data_sync_spark.operators.dedup import _PF_T, q_dedup_prefix_filter

    # even ids dodge both the %2 demo scope (they pass it) and the corpus
    # augmentation (ids 2..10 step 2: none are %7/%10/%9 == 0 except 10)
    ids = [2, 4, 6, 8, 12][: len(toksets)]
    tmp = tmp_path_factory.mktemp("pf")
    rows = [
        (i, " ".join(toks), "en", "web", len(" ".join(toks)))
        for i, toks in zip(ids, toksets)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp / "documents.parquet"))

    def shingles(toks: list[str]) -> set[str]:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = shingles(toksets[i]), shingles(toksets[j])
            if a and b and len(a & b) / len(a | b) >= _PF_T:
                want.add((min(ids[i], ids[j]), max(ids[i], ids[j])))

    got = {
        (r.doc_a, r.doc_b) for r in q_dedup_prefix_filter(spark, str(tmp)).collect()
    }
    assert want <= got  # zero false negatives
    # and no fabricated pairs: everything reported really clears t
    for da, db in got:
        a = shingles(toksets[ids.index(da)])
        b = shingles(toksets[ids.index(db)])
        assert len(a & b) / len(a | b) >= _PF_T


_cdc_keys = st.lists(st.integers(1, 60), min_size=1, max_size=25, unique=True)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(keys=_cdc_keys)
def test_cdc_apply_latest_wins_and_tombstones(spark, tmp_path_factory, keys):
    """For ANY base key set, the CDC merge must equal a sequential replay:
    base rows, then updates (%13), then deletes (%50), then inserts (%37) —
    latest sequence wins, deletes remove, delete-then-reinsert impossible
    here but update-then-delete must tombstone."""
    from cloud_data_sync_spark.operators.relational import q_cdc_apply

    tmp = tmp_path_factory.mktemp("cdc")
    rows = [
        (k, k, "O", float(k * 10), BASE_TS, "P") for k in keys
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp / "orders.parquet"))

    # sequential replay reference
    table: dict[int, tuple[float, str]] = {k: (k * 10.0, "B") for k in keys}
    versions: dict[int, int] = {k: 1 for k in keys}
    for k in keys:
        if k % 13 == 0:
            table[k] = (k * 10.0 + 1000.0, "U")
            versions[k] += 1
    for k in keys:
        if k % 50 == 0:
            table.pop(k, None)
            versions[k] += 1
    for k in keys:
        if k % 37 == 0:
            table[k + 5000000] = (k * 10.0 - 500.0, "I")
            versions[k + 5000000] = 1

    got = {
        r.o_orderkey: (r.price, r.last_op, r.n_versions)
        for r in q_cdc_apply(spark, str(tmp)).collect()
    }
    want = {
        k: (round(price, 2), op, versions[k]) for k, (price, op) in table.items()
    }
    assert got == want


def test_floor_ratio_agrees_with_duckdb_on_dyadic_hazards(spark):
    """THE cross-engine rounding contract: floor_ratio (Spark) must equal
    floor(x * 10^d) / 10^d (DuckDB) bit-for-bit, including on the dyadic
    ratios a / (2^b * 5^c) that land on exact decimal halves — the class
    where round() half-up (Spark) vs half-even (DuckDB) diverges and the
    reason the registry mandates floor truncation for emitted ratios."""
    import duckdb

    from cloud_data_sync_spark.registry import floor_ratio
    from pyspark.sql import functions as F

    vals: list[float] = []
    # adversarial dyadic / dyadic-times-five ratios (exact decimal halves)
    for a in range(1, 40):
        for b in (2, 4, 8, 16, 32, 64, 1024):
            vals.append(a / b)
            vals.append(a / (b * 5))
            vals.append(-a / b)
    # rank-ratio shapes k/n for awkward n
    for n in (3, 6, 7, 640, 1000):
        vals.extend(k / n for k in range(0, n, max(1, n // 7)))
    # deterministic pseudo-random spread
    vals.extend(((h * 2654435761) % 10_000_019) / 9973.0 for h in range(200))

    for digits in (4, 6):
        sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
            "x", floor_ratio(F.col("x"), digits).alias("y")
        )
        # compare as input→output mappings: SQL output order is not
        # guaranteed, and equal inputs must produce equal outputs anyway
        got = {r.x: r.y for r in sdf.collect()}
        p = 10**digits
        want = dict(
            duckdb.sql(
                f"SELECT x, floor(x * {p}) / {p} FROM (SELECT unnest(?) AS x)",
                params=[vals],
            ).fetchall()
        )
        assert got == want, [
            (x, got[x], want.get(x)) for x in got if got[x] != want.get(x)
        ][:5]
