"""Tests for the benchmark's fixtures, span arithmetic and tracing switch.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import hashlib
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def tree_digest(root: str) -> str:
    """md5 over every file's relative name, content and xattrs."""
    h = hashlib.md5()
    for dirpath, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
            for attr in sorted(os.listxattr(path)):
                h.update(attr.encode() + os.getxattr(path, attr))
    return h.hexdigest()


def _tree(tmp_path, seed: int, ticks: int = 2):
    root = str(tmp_path / f"s{seed}")
    buckets = fixtures.build_buckets(root, [40, 8], seed)
    digests = [tree_digest(root)]
    drifts = []
    for tick in range(ticks):
        drifts.append(fixtures.apply_drift(root, buckets, seed, tick))
        digests.append(tree_digest(root))
    return digests, drifts


def test_same_seed_same_tree_and_drift(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = _tree(tmp_path / "a", 7)
    b = _tree(tmp_path / "b", 7)
    assert a == b
    c = _tree(tmp_path, 8)
    assert c[0][0] != a[0][0]


def test_tree_shape(tmp_path):
    root = str(tmp_path)
    (bucket,) = fixtures.build_buckets(root, [200], 3)
    sizes = fixtures.SIZE_MIN, fixtures.SIZE_MAX
    assert len(bucket.sizes) == 200
    assert all(sizes[0] <= s <= sizes[1] for s in bucket.sizes.values())
    assert len({n.split("/")[0] for n in bucket.sizes}) > 40  # 64-way fan-out
    tagged = [
        n for n in bucket.sizes
        if fixtures.CONTENT_TYPE_XATTR in os.listxattr(os.path.join(root, "b0", n))
    ]
    assert 60 < len(tagged) < 140


def test_drift_counts_hand_computed(tmp_path):
    root = str(tmp_path)
    small, large = fixtures.build_buckets(root, [10, 1000], 5)
    before_small = set(small.sizes)
    d_small, d_large = fixtures.apply_drift(root, [small, large], 5, 0)
    # 10 objects: drift floor of 4 -> 2 rewrites, 1 delete, 1 add;
    # the 7 untouched objects skip
    assert d_small.counts() == {"copy_success": 3, "delete_success": 1, "skip": 7}
    assert len(set(d_small.copy) - before_small) == 1
    assert set(d_small.delete) <= before_small and not set(d_small.delete) & set(small.sizes)
    # 1000 objects: 1% = 10 -> 5 rewrites, 2 deletes, 3 adds
    assert d_large.counts() == {"copy_success": 8, "delete_success": 2, "skip": 993}
    on_disk = {
        os.path.relpath(os.path.join(d, f), os.path.join(root, "b0"))
        for d, _, fs in os.walk(os.path.join(root, "b0"))
        for f in fs
    }
    assert on_disk == set(small.sizes)


def test_rewrite_changes_etag_inputs(tmp_path):
    root = str(tmp_path)
    (bucket,) = fixtures.build_buckets(root, [20], 9)
    old = dict(bucket.sizes)
    (drift,) = fixtures.apply_drift(root, [bucket], 9, 0)
    for name in drift.copy:
        if name in old:
            st = os.stat(os.path.join(root, "b0", name))
            assert st.st_size != old[name] and st.st_mtime != 1.7e9


def test_tables_pinned():
    tables = fixtures.make_tables(0)
    assert {k: len(v) for k, v in tables.items() if k in fixtures.TABLE_ROWS} == fixtures.TABLE_ROWS
    assert len(tables["region"]) == 5 and len(tables["nation"]) == 25
    assert fixtures.tables_digest(tables) == fixtures.tables_digest(fixtures.make_tables(0))
    assert fixtures.tables_digest(tables) != fixtures.tables_digest(fixtures.make_tables(1))
    assert fixtures.tables_digest(tables) == TABLES_SEED0_DIGEST


# Content of the seed-0 query tables. A change to the generator that alters
# the query workload's inputs must update this pin deliberately.
TABLES_SEED0_DIGEST = "83cf10988859d395687a6a3d6246c8e3"


def _span(name, start, end, parent=None):
    return Span(name=name, op=0, parent=parent, start=start, end=end)


def test_self_time_nested_spans():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.1", 1.5, 2.0, parent=1),
        _span("a.2", 3.0, 5.0, parent=1),  # runs past its parent: clipped
        _span("b", 3.5, 6.0, parent=0),  # overlaps a: the union counts once
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx([10 - 5, 3 - 1.5, 0.5, 2.0, 2.5])


def test_self_time_leaf_is_duration():
    assert self_times([_span("x", 2.0, 2.25)]) == [0.25]


class _FakeSpark:
    def __init__(self):
        self.groups = []
        self.sparkContext = SimpleNamespace(setLocalProperty=lambda k, v: self.groups.append(v))


def test_tracer_restores_originals():
    from cloud_data_sync_spark import runner

    original = runner.sync_buckets
    tracer = Tracer(_FakeSpark())
    tracer.count_py4j()
    run.install_sync(tracer)
    assert runner.sync_buckets is not original
    tracer.uninstall()
    assert runner.sync_buckets is original


def test_spans_nest_and_restore_job_groups():
    spark = _FakeSpark()
    tracer = Tracer(spark)
    outer = tracer.begin("outer")
    inner = tracer.begin("inner")
    tracer.end(inner)
    tracer.end(outer)
    assert tracer.spans[inner].parent == outer
    assert spark.groups == ["perfbench-0", "perfbench-1", "perfbench-0", None]


def test_untraced_run_installs_nothing(tmp_path):
    from py4j.clientserver import ClientServerConnection

    from cloud_data_sync_spark import runner, state, tables

    before = (
        runner.sync_buckets, runner.list_objects, runner.materialize,
        state.save_state, tables.materialize, ClientServerConnection.send_command,
    )
    calls = []
    r = run.Run(SimpleNamespace(trace=0, seed=0, seconds=1, workload="sync_steady"), str(tmp_path))
    assert r.tracer is None
    for op in range(3):
        r.timed(op, calls.append, lambda tracer: calls.append(tracer))
    assert calls == [None, None, None]
    assert r.traced == [False, False, False]
    assert before == (
        runner.sync_buckets, runner.list_objects, runner.materialize,
        state.save_state, tables.materialize, ClientServerConnection.send_command,
    )


def _fake_load(r, monkeypatch, loads, wall=1.0):
    """Give ``r`` ops of ``wall`` seconds under the outside ``loads``."""
    clock = iter(range(1000))
    r.cpu_stamp = lambda: (0.0, 0.0, 0.0)
    r.bench = SimpleNamespace(
        wait_for_external_idle=lambda *a, **kw: (0.0, 0.0, True),
        external_cores=lambda s0, s1: next(loads),
    )
    monkeypatch.setattr(run, "time", SimpleNamespace(perf_counter=lambda: wall * next(clock)))


def test_ops_under_outside_load_are_refused(tmp_path, monkeypatch):
    r = run.Run(SimpleNamespace(trace=0, seed=0, seconds=15, workload="sync_steady"), str(tmp_path))
    _fake_load(r, monkeypatch, iter([0.1, 2.0, 0.0, 1.5, 0.2, 0.3]))
    r.timed_ops(lambda op: r.timed(op, None, lambda tracer: None))
    assert r.n_ops == 3
    # ops 2 and 4 ran under load; ops 1, 3 and 5 are kept, op 6 is never made
    assert len(r.walls) == 5
    assert r.kept() == [0, 2, 4]


def test_refusals_stop_at_the_time_cap(tmp_path, monkeypatch):
    r = run.Run(SimpleNamespace(trace=0, seed=0, seconds=15, workload="sync_steady"), str(tmp_path))
    _fake_load(r, monkeypatch, iter([0.9, 0.5, 0.3, 0.7, 0.1]), wall=5.0)
    r.timed_ops(lambda op: r.timed(op, None, lambda tracer: None))
    assert len(r.walls) == 4  # 4 ops of 5 s pass 1.25 x 15 s
    assert r.kept() == [1, 2, 3]  # all loaded: the least loaded, in order


def test_units_come_from_the_benchmark_spec():
    assert run.UNITS["setup_s"] == "s"
    assert set(run.PER_LAYER) <= set(run.UNITS)
