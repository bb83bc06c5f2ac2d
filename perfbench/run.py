"""Benchmark of the package: a real sync tick and a basket of registered
queries, each a closed loop with one client on ``local[<cores>]``.

    python3 perfbench/run.py --workload sync_steady --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. Every
output is checked outside the timed region; a failed check makes the run
exit 1. Inputs are generated from ``--seed`` under ``.perfbench_work/`` and
removed at exit; the traced run keeps its span JSON there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import mimetypes  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from urllib.parse import unquote  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fixtures  # noqa: E402
from spans import Tracer, count_exchanges, self_times  # noqa: E402

CORES = len(os.sched_getaffinity(0))
SYNC_MAPPINGS = [64, 4]
MIN_OPS = 3  # a median needs a middle
# Wall of one warm op at this commit on 4 cores: 4-5 s for a tick and for a
# pass. A run makes --seconds / this many timed ops, a fixed count, so every
# run's median sits at the same point of the JVM's warm-up curve whatever
# the box's speed that minute.
OP_S = 5.0
# An op during which processes outside this tree, or the hypervisor's other
# guests (steal time), held more than this many cores on average is refused
# and made again, while the timed ops' walls stay within RETRY_SHARE times
# --seconds. Under lasting load ops run slower, so fewer are made again, and
# a run keeps to its time.
EXT_LIMIT = 0.2
RETRY_SHARE = 1.25
BASKET = (
    "q_sync_incremental q_dup_inflation q_sim_range q_pii_scrub q_tpch_waiting "
    "q_anomaly_mad q_join_left q_gaussian_nb q_pseudonymize q_join_card_est "
    "q_multimodal_phash q_corpus_dsir q_bloom_prune q_session_window_batch "
    "q_compaction_plan"
).split()

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    _SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}
PER_LAYER = [m["name"] for m in _SPEC["per_layer"]]


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
            kids.setdefault(int(raw[raw.rindex(")") + 2 :].split()[1]), []).append(int(entry))
        except (OSError, ValueError, IndexError):
            continue
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark (``VmHWM``) of every process in the tree."""
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_bytes(root: int) -> int:
    """Sum over the tree of each process's ``VmHWM``: its peak RSS since the
    last :func:`reset_peak_rss`, or since it started. Peaks of different
    processes need not coincide, so this bounds the tree's peak from above."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


class Run:
    """State shared by one workload run: session, timings, checks, tracer."""

    def __init__(self, args, work: str):
        import bench  # the repository's /proc timing helpers

        self.bench = bench
        self.args = args
        self.work = work
        self.excluded = 0.0  # fixture and oracle time inside the set-up window
        self.setup_s = 0.0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.ext: list[float] = []  # outside load per op, in cores
        self.traced: list[bool] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: list[dict[str, float]] = []
        self.spark = None
        self.tracer = None
        self.peak_rss = 0
        self.n_ops = max(MIN_OPS, round(args.seconds / OP_S))

    def cpu_stamp(self) -> tuple[float, float, float]:
        """(all-core busy CPU-s, this tree's CPU-s, wall clock), the layout of
        ``bench.cpu_stamp``, for ``bench.external_cores``. The tree's CPU is
        the busy time less steal and less the CPU of every live process
        outside the tree. ``bench.cpu_stamp`` reads the tree directly, which
        misses Python workers that exit: PySpark's worker daemon ignores
        SIGCHLD, so their CPU never reaches a parent's dead-child counters.
        The sync executor's workers exit every tick."""
        with open("/proc/stat", encoding="ascii") as f:
            steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
        busy = self.bench.proc_stat_busy_sec()
        outside = self.bench.proc_tree_cpu_sec(0) - self.bench.proc_tree_cpu_sec()
        return busy, busy - steal - outside, time.monotonic()

    def excluded_from_setup(self, fn, *a, **kw):
        """Call ``fn``; time spent in it before ``end_setup`` is not set-up."""
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self.excluded += time.perf_counter() - t

    def start_spark(self):
        from cloud_data_sync_spark.session import _DEFAULTS, get_spark

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout; Spark's
        # scratch space stays inside the work directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = local
        # a 1 GiB heap cap: the resident set then grows less with the
        # collector's expansion choices, and the shared box keeps its memory
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
        tempfile.tempdir = tmp
        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # the session's own JVM flags; temp files stay in the work dir
                "spark.driver.extraJavaOptions": " ".join(
                    (
                        _DEFAULTS.get("spark.driver.extraJavaOptions", ""),
                        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                    )
                ).strip(),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer = Tracer(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.excluded

    def timed(self, op: int, install, body):
        """Run one op; in a traced run every other op (starting with the
        first) runs with the wrappers installed, the rest without, so the
        run measures its own tracing overhead."""
        traced = self.tracer is not None and len(self.walls) % 2 == 0
        if traced:
            self.tracer.op = op
            self.tracer.counters.clear()
            install(self.tracer)
            root = self.tracer.begin("op")
        reset_peak_rss(os.getpid())
        s0, t0 = self.cpu_stamp(), time.perf_counter()
        try:
            out = body(self.tracer if traced else None)
        finally:
            wall = time.perf_counter() - t0
            s1 = self.cpu_stamp()
            if traced:
                self.tracer.end(root)
                self.tracer.uninstall()
        self.peak_rss = max(self.peak_rss, peak_rss_bytes(os.getpid()))
        self.walls.append(wall)
        self.cpus.append(s1[1] - s0[1])
        self.ext.append(self.bench.external_cores(s0, s1))
        self.traced.append(traced)
        if traced:
            self.tracer.collect_stages(op)
        return out

    def timed_ops(self, one_op) -> None:
        """Call ``one_op(op)`` for op = 1, 2, ... until ``n_ops`` ops ran
        without outside load, or, past ``n_ops`` ops, their walls add up to
        ``RETRY_SHARE`` times ``--seconds``. First wait, up to 10 s, for the
        box to be idle outside this tree."""
        self.bench.wait_for_external_idle(EXT_LIMIT, 10.0, 1.0, stamp_fn=self.cpu_stamp)
        op = 0
        while sum(e <= EXT_LIMIT for e in self.ext) < self.n_ops:
            if len(self.walls) >= self.n_ops and sum(self.walls) >= RETRY_SHARE * self.args.seconds:
                break
            op += 1
            one_op(op)
        refused = sum(e > EXT_LIMIT for e in self.ext)
        if refused:
            print(f"perfbench: {refused} op(s) ran under outside load", file=sys.stderr)

    def kept(self) -> list[int]:
        """Indexes of the ``n_ops`` ops with the least outside load, in order."""
        return sorted(sorted(range(len(self.ext)), key=self.ext.__getitem__)[: self.n_ops])

    def op_spans(self, op: int):
        pairs = [
            (s, st) for s, st in zip(self.tracer.spans, self_times(self.tracer.spans)) if s.op == op
        ]
        return [s for s, _ in pairs], [st for _, st in pairs]

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def result(self) -> dict:
        untraced = [w for w, t in zip(self.walls, self.traced) if not t]
        traced = [w for w, t in zip(self.walls, self.traced) if t]
        if self.args.trace:
            metrics = {}
            for name in PER_LAYER:
                vals = [layer[name] for layer in self.layers if name in layer]
                metrics[name] = statistics.median(vals) if vals else 0.0
            if traced and untraced:
                metrics["trace.overhead"] = statistics.median(traced) / statistics.median(untraced)
            metrics["peak_rss_mib"] = self.peak_rss / 2**20
        else:
            kept = self.kept()
            metrics = {
                "setup_s": self.setup_s,
                "op_p50_s": statistics.median(self.walls[i] for i in kept),
                "cpu_s_per_op": statistics.median(self.cpus[i] for i in kept),
            }
        return {
            "correct": not self.problems and self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }


def _dur(span) -> float:
    return span.end - span.start


def _stage(key: str):
    return lambda span: span.metrics.get(key, 0)


def _total(spans, names: set[str], key=_dur) -> float:
    return sum(key(s) for s in spans if s.name in names)


# --------------------------------------------------------------------------
# sync workloads
# --------------------------------------------------------------------------


def _walk_sizes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            out[os.path.relpath(path, root)] = os.path.getsize(path)
    return out


def _object_diff(src: str, tgt: str) -> str | None:
    """How a copied object differs from its source, or None. The executor
    carries ``user.*`` xattrs over and, for a source without a content type,
    sets the one guessed from the object's extension."""
    with open(src, "rb") as fa, open(tgt, "rb") as fb:
        if fa.read() != fb.read():
            return "content"
    want = {n: os.getxattr(src, n) for n in os.listxattr(src) if n.startswith("user.")}
    guessed = mimetypes.guess_type(src)[0]
    if fixtures.CONTENT_TYPE_XATTR not in want and guessed:
        want[fixtures.CONTENT_TYPE_XATTR] = guessed.encode()
    got = {n: os.getxattr(tgt, n) for n in os.listxattr(tgt) if n.startswith("user.")}
    return None if got == want else f"xattrs {got} != {want}"


def _state_rows(state_dir: str) -> dict[str, list[tuple[str, str]]]:
    """mapping_id -> [(object_name, sync_status)] read straight from parquet."""
    import pyarrow.parquet as pq

    out: dict[str, list[tuple[str, str]]] = {}
    if not os.path.isdir(state_dir):
        return out
    for part in os.listdir(state_dir):
        if not part.startswith("mapping_id="):
            continue
        rows = out.setdefault(unquote(part[len("mapping_id=") :]), [])
        pdir = os.path.join(state_dir, part)
        for fn in os.listdir(pdir):
            if fn.endswith(".parquet"):
                t = pq.read_table(os.path.join(pdir, fn), columns=["object_name", "sync_status"])
                rows.extend(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    return out


def check_sync(run: Run, cfg, reports, buckets, drifts, src: str, tgt: str, state: str) -> None:
    for m, rep, b, d in zip(cfg.mappings, reports, buckets, drifts):
        mid = m.mapping_id
        run.check(rep.counts == d.counts(), f"{mid}: report {rep.counts} != expected {d.counts()}")
        src_sizes = _walk_sizes(os.path.join(src, b.name))
        tgt_sizes = _walk_sizes(os.path.join(tgt, b.name))
        run.check(src_sizes == b.sizes, f"{mid}: fixture bookkeeping drifted from the source tree")
        run.check(tgt_sizes == src_sizes, f"{mid}: target tree differs from source by name or size")
        diffs = [
            (n, why)
            for n in d.copy
            if (why := _object_diff(os.path.join(src, b.name, n), os.path.join(tgt, b.name, n)))
        ]
        run.check(not diffs, f"{mid}: copied objects differ from their source: {diffs[:2]}")
    rows = _state_rows(state)
    for m, b in zip(cfg.mappings, buckets):
        got = rows.get(m.mapping_id, [])
        names = [n for n, _ in got]
        run.check(
            sorted(names) == sorted(b.sizes) and all(s == "success" for _, s in got),
            f"{m.mapping_id}: state is not one success row per source object",
        )


def install_sync(tracer: Tracer) -> None:
    from cloud_data_sync_spark import runner, state
    from cloud_data_sync_spark.sources import listing

    tags: dict[int, str] = {}

    def tag(layer):
        def on_result(span, args, df):
            tags[id(df)] = layer

        return on_result

    def on_diff(span, args, df):
        if span.name == "diff":
            span.attrs["exchanges"] = count_exchanges(args[0])

    tracer.count_py4j()
    tracer.wrap(runner, "sync_buckets", "runner.mapping")
    tracer.wrap(runner, "list_objects", "listing")
    tracer.count_calls(listing, "object_meta_local", "listing.objects")
    tracer.wrap(state, "load_state", "state.load")
    tracer.wrap(runner, "sync_diff", "diff.build", tag("diff"))
    tracer.wrap(runner, "execute_plan", "executor.build", tag("executor"))
    tracer.wrap(state, "upsert", "state.merge.build")
    tracer.wrap(state, "delete_keys", "state.merge.build", tag("state.merge"))
    tracer.wrap(state, "save_state", "state.save")
    tracer.wrap(state, "clear_mapping_partition", "state.save")
    tracer.wrap(runner, "materialize", lambda df, **kw: tags.pop(id(df), "materialize"), on_diff)


def sync_layers(run: Run, op: int, reports, buckets, drifts, state_dir: str) -> dict[str, float]:
    spans, selfs = run.op_spans(op)
    objects = run.tracer.counters["listing.objects"]
    listing_s = _total(spans, {"listing"})
    runner_spans = {"op", "runner.mapping"}
    return {
        "listing.s": listing_s,
        "listing.objects": objects,
        "listing.py4j_calls": _total(spans, {"listing"}, lambda s: s.py4j),
        "listing.us_per_object": listing_s / max(objects, 1) * 1e6,
        "runner.self_s": sum(st for s, st in zip(spans, selfs) if s.name in runner_spans),
        "runner.spark_jobs": _total(spans, runner_spans, lambda s: s.jobs),
        "runner.py4j_calls": _total(spans, runner_spans, lambda s: s.py4j),
        "diff.s": _total(spans, {"diff.build", "diff"}),
        "diff.exchanges": _total(spans, {"diff"}, lambda s: s.attrs.get("exchanges", 0)),
        "diff.shuffle_bytes": _total(spans, {"diff"}, _stage("shuffle_write_bytes")),
        "diff.task_cpu_s": _total(spans, {"diff"}, _stage("task_cpu_ns")) / 1e9,
        "executor.s": _total(spans, {"executor.build", "executor"}),
        "executor.objects": sum(len(d.copy) + len(d.delete) for d in drifts),
        "executor.bytes": sum(b.sizes[n] for b, d in zip(buckets, drifts) for n in d.copy),
        "executor.tasks": _total(spans, {"executor"}, _stage("tasks")),
        "executor.task_cpu_s": _total(spans, {"executor"}, _stage("task_cpu_ns")) / 1e9,
        "state.load_s": _total(spans, {"state.load"}),
        "state.merge_s": _total(spans, {"state.merge.build", "state.merge"}),
        "state.save_s": _total(spans, {"state.save"}),
        "state.bytes_written": _total(spans, {"state.save"}, _stage("output_bytes")),
        "state.files": sum(
            fn.endswith(".parquet") for _, _, files in os.walk(state_dir) for fn in files
        ),
        "trace.unattributed_share": selfs[0] / _dur(spans[0]),
    }


def run_sync(run: Run) -> None:
    from cloud_data_sync_spark import runner
    from cloud_data_sync_spark.config import BucketMapping, Config

    seed, work = run.args.seed, run.work
    src, tgt = os.path.join(work, "src"), os.path.join(work, "tgt")
    state = os.path.join(work, "state")
    buckets = run.excluded_from_setup(fixtures.build_buckets, src, SYNC_MAPPINGS, seed)
    spark = run.start_spark()
    cfg = Config(
        providers=[
            {"id": "src", "type": "minio", "minioConfig": {"endpoint": f"file://{src}"}},
            {"id": "tgt", "type": "minio", "minioConfig": {"endpoint": f"file://{tgt}"}},
        ],
        mappings=[BucketMapping("src", b.name, "tgt", b.name) for b in buckets],
    )
    state_uri = f"file://{state}"

    def tick(n: int, timed: bool) -> None:
        drifts = run.excluded_from_setup(fixtures.apply_drift, src, buckets, seed, n)
        sync = lambda _tracer=None: runner.sync_all(spark, cfg, state_uri)  # noqa: E731
        reports = run.timed(n, install_sync, sync) if timed else sync()
        # one attempt per mapping and per object the drift sends to the executor
        run.attempted += len(reports) + sum(len(d.copy) + len(d.delete) for d in drifts)
        run.failed += sum(v for r in reports for k, v in r.counts.items() if k.endswith("_failed"))
        run.excluded_from_setup(check_sync, run, cfg, reports, buckets, drifts, src, tgt, state)
        if timed and run.traced[-1]:
            run.layers.append(sync_layers(run, n, reports, buckets, drifts, state))

    # set-up: the initial sync, then two warm ticks; after one, the next
    # tick still ran about 20% slower than the ones after it
    reports = runner.sync_all(spark, cfg, state_uri)
    initial = [fixtures.Drift(copy=sorted(b.sizes), delete=[], skip=0) for b in buckets]
    run.excluded_from_setup(check_sync, run, cfg, reports, buckets, initial, src, tgt, state)
    tick(0, timed=False)
    tick(1, timed=False)
    run.end_setup()
    run.timed_ops(lambda op: tick(op + 1, timed=True))


# --------------------------------------------------------------------------
# query workload
# --------------------------------------------------------------------------


def module_of(spec) -> str:
    mod = spec.fn.__wrapped__.__module__.removeprefix("cloud_data_sync_spark.")
    return "streaming" if mod.startswith("streaming.") else mod


def install_query(tracer: Tracer) -> None:
    from cloud_data_sync_spark import tables

    tracer.count_py4j()
    tracer.count_calls(tables, "materialize", "tables.materialize_calls")


def query_layers(run: Run, op: int) -> dict[str, float]:
    spans, selfs = run.op_spans(op)
    exec_s = _total(spans, {"query.exec"})
    task_run_s = _total(spans, {"query.exec"}, _stage("task_run_ms")) / 1e3
    out = {
        "query.build_s": _total(spans, {"query.build"}),
        "query.build_py4j_calls": _total(spans, {"query.build"}, lambda s: s.py4j),
        "query.exec_s": exec_s,
        "query.spark_jobs": _total(spans, {"query.exec"}, lambda s: s.jobs),
        "query.stages": _total(spans, {"query.exec"}, lambda s: s.stages),
        "query.tasks": _total(spans, {"query.exec"}, _stage("tasks")),
        "query.slot_busy_share": task_run_s / (exec_s * CORES),
        "tables.materialize_calls": run.tracer.counters["tables.materialize_calls"],
        "query.task_run_s": task_run_s,
        "query.task_cpu_s": _total(spans, {"query.exec"}, _stage("task_cpu_ns")) / 1e9,
        "query.gc_s": _total(spans, {"query.exec"}, _stage("gc_ms")) / 1e3,
        "query.shuffle_bytes": _total(spans, {"query.exec"}, _stage("shuffle_write_bytes")),
        "query.spill_bytes": _total(spans, {"query.exec"}, _stage("spill_mem_bytes"))
        + _total(spans, {"query.exec"}, _stage("spill_disk_bytes")),
        "trace.unattributed_share": selfs[0] / _dur(spans[0]),
    }
    for s in spans:
        if s.name == "query.key":
            key = f"{s.attrs['module']}.s"
            out[key] = out.get(key, 0.0) + _dur(s)
    return out


def check_oracles(run: Run, sf_dir: str, results: dict) -> None:
    """Compare each key's Spark rows with its DuckDB oracle, by the row
    count, column set and value hash the oracle gate uses."""
    import duckdb

    co = _load_tool("check_oracle")
    from cloud_data_sync_spark.registry import all_queries
    from cloud_data_sync_spark.tables import TABLE_NAMES, table_path

    specs = all_queries()
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for key, (cols, rows) in results.items():
            rel = con.execute(specs[key].oracle)
            ocols = [d[0] for d in rel.description]
            sc, slines = co.canon_rows(cols, rows)
            oc, olines = co.canon_rows(ocols, rel.fetchall())
            run.check(
                sc == oc and len(slines) == len(olines) and co.value_hash(slines) == co.value_hash(olines),
                f"{key}: result differs from its DuckDB oracle",
            )
    finally:
        con.close()


def run_query(run: Run) -> None:
    from cloud_data_sync_spark.registry import all_queries
    from cloud_data_sync_spark.tables import load_tables

    sf_dir = os.path.join(run.work, "tables")
    run.excluded_from_setup(fixtures.write_tables, sf_dir, run.args.seed)
    spark = run.start_spark()
    specs = all_queries()
    for df in load_tables(spark, sf_dir, register_views=False).values():
        df.count()
    # warm pass: builds every substrate and prepared plan; its rows are the
    # ones checked against the oracles
    results = {}
    for key in BASKET:
        df = specs[key].fn(spark, sf_dir)
        results[key] = (list(df.columns), [tuple(r) for r in df.collect()])
    run.excluded_from_setup(check_oracles, run, sf_dir, results)

    def one_pass(tracer: Tracer | None) -> int:
        failed = 0
        for key in BASKET:
            if tracer:
                k = tracer.begin("query.key", group=False)
                tracer.spans[k].attrs["module"] = module_of(specs[key])
                tracer.begin("query.build", group=False)
            try:
                df = specs[key].fn(spark, sf_dir)
                if tracer:
                    tracer.end(tracer.stack[-1])
                    tracer.begin("query.exec")
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a raising key is a failed op
                print(f"perfbench: {key} failed: {exc}", file=sys.stderr)
                failed += 1
            finally:
                while tracer and tracer.stack and tracer.stack[-1] >= k:
                    tracer.end(tracer.stack[-1])
        return failed

    def timed_pass(op: int) -> None:
        run.failed += run.timed(op, install_query, one_pass)
        run.attempted += len(BASKET)
        if run.traced[-1]:
            run.layers.append(query_layers(run, op))

    # set-up's second and third warm passes, through the noop sink
    for _ in range(2):
        run.failed += one_pass(None)
        run.attempted += len(BASKET)
    run.end_setup()
    run.timed_ops(timed_pass)


WORKLOADS = {"sync_steady": run_sync, "query_basket": run_query}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import bench  # noqa: F401
        import cloud_data_sync_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work)
    try:
        WORKLOADS[args.workload](run)
        if run.tracer is not None:
            path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            run.tracer.dump(path)
            print(f"perfbench: spans written to {path}", file=sys.stderr)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    result = run.result()
    print(f"perfbench: op walls {[round(w, 3) for w in run.walls]}", file=sys.stderr)
    print(f"perfbench: op cpu {[round(c, 2) for c in run.cpus]}", file=sys.stderr)
    print(f"perfbench: outside load, cores {[round(e, 2) for e in run.ext]}", file=sys.stderr)
    for problem in run.problems:
        print(f"perfbench: CHECK FAILED {problem}", file=sys.stderr)
    op_name = "tick_p50_s" if args.workload.startswith("sync") else "pass_p50_s"
    print(f"workload {args.workload} seed {args.seed}: {len(run.walls)} timed ops on local[{CORES}]")
    if not args.trace:
        m, n = result["metrics"], len(run.kept())
        print(f"setup_s {m['setup_s']['value']:.3f} s")
        print(f"{op_name} {m['op_p50_s']['value']:.3f} s (median of {n})")
        print(f"cpu_s_per_op {m['cpu_s_per_op']['value']:.3f} s (median of {n})")
    print(f"peak_rss_mib {run.peak_rss / 2**20:.1f} MiB")
    print(f"failed_ratio {run.failed / max(run.attempted, 1):.4f} ({run.failed}/{run.attempted})")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
