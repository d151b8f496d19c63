"""Traced-run instrumentation: wrappers, job counts, plan walker, rollup.

Only ``run.py --trace 1`` builds a :class:`Tracer`; the untraced run uses
:class:`NullTracer`, whose hooks do nothing, so the end-to-end numbers
carry no tracing cost. Nothing in the package is edited: the tracer

- wraps the package's functions by patching module attributes (every
  ``smart_geocubes_spark`` module that imported the function by name gets
  the wrapper too) and ``SparkSession.createDataFrame``;
- gives each operation, and each ``materialize`` call inside it, its own
  Spark job group and reads jobs, stages and tasks from
  ``statusTracker()``. Jobs submitted from worker threads carry no group
  (``materialize`` writes its dtype groups from a thread pool), so the
  jobs without a group that appeared during the span are added;
- registers a ``QueryExecutionListener`` (a Py4J callback) that keeps
  every executed ``QueryExecution``, and walks its final AQE plan
  (``executedPlan`` -> ``AdaptiveSparkPlanExec.finalPhysicalPlan``, into
  each ``QueryStageExec.plan()``) to sum the per-operator SQL metrics.

:func:`layer_report` turns the sums into the per-layer metrics named in
``BENCHMARK.json``; README.md maps each to the end-to-end metric it
should move.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# Spark's metric types: "timing" = ms, "nsTiming" = ns, "size" = bytes,
# "sum" = count. The Python hop reports per task, with the worker's clock:
# pythonBootTime = worker ready - task start, pythonInitTime = UDF loaded -
# worker ready, pythonTotalTime = worker done - task start. Their
# difference is the time the worker spent on the rows.
_PY_METRICS = {
    "pythonDataSent": "py_sent",
    "pythonDataReceived": "py_recv",
    "pythonNumRowsReceived": "py_rows",
}


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().value())
    return out


def walk_plan(plan, acc: dict[str, float]) -> None:
    """Add the SQL metrics of every operator under ``plan`` to ``acc``.

    Descends through adaptive plans (final physical plan) and query
    stages; a reused exchange is skipped because its metrics belong to
    the exchange it reuses, which the walk reaches on its own."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        _rollup_node(node.nodeName(), _metrics(node), acc)
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _rollup_node(name: str, m: dict[str, float], acc: dict[str, float]) -> None:
    if "pythonTotalTime" in m:
        acc["py_nodes"] += 1
        init = m.get("pythonBootTime", 0.0) + m.get("pythonInitTime", 0.0)
        acc["py_init_ms"] += init
        acc["py_compute_ms"] += max(0.0, m["pythonTotalTime"] - init)
        acc["py_total_ms"] += m["pythonTotalTime"]
        for k, key in _PY_METRICS.items():
            acc[key] += m.get(k, 0.0)
    elif "shuffleBytesWritten" in m:
        acc["shuffle_bytes"] += m["shuffleBytesWritten"]
        acc["shuffle_write_ms"] += m.get("shuffleWriteTime", 0.0) / 1e6
    elif name == "BroadcastExchange":
        acc["bcast_bytes"] += m.get("dataSize", 0.0)
        acc["bcast_collect_ms"] += m.get("collectTime", 0.0)
        acc["bcast_build_ms"] += m.get("buildTime", 0.0)
    elif "peakMemory" in m and "aggTime" in m:
        acc["agg_peak_bytes"] = max(acc["agg_peak_bytes"], m["peakMemory"])
        acc["agg_ms"] += m["aggTime"]
    elif name.startswith("Scan"):
        acc["scan_ms"] += m.get("scanTime", 0.0)
        acc["scan_files"] += m.get("numFiles", 0.0)
        acc["scan_bytes"] += m.get("filesSize", 0.0)
        acc["scan_rows"] += m.get("numOutputRows", 0.0)
    elif "numOutputBytes" in m:  # file write command
        acc["write_files"] += m.get("numFiles", 0.0)
        acc["write_bytes"] += m["numOutputBytes"]


def attributed_s(acc: dict[str, float], cpus: int) -> float:
    """Wall-time estimate of the operator time the walk attributed:
    task-side times (Python hop, shuffle write, aggregation, scan) run
    on ``cpus`` slots at once, broadcast collect and build run on the
    driver."""
    task_ms = acc["py_total_ms"] + acc["shuffle_write_ms"] + acc["agg_ms"] + acc["scan_ms"]
    return task_ms / 1000.0 / cpus + (acc["bcast_collect_ms"] + acc["bcast_build_ms"]) / 1000.0


class NullTracer:
    """The untraced run's tracer: every hook is free."""

    enabled = False

    def start(self) -> None:
        pass

    def stop(self) -> None:
        pass

    @contextmanager
    def op(self, kind: str):
        yield None

    @contextmanager
    def span(self, label: str):
        yield

    @contextmanager
    def paused(self):
        yield

    def note(self, key: str, value: float) -> None:
        pass


class _QueryListener:
    """Py4J implementation of ``QueryExecutionListener``: keeps every
    successful or failed query execution for the next drain."""

    def __init__(self, sink: list):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._sink.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._sink.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Per-run trace state. ``op(kind)`` wraps one operation of the
    workload's closed loop; ``span(label)`` marks a sub-step whose query
    executions are attributed to ``label`` (e.g. ``load.exec``)."""

    enabled = True

    def __init__(self, spark, cpus: int):
        self.spark = spark
        self.cpus = cpus
        self.sums: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0
        self._qes: list = []
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None
        self._op_acc: dict[str, float] | None = None
        self._op_groups: list[str] = []
        self._in_materialize = False
        self._mat_plan_s = 0.0
        self._op_kind = ""
        self._listing_depth = 0
        self._seq = 0

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql import SparkSession

        import smart_geocubes_spark.plans.materialize as mat
        import smart_geocubes_spark.sources.synth as synth

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self._listener = _QueryListener(self._qes)
        self.spark._jsparkSession.listenerManager().register(self._listener)

        for name in ("candidate_chunks", "read_lineage", "plan_missing"):
            self._patch_everywhere(getattr(mat, name), self._plan_wrapper)
        for name in ("_lineage_batches", "_block_batches", "snapshots"):
            self._patch_everywhere(getattr(mat, name), self._listing_wrapper)
        self._patch_everywhere(mat.materialize, self._materialize_wrapper)
        self._patch_everywhere(mat.load, self._timed_wrapper("load.build_s", drain="load.build"))
        self._patch_everywhere(synth.ensure_base_views, self._timed_wrapper("synth.views_s"))
        orig = SparkSession.createDataFrame
        self._patches.append((SparkSession, "createDataFrame", orig))
        SparkSession.createDataFrame = self._timed_wrapper(
            "driver.create_frame_s", count="driver.create_frame_calls"
        )(orig)

    def stop(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _patch_everywhere(self, orig, make_wrapper) -> None:
        wrapper = make_wrapper(orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("smart_geocubes_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    # -- wrappers ----------------------------------------------------------
    def _timed_wrapper(self, key: str, count: str | None = None, drain: str | None = None):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.sums[key] += time.perf_counter() - t0
                    self.calls[count or key] += 1
                    if drain:
                        self._drain(drain)

            return wrapper

        return make

    def _plan_wrapper(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                if self._in_materialize:
                    self._mat_plan_s += time.perf_counter() - t0

        return wrapper

    def _listing_wrapper(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            self._listing_depth += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._listing_depth -= 1
                if self._listing_depth == 0:
                    self.sums["store.listing_s"] += time.perf_counter() - t0

        return wrapper

    def _materialize_wrapper(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t_setup = time.perf_counter()
            group = self._new_group("mat")
            self._drain("op")
            ungrouped = self._ungrouped()
            self._in_materialize, self._mat_plan_s = True, 0.0
            self.overhead_s += time.perf_counter() - t_setup
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                wall = time.perf_counter() - t0
                self._in_materialize = False
                self._restore_group()
            t1 = time.perf_counter()
            acc = self._drain("materialize")
            jobs, _, tasks, _ = self._job_counts([group], ungrouped)
            self.calls["materialize"] += 1
            self.sums["materialize.jobs"] += jobs
            self.sums["materialize.tasks"] += tasks
            self.sums["materialize.plan_s"] += self._mat_plan_s
            self.sums["store.files_written"] += acc["write_files"]
            if out.get("written", 0):
                self.calls["materialize.fill"] += 1
                self.sums["materialize.chunks_written"] += out["written"]
                self.sums["materialize.write_commit_s"] += wall - self._mat_plan_s
            else:
                self.samples["materialize.cached_check_s"].append(wall)
            if self._op_kind in ("hit", "miss"):
                self.sums["accessor.fill_s"] += wall
            self.overhead_s += time.perf_counter() - t1
            return out

        return wrapper

    # -- spans -------------------------------------------------------------
    def _new_group(self, prefix: str) -> str:
        self._seq += 1
        group = f"perfbench-{prefix}-{self._seq}"
        self.spark.sparkContext.setJobGroup(group, group)
        self._op_groups.append(group)
        return group

    def _restore_group(self) -> None:
        self.spark.sparkContext.setJobGroup(self._op_groups[0], self._op_groups[0])

    def _ungrouped(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def _job_counts(self, groups: list[str], ungrouped_before: set[int]):
        tracker = self.spark.sparkContext.statusTracker()
        ids = set(self._ungrouped()) - ungrouped_before
        for g in groups:
            ids.update(tracker.getJobIdsForGroup(g))
        stages = tasks = failed = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                si = tracker.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return len(ids), stages, tasks, failed

    def _drain(self, label: str) -> dict[str, float]:
        """Wait for the listener bus, walk every query executed since the
        last drain and attribute it to ``label`` and the current op."""
        t0 = time.perf_counter()
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        qes, self._qes[:] = list(self._qes), []
        acc: dict[str, float] = defaultdict(float)
        for qe in qes:
            walk_plan(qe.executedPlan(), acc)
        for k, v in acc.items():
            self.sums[f"{label}:{k}"] += v
            if self._op_acc is not None:
                if k == "agg_peak_bytes":
                    self._op_acc[k] = max(self._op_acc[k], v)
                else:
                    self._op_acc[k] += v
        self.overhead_s += time.perf_counter() - t0
        return acc

    @contextmanager
    def op(self, kind: str):
        """One operation of the closed loop. Yields the op's metric
        accumulator (filled when the op ends)."""
        t_setup = time.perf_counter()
        self._op_groups = []
        group = self._new_group("op")
        self._drain("pre")
        ungrouped = self._ungrouped()
        acc: dict[str, float] = defaultdict(float)
        self._op_acc = acc
        self._op_kind = kind
        self.overhead_s += time.perf_counter() - t_setup
        t0 = time.perf_counter()
        try:
            yield acc
        finally:
            wall = time.perf_counter() - t0
            t1 = time.perf_counter()
            self._drain("op")
            _, stages, tasks, failed = self._job_counts(self._op_groups, ungrouped)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._op_acc = None
            self.calls["op"] += 1
            self.sums["op.wall_s"] += wall
            self.sums[f"op.wall_s:{kind}"] += wall
            self.sums["jvm.stages"] += stages
            self.sums["jvm.tasks"] += tasks
            self.sums["jvm.tasks_failed"] += failed
            for k, v in acc.items():
                if k == "agg_peak_bytes":
                    self.sums[k] = max(self.sums[k], v)
                else:
                    self.sums[k] += v
            att = attributed_s(acc, self.cpus)
            self.sums["attributed_s"] += att
            self.sums["jvm.unattributed_s"] += max(0.0, wall - att)
            if acc["py_nodes"]:
                self.calls["op.python"] += 1
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def span(self, label: str):
        """A sub-step of the current op: its wall time is summed under
        ``<label>_s`` and its query executions are walked under
        ``label``. A ``driver.build`` span also counts the jobs its
        driver-side code launched eagerly."""
        t_setup = time.perf_counter()
        self._drain("op")
        ungrouped = self._ungrouped()
        group = self._new_group("span")
        self.overhead_s += time.perf_counter() - t_setup
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.sums[f"{label}_s"] += time.perf_counter() - t0
            self.calls[label] += 1
            t1 = time.perf_counter()
            self._restore_group()
            self._drain(label)
            if label == "driver.build":
                self.sums["driver.eager_jobs"] += self._job_counts([group], ungrouped)[0]
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def paused(self):
        """Untraced stretch inside the loop (a warm-up step): wrappers
        and listener are removed, and its query executions are dropped."""
        self.stop()
        try:
            yield
        finally:
            self.start()
            self._drain("paused")

    def note(self, key: str, value: float) -> None:
        self.samples[key].append(float(value))


def _per(num: float, den: float) -> float:
    return num / den if den else 0.0


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def kernel_rates(seed: int) -> dict[str, float]:
    """In-process kernel costs with no Spark in the way: Morton cell
    encode and point-in-polygon per point, frozen HTML text extraction
    per page (best of three over seeded inputs)."""
    from smart_geocubes_spark.geo.cells import cell_encode
    from smart_geocubes_spark.geo.pip import points_in_polygon
    from smart_geocubes_spark.text.extract import extract_text

    rng = np.random.default_rng(seed)
    n = 200_000
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(60.0, 84.0, n)
    vx = np.array([0.0, 2.0, 0.0, -2.0])
    vy = np.array([73.6, 72.0, 70.4, 72.0])
    pages = [
        (
            f"<html><head><title>page {i}</title></head><body><p>geo "
            f"{int(la * 1e5)},{int(lo * 1e5)}</p><p>lorem ipsum dolor {i}</p></body></html>"
        ).encode()
        for i, la, lo in zip(range(2000), lat, lon)
    ]

    def best(fn) -> float:
        out = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return min(out)

    return {
        "geo.cell_encode_ns_per_pt": best(lambda: cell_encode(lon, lat, 12)) / n * 1e9,
        "geo.pip_ns_per_pt": best(lambda: points_in_polygon(lon, lat, vx, vy)) / n * 1e9,
        "text.extract_us_per_page": best(lambda: [extract_text(h) for h in pages])
        / len(pages) * 1e6,
    }


#: per-layer metric -> unit; the order and names match BENCHMARK.json
LAYER_UNITS = {
    "materialize.jobs": "count",
    "materialize.tasks": "count",
    "materialize.chunks_written": "count",
    "materialize.write_commit_s": "s",
    "materialize.plan_s": "s",
    "materialize.cached_check_s": "s",
    "store.block_bytes": "B",
    "store.lineage_bytes": "B",
    "store.bytes_per_chunk": "B",
    "store.files_written": "count",
    "store.committed_batches": "count",
    "store.listing_s": "s",
    "load.build_s": "s",
    "load.exec_s": "s",
    "load.scan_files": "count",
    "load.scan_bytes": "B",
    "load.prune_ratio": "ratio",
    "accessor.fill_share": "ratio",
    "accessor.hit_tail_s": "s",
    "accessor.hit_samples": "count",
    "accessor.miss_s": "s",
    "driver.build_s": "s",
    "driver.exec_s": "s",
    "driver.eager_jobs": "count",
    "driver.create_frame_s": "s",
    "driver.create_frame_calls": "count",
    "synth.views_s": "s",
    "pyhop.init_ms": "ms",
    "pyhop.compute_ms": "ms",
    "pyhop.bytes_sent": "B",
    "pyhop.bytes_received": "B",
    "pyhop.rows": "count",
    "pyhop.capture": "ratio",
    "jvm.shuffle_bytes": "B",
    "jvm.shuffle_write_ms": "ms",
    "jvm.broadcast_bytes": "B",
    "jvm.broadcast_collect_ms": "ms",
    "jvm.broadcast_build_ms": "ms",
    "jvm.agg_peak_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "jvm.agg_ms": "ms",
    "jvm.scan_ms": "ms",
    "jvm.stages": "count",
    "jvm.tasks": "count",
    "jvm.tasks_failed": "count",
    "jvm.unattributed_s": "s",
    "exec.attributed_share": "ratio",
    "op.samples": "count",
    "op.tail_s": "s",
    "op.tail_pct": "%",
    "geo.cell_encode_ns_per_pt": "ns",
    "geo.pip_ns_per_pt": "ns",
    "text.extract_us_per_page": "us",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def layer_report(tr: Tracer, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced run. ``extra`` carries what the
    workload measured itself (store sizes, capture, tails, kernels).
    Per-call and per-op values are means over the run; a layer the
    workload never reaches reports 0."""
    s, c = tr.sums, tr.calls
    ops = c["op"]
    n_mat, n_fill = c["materialize"], c["materialize.fill"]
    loads = c["load.exec"]
    out = {
        "materialize.jobs": _per(s["materialize.jobs"], n_mat),
        "materialize.tasks": _per(s["materialize.tasks"], n_mat),
        "materialize.chunks_written": s["materialize.chunks_written"],
        "materialize.write_commit_s": _per(s["materialize.write_commit_s"], n_fill),
        "materialize.plan_s": _per(s["materialize.plan_s"], n_mat),
        "materialize.cached_check_s": _med(tr.samples["materialize.cached_check_s"]),
        "store.files_written": s["store.files_written"],
        "store.listing_s": _per(s["store.listing_s"], ops),
        "load.build_s": _per(s["load.build_s"], c["load.build_s"]),
        "load.exec_s": _per(s["load.exec_s"], loads),
        "load.scan_files": _per(s["load.exec:scan_files"], loads),
        "load.scan_bytes": _per(s["load.exec:scan_bytes"], loads),
        "load.prune_ratio": _per(
            sum(tr.samples["load.rows_returned"]), s["load.exec:scan_rows"]
        ),
        "accessor.fill_share": _per(
            s["accessor.fill_s"], s["op.wall_s:hit"] + s["op.wall_s:miss"]
        ),
        "driver.build_s": _per(s["driver.build_s"], c["driver.build"]),
        "driver.exec_s": _per(s["driver.exec_s"], c["driver.exec"]),
        "driver.eager_jobs": _per(s["driver.eager_jobs"], c["driver.build"]),
        "driver.create_frame_s": _per(s["driver.create_frame_s"], ops),
        "driver.create_frame_calls": _per(c["driver.create_frame_calls"], ops),
        "synth.views_s": _per(s["synth.views_s"], ops),
        "pyhop.init_ms": _per(s["py_init_ms"], c["op.python"]),
        "pyhop.compute_ms": _per(s["py_compute_ms"], c["op.python"]),
        "pyhop.bytes_sent": _per(s["py_sent"], c["op.python"]),
        "pyhop.bytes_received": _per(s["py_recv"], c["op.python"]),
        "pyhop.rows": _per(s["py_rows"], c["op.python"]),
        "jvm.shuffle_bytes": _per(s["shuffle_bytes"], ops),
        "jvm.shuffle_write_ms": _per(s["shuffle_write_ms"], ops),
        "jvm.broadcast_bytes": _per(s["bcast_bytes"], ops),
        "jvm.broadcast_collect_ms": _per(s["bcast_collect_ms"], ops),
        "jvm.broadcast_build_ms": _per(s["bcast_build_ms"], ops),
        "jvm.agg_peak_mb": s["agg_peak_bytes"] / 2**20,
        "jvm.agg_ms": _per(s["agg_ms"], ops),
        "jvm.scan_ms": _per(s["scan_ms"], ops),
        "jvm.stages": _per(s["jvm.stages"], ops),
        "jvm.tasks": _per(s["jvm.tasks"], ops),
        "jvm.tasks_failed": s["jvm.tasks_failed"],
        "jvm.unattributed_s": _per(s["jvm.unattributed_s"], ops),
        "exec.attributed_share": _per(s["attributed_s"], s["op.wall_s"]),
        "trace.overhead_s": tr.overhead_s,
        "trace.overhead_share": _per(tr.overhead_s, s["op.wall_s"]),
    }
    out.update(extra)
    return {k: float(out.get(k, 0.0)) for k in LAYER_UNITS}
