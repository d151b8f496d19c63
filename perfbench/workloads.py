"""The benchmark's workloads.

Each workload runs in a fresh driver process as a closed loop with one
client thread: the next operation starts when the previous one returned.
Inputs come only from the seed. A workload has three phases:

``prepare``  set-up (timed into ``setup_s``, repeated by the harness):
             seeded fixtures and the workload's empty state;
``loop``     the measured closed loop, ``seconds`` long (an operation that
             is running when the time is up finishes and counts);
``check``    output checks, outside every timed region. Each failed check
             marks its operation failed.

The end-to-end metrics every workload reports (README.md says what each
means per workload) are ``op_p50_s`` and ``work_per_s``; the harness adds
``setup_s``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from smart_geocubes_spark.plans.materialize import chunk_value_base
from smart_geocubes_spark.sources.synth import GRID

from perfbench.fixtures import write_tables


@dataclass
class Ctx:
    spark: object
    cpus: int
    seed: int
    work_dir: str
    tiny: bool
    wrong_expected: bool
    tracer: object = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples no percentile above the median
    has ten beyond it, so the maximum is reported, at 100."""
    xs = sorted(samples)
    if not xs:
        return 0.0, 0.0
    if len(xs) < 20:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# cube store
# ---------------------------------------------------------------------------

_CHANNELS = ("dem", "datamask")
_N_PX = GRID.chunk_px * GRID.chunk_px
#: untimed cached requests before the timed ones. A cached request gets
#: about twice as fast over its first 15-30 calls in a JVM while the JIT
#: compiles the planner's code; the first few calls are the slowest, and
#: a long timed stretch averages the rest better than a longer warm-up.
_WARM_HITS = 3


def _tile_bbox(tx: int, ty: int, nx: int, ny: int) -> tuple[float, float, float, float]:
    """A bbox strictly inside the nx x ny tile block at (tx, ty), so it
    overlaps exactly those tiles."""
    t = GRID.tile_size
    x0, y0 = GRID.geobox.x0 + tx * t, GRID.geobox.y0 - ty * t
    e = 0.1 * t
    return (x0 + e, y0 - ny * t + e, x0 + nx * t - e, y0 - e)


def _diamond_wkt(tx: int, ty: int, nx: int, ny: int) -> str:
    minx, miny, maxx, maxy = _tile_bbox(tx, ty, nx, ny)
    cx, cy = (minx + maxx) / 2, (miny + maxy) / 2
    pts = [(cx, maxy), (maxx, cy), (cx, miny), (minx, cy), (cx, maxy)]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


def roi_tiles(roi) -> set[tuple[int, int]]:
    """The ROI's tile set from ``TileGrid`` (bbox, WKT polygon, or a
    list of those)."""
    from smart_geocubes_spark.geo.pip import parse_polygon

    items = roi if isinstance(roi, list) else [roi]
    out: set[tuple[int, int]] = set()
    for it in items:
        if isinstance(it, str):
            t = GRID.tiles_overlapping_polygon(*parse_polygon(it))
        else:
            t = GRID.tiles_overlapping_bbox(*it)
        out.update((int(a), int(b)) for a, b in t)
    return out


def expected_sums(tiles: set[tuple[int, int]], bias: float) -> dict[tuple[int, str], float]:
    """Closed-form block sum per (tile_id, channel): the fill writes
    ``chunk_value_base + 0.5 * pixel_index``; ``dem`` is stored as
    float32 (exact for these halves), ``datamask`` as ``value != 0``."""
    tx = np.array([t[0] for t in tiles], dtype=np.float64)
    ty = np.array([t[1] for t in tiles], dtype=np.float64)
    base = chunk_value_base(ty, tx, np.zeros(len(tiles)))
    dem = _N_PX * base + 0.25 * _N_PX * (_N_PX - 1)
    mask = _N_PX - (base == 0.0)
    tid = GRID.tile_id(tx.astype(np.int64), ty.astype(np.int64))
    out = {}
    for i, t in enumerate(tid):
        out[(int(t), "dem")] = float(dem[i]) + bias
        out[(int(t), "datamask")] = float(mask[i]) + bias
    return out


def _block_sums(df) -> dict[tuple[int, str], float]:
    from pyspark.sql import functions as F

    rows = df.select(
        "tile_id", "channel", F.aggregate("block", F.lit(0.0), lambda a, x: a + x).alias("s")
    ).collect()
    out = {(int(r["tile_id"]), r["channel"]): float(r["s"]) for r in rows}
    if len(out) != len(rows):  # a chunk returned twice never matches
        out[(-1, "duplicate rows")] = float(len(rows))
    return out


def _new_cube(ctx: Ctx, name: str):
    from smart_geocubes_spark.accessor import GeocubeAccessor
    from smart_geocubes_spark.plans.materialize import CubeSpec

    spec = CubeSpec(grid=GRID, channels=_CHANNELS, dtypes=("float32", "bool"), time_epochs=None)
    acc = GeocubeAccessor(spark=ctx.spark, path=os.path.join(ctx.work_dir, name), spec=spec)
    acc.create()
    return acc


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _store_layer(acc, chunks: int) -> dict[str, float]:
    blocks = _dir_bytes(os.path.join(acc.path, "blocks"))
    lineage = _dir_bytes(os.path.join(acc.path, "lineage"))
    total = _dir_bytes(acc.path)
    return {
        "store.block_bytes": blocks,
        "store.lineage_bytes": lineage,
        "store.bytes_per_chunk": total / chunks if chunks else 0.0,
        "store.committed_batches": len(acc.snapshots()),
    }


def _fill_capture(n_chunks: int, py_compute_ms: float) -> float:
    """In-process cost of the fill kernel for ``n_chunks`` plan rows,
    divided by the Python hop's reported compute time for them."""
    import pandas as pd

    from smart_geocubes_spark.plans.materialize import _gen_blocks_factory

    if not py_compute_ms:
        return 0.0
    i = np.arange(n_chunks)
    plan = pd.DataFrame({
        "tile_y": i // 240, "tile_x": i % 240, "tile_id": i, "time_idx": -1,
        "channel": np.where(i % 2 == 0, "dem", "datamask"), "batch_id": "capture",
        "chunk_key": [f"-1-{k}" for k in i],
    })
    gen = _gen_blocks_factory(GRID.chunk_px)
    t0 = time.perf_counter()
    for start in range(0, n_chunks, 64):
        for _ in gen(iter([plan.iloc[start:start + 64]])):
            pass
    return (time.perf_counter() - t0) * 1000.0 / py_compute_ms


class CubeRoiRequests:
    """A cold miss that fills a fresh typed cube, then cached ROI requests.

    Every operation is a ``GeocubeAccessor.load`` request reduced to
    per-chunk block sums. Op 0 is the cold miss: a list ROI mixing a
    bbox, a WKT polygon and small bboxes on a fresh cube (float32 ``dem``
    + bool ``datamask`` on ``sources.synth.GRID``), so the request fills
    and commits every chunk it returns: block kernel, per-dtype parquet
    writes and the lineage commit.

    Then requests of 4 x 2 tiles (16 chunks) inside the filled block, all
    cached: plan build, lineage listing, the anti-join check and the
    pruned scan. The first ``_WARM_HITS`` are an untimed warm-up; the
    rest run for ``seconds``. ``op_p50_s`` is their median latency,
    ``work_per_s`` the chunks they returned per second.
    """

    name = "cube_roi_requests"
    setup_reps = 3

    def __init__(self, ctx: Ctx):
        rng = np.random.default_rng(ctx.seed)
        self.w, self.h = (6, 4) if ctx.tiny else (8, 4)
        self.c0 = int(rng.integers(0, 100))
        self.r0 = int(rng.integers(0, GRID.n_tiles_y - self.h + 1))
        # the diamond and the small bboxes sit in disjoint column ranges
        # right of the request block, so every seed fills the same count
        rows = lambda n: int(rng.integers(0, GRID.n_tiles_y - n + 1))  # noqa: E731
        self.fill_roi = [
            _tile_bbox(self.c0, self.r0, self.w, self.h),
            _diamond_wkt(int(rng.integers(130, 175)), rows(4), 6, 4),
            *[_tile_bbox(185 + 18 * k + int(rng.integers(0, 15)), rows(2), 2, 2) for k in range(3)],
        ]
        self.rng = rng
        self.hits: list[float] = []
        self.hit_chunks = 0
        self.misses: list[float] = []
        self.fill_chunks = 0
        self.results: list[tuple[object, dict]] = []
        self.out = Outcome()
        self.layer: dict[str, float] = {}

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.acc = _new_cube(ctx, f"cube-{rep}")

    def _request(self, ctx: Ctx, roi, kind: str) -> tuple[bool, dict | None]:
        """Run one request; (succeeded, the op's trace accumulator)."""
        tr = ctx.tracer
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.op(kind) as acc:
                df = self.acc.load(roi)
                with tr.span("load.exec"):
                    got = _block_sums(df)
                tr.note("load.rows_returned", len(got))
        except Exception as e:  # one failed request must not end the run
            self.out.fail(f"{kind} {roi}: {type(e).__name__}: {str(e)[:200]}")
            return False, None
        wall = time.perf_counter() - t0
        if kind == "hit":
            self.hits.append(wall)
            self.hit_chunks += len(got)
        elif kind == "miss":
            self.misses.append(wall)
        self.results.append((roi, got))
        return True, acc

    def _hit_roi(self):
        tx = int(self.rng.integers(self.c0, self.c0 + self.w - 3))
        ty = int(self.rng.integers(self.r0, self.r0 + self.h - 1))
        return _tile_bbox(tx, ty, 4, 2)

    def loop(self, ctx: Ctx, seconds: float) -> None:
        tr = ctx.tracer
        ok, acc = self._request(ctx, self.fill_roi, "miss")
        if not ok:
            return
        self.fill_chunks = len(self.results[-1][1])
        if tr.enabled:
            self.layer["pyhop.capture"] = _fill_capture(self.fill_chunks, acc["py_compute_ms"])
        with tr.paused():  # checked, not timed
            for _ in range(_WARM_HITS):
                self._request(ctx, self._hit_roi(), "warm")
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            self._request(ctx, self._hit_roi(), "hit")

    def check(self, ctx: Ctx) -> Outcome:
        bias = 1.0 if ctx.wrong_expected else 0.0
        want = roi_tiles(self.fill_roi)
        keys = set(self.acc.loaded_patches())
        missing = [f"-1-{ty}-{tx}-{c}" for tx, ty in want for c in _CHANNELS]
        missing = [k for k in missing if k not in keys]
        if missing:
            self.out.fail(f"the miss did not commit {len(missing)} chunks, e.g. {missing[:3]}")
        for roi, got in self.results:
            if got != expected_sums(roi_tiles(roi), bias):
                self.out.fail(f"request {roi}: wrong chunk set or block sums")
        if ctx.tracer.enabled:
            self.layer.update(_store_layer(self.acc, self.fill_chunks))
            t, _ = tail(self.hits)
            self.layer.update({
                "accessor.hit_tail_s": t,
                "accessor.hit_samples": len(self.hits),
                "accessor.miss_s": _median(self.misses),
            })
        return self.out

    def metrics(self) -> dict[str, float]:
        total = sum(self.hits)
        return {
            "op_p50_s": _median(self.hits),
            "work_per_s": self.hit_chunks / total if total else 0.0,
        }

    def samples(self) -> list[float]:
        return self.hits


# ---------------------------------------------------------------------------
# webtext spatial join
# ---------------------------------------------------------------------------

_JOIN_MULT = 4


class WebtextJoin:
    """The flagship webtext job, bypassing the store: ``pages_df`` fanned
    out ``mult`` times -> ``prep_pages`` (one fused Python hop: extract,
    geoparse, cell encode) -> ``explode_catalog_to_cells`` -> ``pip_join``
    (broadcast) -> per-patch (count, sum page_id), collected.

    ``op_p50_s`` is the median job latency, ``work_per_s`` pages joined
    per second."""

    name = "webtext_join"
    setup_reps = 3

    def __init__(self, ctx: Ctx):
        self.n_orders = 1500 if ctx.tiny else 37_500
        self.mult = _JOIN_MULT
        self.lat: list[float] = []
        self.results: list[dict] = []
        self.out = Outcome()
        self.layer: dict[str, float] = {}

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.sf_dir = write_tables(
            os.path.join(ctx.work_dir, f"tables-{rep}"), ctx.seed, self.n_orders, 50
        )

    def _job(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        from smart_geocubes_spark.operators.prep import prep_pages
        from smart_geocubes_spark.operators.spatial_join import explode_catalog_to_cells, pip_join
        from smart_geocubes_spark.sources.synth import catalog_df, pages_df

        tr = ctx.tracer
        with tr.span("driver.build"):
            pages = pages_df(
                ctx.spark, self.sf_dir, mult=self.mult, parallelism=3 * ctx.cpus
            ).select("page_id", "url", "html", "warc_epoch", "host_id")
            cells = explode_catalog_to_cells(ctx.spark, catalog_df(ctx.spark))
            agg = pip_join(prep_pages(pages), cells).groupBy("patch_id").agg(
                F.count("*").alias("n"), F.sum("page_id").alias("s")
            )
        with tr.span("driver.exec"):
            rows = agg.collect()
        return {r["patch_id"]: (int(r["n"]), int(r["s"])) for r in rows}

    def loop(self, ctx: Ctx, seconds: float) -> None:
        with ctx.tracer.paused():  # one untimed job warms the engine
            self._job(ctx)
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            self.out.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.op("join") as acc:
                    got = self._job(ctx)
            except Exception as e:
                self.out.fail(f"join: {type(e).__name__}: {str(e)[:200]}")
                continue
            self.lat.append(time.perf_counter() - t0)
            self.results.append(got)
            if ctx.tracer.enabled and "pyhop.capture" not in self.layer:
                self.layer["pyhop.capture"] = self._capture(acc["py_compute_ms"])

    def _oracle(self, bias: int) -> dict:
        """``SQL_SPATIAL_JOIN_PIP`` in DuckDB over the same fanned-out
        pages: the ``orders`` view repeats every key ``mult`` times as
        ``o_orderkey * mult + rep``, which is ``pages_sql``'s fan-out."""
        import duckdb

        from smart_geocubes_spark.queries import SQL_SPATIAL_JOIN_PIP

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW orders AS SELECT o_orderkey * "
                f"{self.mult} + rep AS o_orderkey FROM read_parquet("
                f"'{self.sf_dir}/orders.parquet'), range({self.mult}) t(rep)"
            )
            rows = con.execute(SQL_SPATIAL_JOIN_PIP).fetchall()
        finally:
            con.close()
        return {p: (int(n) + bias, int(s)) for p, n, s in rows}

    def _pages_pdf(self, n: int):
        import duckdb

        from smart_geocubes_spark.sources.synth import pages_sql

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW orders AS SELECT o_orderkey FROM read_parquet("
                f"'{self.sf_dir}/orders.parquet') LIMIT {n}"
            )
            pdf = con.execute(
                f"SELECT page_id, url, CAST(html_str AS BLOB) AS html, warc_epoch "
                f"FROM ({pages_sql('orders')})"
            ).df()
        finally:
            con.close()
        return pdf

    def _capture(self, py_compute_ms: float) -> float:
        """In-process cost of the fused prep kernel for one job's pages,
        scaled from a 10k-page sample, over the hop's compute time."""
        from smart_geocubes_spark.operators.prep import _prep_batches

        if not py_compute_ms:
            return 0.0
        sample = self._pages_pdf(10_000)
        t0 = time.perf_counter()
        for _ in _prep_batches(iter([sample])):
            pass
        per_page = (time.perf_counter() - t0) / len(sample)
        return per_page * self.n_orders * self.mult * 1000.0 / py_compute_ms

    def check(self, ctx: Ctx) -> Outcome:
        want = self._oracle(1 if ctx.wrong_expected else 0)
        for got in self.results:
            if got != want:
                bad = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
                self.out.fail(f"join: {len(bad)} patches differ from DuckDB, e.g. {bad[:3]}")
        return self.out

    def metrics(self) -> dict[str, float]:
        total = sum(self.lat)
        pages = self.n_orders * self.mult * len(self.lat)
        return {"op_p50_s": _median(self.lat), "work_per_s": pages / total if total else 0.0}

    def samples(self) -> list[float]:
        return self.lat


# ---------------------------------------------------------------------------
# headline query mix
# ---------------------------------------------------------------------------

#: the ten ``bench.py`` headline queries plus the dedup family's
#: ngram-jaccard (aggregation memory, ROADMAP D4)
MIX = [
    "geoparse", "extract_text", "tile_assign", "cell_encode", "spatial_join_bbox",
    "spatial_join_pip", "knn_ring", "asof_time_nearest", "range_join_time",
    "zonal_stats", "dedup_ngram_jaccard",
]


class QueryMix:
    """Passes over every query of ``MIX`` from ``__spark_entry__.queries()``,
    each pass in a new seeded order and each query collected to pandas on
    the driver. Covers the kNN, temporal, zonal and dedup operators and
    the registry's driver-side plan build.

    The first pass is an untimed warm-up: it pays each query's first-use
    code generation and the Python workers' start, which make a cold pass
    over twice as long as a warm one and vary from run to run. The timed
    passes follow for ``seconds``; a pass starts only if one more pass of
    the last pass's length still ends within them, and at least one runs.
    The operation is the pass: ``op_p50_s`` is the median timed pass wall
    time, ``work_per_s`` queries per second over the timed passes.

    Every query's first timed output is checked afterwards against its
    ``oracle_sql()`` entry in DuckDB with ``smart_geocubes_spark.testing``
    (the comparison ``run_gate`` makes; the measured execution is the
    checked one, so no extra pass is needed)."""

    name = "query_mix"
    setup_reps = 3

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry

        self.n_orders, self.n_docs = (300, 100) if ctx.tiny else (1500, 500)
        self.queries = {n: entry.queries()[n] for n in MIX}
        self.oracles = {n: entry.oracle_sql()[n] for n in MIX}
        self.rng = np.random.default_rng(ctx.seed)
        self.lat: list[float] = []
        self.ran: list[str] = []
        self.outputs: dict[str, object] = {}
        self.passes: list[float] = []
        self.out = Outcome()
        self.layer: dict[str, float] = {}

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.sf_dir = write_tables(
            os.path.join(ctx.work_dir, f"tables-{rep}"), ctx.seed, self.n_orders, self.n_docs
        )

    def _pass(self, ctx: Ctx, timed: bool) -> float:
        tr = ctx.tracer
        t_pass = time.perf_counter()
        for n in map(str, self.rng.permutation(MIX)):
            self.out.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.op("query"):
                    with tr.span("driver.build"):
                        df = self.queries[n](ctx.spark, self.sf_dir)
                    with tr.span("driver.exec"):
                        pdf = df.toPandas()
            except Exception as e:
                self.out.fail(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if timed:
                self.lat.append(time.perf_counter() - t0)
                self.ran.append(n)
                self.outputs.setdefault(n, pdf)
        return time.perf_counter() - t_pass

    def loop(self, ctx: Ctx, seconds: float) -> None:
        with ctx.tracer.paused():
            self._pass(ctx, timed=False)
        t_end = time.perf_counter() + seconds
        while True:
            self.passes.append(self._pass(ctx, timed=True))
            if time.perf_counter() + self.passes[-1] > t_end:
                break

    def check(self, ctx: Ctx) -> Outcome:
        from smart_geocubes_spark.testing import compare_frames, duckdb_connection

        bad: dict[str, str] = {}
        con = duckdb_connection(self.sf_dir)
        try:
            for n, pdf in self.outputs.items():
                oracle = self.oracles[n]
                if ctx.wrong_expected:
                    oracle = f"SELECT * FROM ({oracle}) LIMIT 0"
                problems = compare_frames(pdf, con.execute(oracle).df())
                if problems:
                    bad[n] = "; ".join(problems)[:300]
        finally:
            con.close()
        for n in self.ran:
            if n in bad:
                self.out.fail(f"{n}: {bad[n]}")
        return self.out

    def metrics(self) -> dict[str, float]:
        total = sum(self.lat)
        return {
            "op_p50_s": _median(self.passes),
            "work_per_s": len(self.lat) / total if total else 0.0,
        }

    def samples(self) -> list[float]:
        return self.lat


WORKLOADS = {w.name: w for w in (CubeRoiRequests, WebtextJoin, QueryMix)}
