"""The benchmark's workloads and their phases, run through the engine's
public functions.

Every benchmark run starts one Spark session and sets up: locators, the
locator pack and one unmeasured pass of each phase it runs over the phase's
own input (for the stream phase: the query started and warmed with one
micro-batch). It then runs its phases in turn, each over its own seeded
input:

``pages_batch``      pages -> ``plans.pipeline.geocode_pages`` ->
                     ``batching.run_resumable`` (4 batches), then 1
                     batch lost (ledger record and output) and resumed.
``address_table``    address rows -> ``operators.geocode.geocode`` (all
                     locators, PO boxes, WGS84 output).
``spatial_join``     a point table through ``operators.spatial``:
                     ``knn_cell(k=3)`` against the address points,
                     ``point_in_polygon`` against the grid polygons and
                     ``tile_rollup``.
``stream_arrivals``  page files renamed into a watched directory on a fixed
                     schedule while ``streaming.stream.stream_geocode``
                     runs: an open loop whose schedule ignores the query's
                     progress. Per-file latency runs from the file's due
                     time to the commit of the micro-batch that held it.

An untraced run runs the workload's phases (``PHASES``), each for its share
of ``run.seconds``, with the RSS sampler running, and checks the last
output of each against its oracle. The batch phases are closed loops that
repeat their job (at least once) and report the median pass, in CPU seconds
of the Spark JVM and its workers (``procmem.tree_cpu_s``) and, on the
report line, in wall seconds. A traced run
runs all four phases, whatever the workload, so that every layer is
measured: each batch phase once untraced, then once with each layer's public
call materialized on its own under a span; the per-layer counters are
derived from the staged layer outputs, outside the spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import statistics
import threading
import time
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from geocode_spark import batching
from geocode_spark import fixtures as fx
from geocode_spark.batching import run_resumable
from geocode_spark.extraction import extract_and_parse
from geocode_spark.operators.geocode import (
    _POBOX_NAME,
    cleanse_input,
    geocode,
    geocode_parsed,
    pack_locators,
    parse_input,
)
from geocode_spark.operators.projection import reproject_result
from geocode_spark.operators.spatial import knn_cell, point_in_polygon, tile_rollup
from geocode_spark.plans.pipeline import geocode_pages, load_locators
from geocode_spark.streaming.stream import stream_geocode

import check
from procmem import PeakRss, host_cpu_ticks, tree_cpu_s

# 4 batches, 1 lost: the job's lost share (1/4) at a quarter of the
# per-batch ledger jobs of the 16-batch job shape, so that a run measures
# enough passes for a steady median
N_BATCHES = 4
LOST_BATCHES = 1
GEOCODE_KW = {"locators": "all", "pobox": True}
# workload -> phase -> share of run.seconds the phase measures for
PHASES = {
    "pages_batch": {"pages_batch": 1.0},
    "address_table": {"address_table": 0.65, "spatial_join": 0.35},
}
# a traced run's phases; the stream phase lasts as long as its schedule
ALL_PHASES = ("pages_batch", "address_table", "spatial_join",
              "stream_arrivals")
# phase -> the oracles (``check.oracle_queries``) its outputs are diffed with
ORACLES = {"pages_batch": ("pages",), "stream_arrivals": ("pages",),
           "address_table": ("address",),
           "spatial_join": ("knn", "pip", "tiles")}


def oracles(workload: str, trace: bool) -> set[str]:
    """The oracles a run of ``workload`` needs."""
    phases = ALL_PHASES if trace else PHASES[workload]
    return {name for phase in phases for name in ORACLES[phase]}
# a stream run whose file generator ran later than this behind its schedule
# measured the generator, not the system: it is refused as invalid
LAG_BOUND_S = 0.25
# the hot zone of the fixture distribution: its grid name and its zips
HOT_ZONE_KEYS = [fx.GRIDS[0][0], *fx.GRIDS[0][2]]


class InvalidRun(RuntimeError):
    """The run's load generator missed its schedule; its figures are void."""


class Run:
    """One benchmark process: session, inputs, scratch space and results."""

    def __init__(self, workload: str, spark, fix: Path, work: Path, seed: int,
                 seconds: float, trace: bool, size: dict, spans,
                 setup_started: float):
        self.workload = workload
        self.spark = spark
        self.fix = fix
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.spans = spans
        self.setup_started = setup_started
        # the page job's lost batches
        self.lost = sorted(random.Random(seed).sample(range(N_BATCHES),
                                                      LOST_BATCHES))
        self.expected = {}
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}  # end-to-end metrics of an untraced run
        self.report: dict = {}  # further figures, printed on the report line
        self.layers: dict = {}  # per-layer metrics of a traced run
        self.match_counts: list[dict] = []  # matcher counters per phase

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.setup_started

    def path(self, name: str) -> Path:
        """A fresh scratch directory path (removed if it exists)."""
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return p

    def read(self, rel: str):
        return self.spark.read.parquet(str(self.fix / rel))

    def check(self, name: str, out: Path) -> None:
        want, keys = self.expected[name]
        attempted, failed = check.diff(check.read_output(out), want, keys)
        self.attempted += attempted
        self.failed += failed


def _quiet(_msg) -> None:
    pass


def _write(df, path: Path) -> None:
    df.write.mode("overwrite").parquet(str(path))


def _span(spans, name):
    return spans.span(name) if spans is not None else contextlib.nullcontext()


def _timed(run: Run, phase: str, one_pass) -> list[dict]:
    """Repeat ``one_pass`` until the phase's share of ``run.seconds`` has
    elapsed (at least once)."""
    budget = PHASES[run.workload][phase] * run.seconds
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < budget:
        passes.append(one_pass())
    run.report[f"{phase}.pass_s"] = [p["pass_s"] for p in passes]
    return passes


def _median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def _clock() -> tuple[float, float]:
    """(wall seconds, CPU seconds of the Spark JVM and its workers)."""
    return time.perf_counter(), tree_cpu_s()


# ---------------------------------------------------------------- counters
def _pack_counters(run: Run, pack) -> None:
    r = pack.agg(
        F.count("*").alias("keys"),
        F.sum(F.size("cands")).alias("cands"),
        F.max(F.size("cands")).alias("max"),
    ).first()
    run.layers.update({
        "geocode.pack_build_s": run.spans.busy("geocode.pack_build"),
        "geocode.pack_keys": r["keys"],
        "geocode.pack_candidates": r["cands"],
        "geocode.pack_max_candidates": r["max"],
    })


def _match_counters(parsed, result, pack) -> dict:
    """Probe-side counters of the matcher, computed from staged layer
    outputs: candidate-array lengths joined to the parsed probe keys."""
    sizes = pack.select("zone_key", "join_name",
                        F.size("cands").alias("n_cands"))
    probe = parsed.withColumn(
        "join_name",
        F.when(F.col("addr_type") == "POBOX", F.lit(_POBOX_NAME))
        .otherwise(F.col("street_name")),
    )
    has_addr = F.col("addr_type") != "INVALID"
    r = probe.join(sizes, ["zone_key", "join_name"], "left").agg(
        F.count("*").alias("probe"),
        F.sum(F.when(has_addr, 1).otherwise(0)).alias("parsed"),
        F.sum(F.when(has_addr & F.col("zone_key").isin(HOT_ZONE_KEYS), 1)
              .otherwise(0)).alias("hot"),
        F.sum(F.coalesce("n_cands", F.lit(0))).alias("scanned"),
    ).first()
    matched = result.filter(F.col("message").isNull()).count()
    return {"probe": r["probe"], "parsed": r["parsed"], "hot": r["hot"],
            "scanned": r["scanned"], "matched": matched}


def _add_match_layers(run: Run) -> None:
    """The matcher's counters, summed over the phases that probed it."""
    total = {k: sum(c[k] for c in run.match_counts)
             for k in run.match_counts[0]}
    parsed = total["parsed"]
    run.layers.update({
        "geocode.match_busy_s": run.spans.busy("geocode.match"),
        "geocode.probe_rows": total["probe"],
        "geocode.candidates_scanned": total["scanned"],
        "geocode.matched_rows": total["matched"],
        "geocode.match_yield": total["matched"] / parsed if parsed else 0.0,
        "geocode.hot_zone_share": total["hot"] / parsed if parsed else 0.0,
    })


def _extraction_counters(run: Run, parsed) -> None:
    r = parsed.agg(
        F.count("*").alias("rows"),
        F.count("input_street").alias("with_addr"),
        F.count("error").alias("errors"),
    ).first()
    busy = run.spans.busy("extraction")
    run.layers.update({
        "extraction.busy_s": busy,
        "extraction.rows_per_s": r["rows"] / busy,
        "extraction.rows_with_address": r["with_addr"],
        "extraction.error_rows": r["errors"],
    })


# --------------------------------------------------------- stream_arrivals
def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it; needs at least 11 samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"{n} latency samples; the tail needs 11")
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def _batch_of_file(ckpt: Path) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    (plain and compacted log files both hold one JSON entry per file)."""
    out = {}
    for log in (ckpt / "sources" / "0").iterdir():
        if log.name.startswith("."):
            continue
        with open(log) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(ckpt: Path) -> dict[int, float]:
    """Micro-batch id -> wall-clock time its commit record was written."""
    return {int(p.name): p.stat().st_mtime
            for p in (ckpt / "commits").iterdir() if p.name.isdigit()}


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Arrivals(threading.Thread):
    """Open-loop generator: renames file i into the watched directory at
    ``start + i * interval`` (wall clock), whatever the query is doing."""

    def __init__(self, files: list[Path], watch: Path, start: float,
                 interval: float):
        super().__init__(daemon=True)
        self.files, self.watch = files, watch
        self.due = [start + i * interval for i in range(len(files))]
        self.lag: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for f, due in zip(self.files, self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.replace(f, self.watch / f.name)
                self.lag.append(time.time() - due)
        except BaseException as ex:  # re-raised by the main thread
            self.error = ex


class _Stream:
    """``stream_geocode`` over a watched directory, started and warmed with
    one micro-batch in set-up; ``measure`` then runs the open loop."""

    def __init__(self, run: Run, locs: dict):
        self.run = run
        self.watch, self.staging = run.path("watch"), run.path("arrivals")
        self.out, self.ckpt = run.path("stream"), run.path("checkpoint")
        self.watch.mkdir(parents=True)
        # plain copies get fresh mtimes: the file source skips files older
        # than its maxFileAge behind the newest file it has seen
        shutil.copytree(run.fix / "arrivals", self.staging,
                        copy_function=shutil.copy)
        shutil.copy(run.fix / "stream_warm" / "part-00000.parquet",
                    self.watch / "warm.parquet")
        self.files = sorted(self.staging.iterdir())
        self.query = stream_geocode(
            run.spark, str(self.watch), locs, str(self.out), str(self.ckpt),
            available_now=False, **GEOCODE_KW)
        self.query.processAllAvailable()

    def measure(self) -> dict:
        """Open loop over every arrival file; returns per-file latencies
        (due -> commit of the micro-batch holding the file) and waits
        (due -> start of that micro-batch), plus the stream's progress."""
        run = self.run
        gen = _Arrivals(self.files, self.watch, time.time() + 0.2,
                        run.size["interval_s"])
        gen.start()
        gen.join()
        self.query.processAllAvailable()
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query.stop()
        if gen.error is not None:
            raise gen.error
        lag_max = max(gen.lag)
        if lag_max > LAG_BOUND_S:
            raise InvalidRun(f"file generator ran {lag_max:.3f} s behind "
                             f"schedule (bound {LAG_BOUND_S} s)")
        batch_of = _batch_of_file(self.ckpt)
        committed = _commit_times(self.ckpt)
        started = {p["batchId"]: _iso_epoch(p["timestamp"]) for p in progress}
        lat, wait = [], []
        for f, due in zip(self.files, gen.due):
            b = batch_of[f.name]
            lat.append(committed[b] - due)
            wait.append(started[b] - due)
        rows = run.size["file_pages"] * len(self.files)
        return {
            "latency": lat, "wait": wait, "lag_max": lag_max,
            "rows_per_s": rows / (max(committed.values()) - gen.due[0]),
            # micro-batches after the warm-up one
            "batches": [p for p in progress
                        if p["batchId"] > 0 and p["numInputRows"]],
        }

    def layer_metrics(self, m: dict) -> dict:
        batches = m["batches"]

        def p50(key):
            return statistics.median(p["durationMs"].get(key, 0)
                                     for p in batches)

        return {
            "stream.batches": len(batches),
            "stream.files_per_batch": len(self.files) / len(batches),
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.query_planning_ms_p50": p50("queryPlanning"),
            "stream.wal_commit_ms_p50": p50("walCommit"),
            "stream.commit_offsets_ms_p50": p50("commitOffsets"),
            "stream.wait_s_p50": statistics.median(m["wait"]),
            "stream.batch_rows_per_s":
                sum(p["numInputRows"] for p in batches)
                / (sum(p["durationMs"]["addBatch"] for p in batches) / 1000),
            "loadgen.lag_s_max": m["lag_max"],
        }


def _stream_phase(run: Run, stream: _Stream) -> None:
    m = stream.measure()
    run.check("stream", stream.out)
    tail, pct = _tail(m["latency"])
    run.layers.update(stream.layer_metrics(m))
    run.layers["stream.latency_p50_s"] = statistics.median(m["latency"])
    run.layers["stream.latency_tail_s"] = tail
    run.report.update({
        "stream_arrivals.latency_tail_pct": pct,
        "stream_arrivals.latency_samples": len(m["latency"]),
        "stream_arrivals.rows_per_s": m["rows_per_s"],
        "stream_arrivals.offered_rows_per_s":
            run.size["file_pages"] / run.size["interval_s"],
    })


# ------------------------------------------------------------- pages_batch
def _resumable_pass(spark, plan, out: Path, lost: list[int], spans=None) -> dict:
    """One job: all batches committed, ``lost`` batches deleted (ledger
    record and output), then a resumed run. ``plan`` builds the result
    DataFrame, so plan construction is part of the timed job."""
    shutil.rmtree(out, ignore_errors=True)
    t0, c0 = _clock()
    with _span(spans, "batching.write"):
        full = run_resumable(spark, plan(), str(out), n_batches=N_BATCHES,
                             resume=False, log=_quiet)
    t1, c1 = _clock()
    for k in lost:
        os.remove(batching._ledger_path(str(out), k))
        shutil.rmtree(out / f"batch_id={k}")
    t2, c2 = _clock()
    with _span(spans, "batching.resume"):
        again = run_resumable(spark, plan(), str(out), n_batches=N_BATCHES,
                              resume=True, log=_quiet)
    t3, c3 = _clock()
    if sorted(again["skipped"]) != sorted(set(range(N_BATCHES)) - set(lost)):
        raise RuntimeError(f"resume skipped {again['skipped']}, lost {lost}")
    return {"full_s": t1 - t0, "resume_s": t3 - t2, "pass_s": t3 - t2 + t1 - t0,
            "rows_per_s": full["total"] / (t1 - t0),
            "full_cpu_s": c1 - c0, "resume_cpu_s": c3 - c2,
            "rows_per_cpu_s": full["total"] / (c1 - c0),
            "batches": full["batches"]}


def _pages_phase(run: Run, job, locs: dict, pack) -> float:
    """Returns the untraced pass time of a traced run (else 0)."""
    spark = run.spark
    out = run.work / "pages"

    if not run.trace:
        passes = _timed(run, "pages_batch", job)
        run.e2e["rows_per_cpu_s"] = _median(passes, "rows_per_cpu_s")
        run.e2e["followup_cpu_s"] = _median(passes, "resume_cpu_s")
        run.report.update({
            "pages_batch.rows_per_s": _median(passes, "rows_per_s"),
            "pages_batch.full_s": _median(passes, "full_s"),
            "pages_batch.resume_s": _median(passes, "resume_s"),
            "pages_batch.full_cpu_s": [p["full_cpu_s"] for p in passes],
            "pages_batch.resume_cpu_s": [p["resume_cpu_s"] for p in passes],
        })
        run.check("pages", out)
        return 0.0

    untraced = job()
    stage = run.path("stage-pages")
    with run.spans.span("pass.traced"):
        with run.spans.span("extraction"):
            _write(extract_and_parse(run.read("pages")), stage / "parsed")
        parsed = spark.read.parquet(str(stage / "parsed"))
        with run.spans.span("geocode.match"):
            _write(geocode_parsed(parsed, **locs, **GEOCODE_KW),
                   stage / "result")
        result = spark.read.parquet(str(stage / "result"))
        job_traced = _resumable_pass(spark, lambda: result, out, run.lost,
                                     spans=run.spans)
    run.check("pages", out)
    _extraction_counters(run, parsed)
    run.layers.update({
        "batching.write_busy_s": run.spans.busy("batching.write"),
        "batching.batches_committed": job_traced["batches"],
        "batching.resume_busy_s": run.spans.busy("batching.resume"),
        # end to end: what resuming a quarter of the batches costs against
        # the full job (ideal: LOST_BATCHES / N_BATCHES)
        "batching.resume_ratio": untraced["resume_s"] / untraced["full_s"],
    })
    run.report.update({"pages_batch.full_s": untraced["full_s"],
                       "pages_batch.resume_s": untraced["resume_s"]})
    run.match_counts.append(_match_counters(parsed, result, pack))
    return untraced["pass_s"]


# ----------------------------------------------------------- address_table
def _address_job(locs: dict, addr, out: Path) -> dict:
    t0, c0 = _clock()
    _write(geocode(addr, **locs, **GEOCODE_KW, spatial_reference=4326), out)
    t1, c1 = _clock()
    return {"pass_s": t1 - t0, "pass_cpu_s": c1 - c0}


def _address_phase(run: Run, job, locs: dict, pack) -> float:
    """Returns the untraced pass time of a traced run (else 0)."""
    spark = run.spark
    out = run.work / "address"

    if not run.trace:
        passes = _timed(run, "address_table", job)
        n = run.size["addresses"]
        run.e2e["rows_per_cpu_s"] = n / _median(passes, "pass_cpu_s")
        run.report.update({
            "address_table.rows_per_s": n / _median(passes, "pass_s"),
            "address_table.pass_cpu_s": [p["pass_cpu_s"] for p in passes],
        })
        run.check("address", out)
        return 0.0

    untraced = job()
    stage = run.path("stage-address")
    with run.spans.span("pass.traced"):
        with run.spans.span("grammar"):
            _write(parse_input(cleanse_input(run.read("addresses"))),
                   stage / "parsed")
        parsed = spark.read.parquet(str(stage / "parsed"))
        with run.spans.span("geocode.match"):
            _write(geocode_parsed(parsed, **locs, **GEOCODE_KW),
                   stage / "native")
        native = spark.read.parquet(str(stage / "native"))
        with run.spans.span("projection"):
            _write(reproject_result(native, wkid=4326), stage / "address")
    run.check("address", stage / "address")
    run.layers.update({
        "grammar.busy_s": run.spans.busy("grammar"),
        "grammar.parsed_rows":
            parsed.filter(F.col("addr_type") != "INVALID").count(),
        "projection.busy_s": run.spans.busy("projection"),
        "projection.rows": native.count(),
    })
    run.match_counts.append(_match_counters(parsed, native, pack))
    return untraced["pass_s"]


# ------------------------------------------------------------ spatial_join
def _spatial_job(ctx: dict, pts, out: Path, spans=None) -> dict:
    t0, c0 = _clock()
    with _span(spans, "spatial.knn"):
        _write(knn_cell(pts, ctx["cands"], k=3), out / "knn")
    with _span(spans, "spatial.pip"):
        _write(point_in_polygon(pts, ctx["polys"]), out / "pip")
    with _span(spans, "spatial.tile"):
        _write(tile_rollup(pts), out / "tiles")
    t1, c1 = _clock()
    return {"pass_s": t1 - t0, "pass_cpu_s": c1 - c0}


def _spatial_phase(run: Run, job, ctx: dict) -> float:
    """Returns the untraced pass time of a traced run (else 0)."""
    out = run.work / "spatial"
    untraced_s = 0.0

    if not run.trace:
        passes = _timed(run, "spatial_join", job)
        run.e2e["followup_cpu_s"] = _median(passes, "pass_cpu_s")
        run.report.update({
            "spatial_join.pass_s_median": _median(passes, "pass_s"),
            "spatial_join.rows_per_s":
                run.size["points"] / _median(passes, "pass_s"),
            "spatial_join.pass_cpu_s": [p["pass_cpu_s"] for p in passes],
        })
    else:
        untraced_s = job()["pass_s"]
        with run.spans.span("pass.traced"):
            _spatial_job(ctx, run.read("points"), out, spans=run.spans)
        read = lambda name: run.spark.read.parquet(str(out / name))  # noqa: E731
        run.layers.update({
            "spatial.knn_busy_s": run.spans.busy("spatial.knn"),
            "spatial.knn_pairs": read("knn").count(),
            "spatial.pip_busy_s": run.spans.busy("spatial.pip"),
            "spatial.pip_assigned":
                read("pip").filter(F.col("pip_grid").isNotNull()).count(),
            "spatial.tile_busy_s": run.spans.busy("spatial.tile"),
            "spatial.tiles": read("tiles").count(),
        })
    for name in ("knn", "pip", "tiles"):
        run.check(name, out / name)
    return untraced_s


# ------------------------------------------------------------------- run
def _job(run: Run, phase: str, locs: dict, ctx: dict):
    """One untraced pass of a batch phase over its own input; the pass
    returns its wall and CPU times."""
    if phase == "pages_batch":
        pages = run.read("pages")
        return lambda: _resumable_pass(
            run.spark, lambda: geocode_pages(pages, locs, **GEOCODE_KW),
            run.work / "pages", run.lost)
    if phase == "address_table":
        addr = run.read("addresses")
        return lambda: _address_job(locs, addr, run.work / "address")
    pts = run.read("points")
    return lambda: _spatial_job(ctx, pts, run.work / "spatial")


def run_all(run: Run) -> None:
    """Set up, then run the phases; fills ``run.e2e`` (untraced) or
    ``run.layers`` (traced)."""
    spark = run.spark
    phases = ALL_PHASES if run.trace else tuple(PHASES[run.workload])
    with run.spans.span("load_locators"):
        locs = load_locators(spark, str(run.fix))
    with run.spans.span("geocode.pack_build"):
        pack = pack_locators(**locs, **GEOCODE_KW)
        pack.count()  # materializes the persisted pack
    ctx = {"cands": locs["address_points"],
           "polys": run.read("grid_polygons.parquet")}
    jobs = {p: _job(run, p, locs, ctx) for p in phases
            if p != "stream_arrivals"}
    with run.spans.span("session.warm"):
        for phase, job in jobs.items():
            with run.spans.span(f"warm.{phase}"):
                job()  # one unmeasured pass over the phase's own input
        if "stream_arrivals" in phases:
            with run.spans.span("warm.stream"):
                stream = _Stream(run, locs)
    run.setup_done()

    run_phase = {
        "stream_arrivals": lambda: _stream_phase(run, stream),
        "pages_batch":
            lambda: _pages_phase(run, jobs["pages_batch"], locs, pack),
        "address_table":
            lambda: _address_phase(run, jobs["address_table"], locs, pack),
        "spatial_join": lambda: _spatial_phase(run, jobs["spatial_join"], ctx),
    }
    if not run.trace:
        steal0, all0 = host_cpu_ticks()
        with PeakRss() as mem:
            for phase in phases:
                run_phase[phase]()
        steal1, all1 = host_cpu_ticks()
        run.e2e["peak_rss_mb"] = mem.peak_mb
        run.report["pss_at_peak"] = mem.at_peak
        # what wall times lost to other guests while the phases ran
        run.report["host.steal_share"] = (steal1 - steal0) / (all1 - all0)
        return

    untraced_s = sum(run_phase[phase]() or 0.0 for phase in phases)
    traced_s = sum(r["end"] - r["start"] for r in run.spans.records
                   if r["name"] == "pass.traced")
    _pack_counters(run, pack)
    _add_match_layers(run)
    run.layers.update({
        "trace.untraced_s": untraced_s,
        "trace.traced_s": traced_s,
        "trace.overhead_share": traced_s / untraced_s - 1,
    })
