"""The benchmark's workloads.

Each workload builds its seeded inputs in `setup`, runs one operation
per `op` call (a closed loop: the next operation starts when the previous
one has finished) and checks outputs against the DuckDB oracle in
`verify`, outside the timed region. Every call into the package runs in
a span named after its layer (see `tracing.Tracer`).

- ingest: materialized pages parquet → operators.fused.fused_extract_assign
  → operators.tiles.tile_counts z0–z8 by country_id → noop sink. One
  operation is one pass over all pages. At 100k pages on 4 cores the
  fused stage (scan, Python extraction, assignment) takes about 40% of a
  pass, the tile pyramid's stages about 20%, and driver-side work between
  stages (planning and re-planning the ten-level union) the rest.
- queries: a narrow materialized table of extracted, assigned points.
  One operation is one round of four calls: operators.spatial_join.
  assign_countries, a tile_counts pyramid, operators.knn.knn and the
  registry's dedup_minhash_lsh. Extraction does no work here.

The write path (`SyncProbe`) is not a workload of its own: a traced
ingest run writes a few micro-batches with it. Its fixed per-batch cost
(about 20 Spark jobs, several seconds on 4 cores) leaves too few batches
in a run for a steady end-to-end figure within the run-time budget.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from oracle import Oracle
from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.fused import fused_extract_assign
from osm_notes_ingestion_spark.operators.knn import knn, knn_brute_force
from osm_notes_ingestion_spark.operators.spatial_join import assign_countries
from osm_notes_ingestion_spark.operators.tiles import merge_tile_counts, tile_counts
from osm_notes_ingestion_spark.plans import queries_text
from osm_notes_ingestion_spark.plans.registry import REGISTRY
from osm_notes_ingestion_spark.sources.checkpoint import SnapshotStore
from osm_notes_ingestion_spark.sources.polygons import prep_polygons
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons
from osm_notes_ingestion_spark.streaming.incremental import IncrementalRunner
from tracing import Tracer

MAX_ZOOM = 8
SYNC_BATCHES = 10  # the ingest pages cut into this many micro-batches
PROBE_BATCHES = 2  # of which a traced ingest run writes the first ones
# queries rolls a z4–z6 pyramid, the shape of the registry's tiles_z4
QUERY_ZOOMS = (4, 6)
# sync publishes a single-zoom tile table
SYNC_ZOOM = 8
COVER_LEVEL = 9
WARM_MOD = 16  # warm-ups on ids ≡ 0 mod 16 touch every partition, 1/16 of the rows
# operations run in set-up: the first forks the Python workers and
# compiles the plans, and the JVM keeps compiling the operation's code
# paths for several more, so timed operations start near steady state
WARM_OPS = 3


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _sub, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    # the job group whose shuffles are the tile pyramid's
    tile_group = ""

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int, tamper=None):
        """`tamper(check, value) -> value`, if given, is applied to each
        output before it is checked; tests use it to corrupt outputs."""
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tamper = tamper or (lambda _check, value: value)
        self.n_ops = 0
        self.setup_steps: dict[str, float] = {}
        # operations run by `probe`, and how many of them failed their check
        self.probe_ops = 0
        self.probe_failed = 0

    @contextmanager
    def _step(self, name: str):
        """Time one set-up step into `setup_steps`."""
        t = time.perf_counter()
        yield
        self.setup_steps[name] = self.setup_steps.get(name, 0.0) + time.perf_counter() - t

    def _events(self, n: int) -> str:
        path = os.path.join(self.work, "events")
        inputs.write_events(os.path.join(path, "events.parquet"), self.seed, n, self.cores)
        return path

    def _pages(self, events: str, fanout: int) -> DataFrame:
        path = os.path.join(self.work, "pages")
        pages_df(self.spark, events, fanout=fanout).write.parquet(path)
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        raise NotImplementedError

    def sizes(self) -> dict[str, int]:
        raise NotImplementedError

    def op(self, tr: Tracer) -> int:
        """Run one operation; return the number of input rows it processed."""
        raise NotImplementedError

    def scan(self, tr: Tracer) -> None:
        """A scan-only pass over the workload's stored input."""
        with tr.span("sources.scan"):
            _noop(self.spark.read.parquet(self.scan_path))

    def candidates_per_point(self) -> float:
        """Mean candidate polygons per located point (a data property)."""
        raise NotImplementedError

    def probe(self, tr: Tracer) -> None:
        """Extra work a traced run measures outside the operations."""

    def write_bytes_per_row(self) -> float:
        return 0.0

    def verify(self, oracle: Oracle) -> tuple[set[int], list[str]]:
        """(indices of failed operations, names of failed checks)."""
        raise NotImplementedError


class Ingest(Workload):
    name = "ingest"
    tile_group = "pipeline"

    def __init__(self, *a, events: int = 25_000, fanout: int = 4, **kw):
        super().__init__(*a, **kw)
        self.n_events, self.fanout = events, fanout

    def setup(self) -> None:
        with self._step("inputs"):
            self.events = self._events(self.n_events)
            self.pages = self._pages(self.events, self.fanout)
        self.scan_path = os.path.join(self.work, "pages")
        self.n_rows = self.n_events * self.fanout
        with self._step("polygons"):
            self.index = prep_polygons(world_polygons(), level=COVER_LEVEL)
        with self._step("warm_up"):
            for _ in range(WARM_OPS):
                _noop(self._pipeline(self.pages))

    def sizes(self) -> dict[str, int]:
        return {"events": self.n_events, "fanout": self.fanout, "pages": self.n_rows}

    def _pipeline(self, pages: DataFrame) -> DataFrame:
        return tile_counts(
            fused_extract_assign(self.spark, pages, self.index),
            max_zoom=MAX_ZOOM,
            extra_dims=("country_id",),
        )

    def op(self, tr: Tracer) -> int:
        with tr.span("pipeline"):
            _noop(self._pipeline(self.pages))
        self.n_ops += 1
        return self.n_rows

    def candidates_per_point(self) -> float:
        fused = fused_extract_assign(self.spark, self.pages, self.index)
        return fused.where("has_coords").agg(F.avg("n_candidates")).first()[0]

    def probe(self, tr: Tracer) -> None:
        # a first small batch into a throwaway store forks the workers and
        # compiles the write path's plans
        warm = SyncProbe(self, self.pages.where(F.col("id") % WARM_MOD == 0), SYNC_BATCHES, "warm")
        warm.run(Tracer(), 1)
        self.sync = SyncProbe(self, self.pages, SYNC_BATCHES, "sync")
        self.sync.run(tr, PROBE_BATCHES)
        self.probe_ops = PROBE_BATCHES

    def write_bytes_per_row(self) -> float:
        sync = getattr(self, "sync", None)
        return sync.bytes_written / sync.rows if sync else 0.0

    def verify(self, oracle: Oracle) -> tuple[set[int], list[str]]:
        oracle.register_points("truth", self.events, self.fanout)
        out = os.path.join(self.work, "check_tiles")
        self.tamper("tiles", self._pipeline(self.pages)).write.parquet(out)
        bad = oracle.mismatches(
            out, oracle.tiles_sql("truth", MAX_ZOOM, by_country=True), "z, x, y, country_id, cnt"
        )
        # every pass runs the identical deterministic plan: one wrong
        # output means every pass produced it
        failed, checks = (set(range(self.n_ops)), ["tiles"]) if bad else (set(), [])
        if hasattr(self, "sync"):
            bad_batches, sync_checks = self.sync.verify(oracle)
            self.probe_failed = len(bad_batches)
            checks += sync_checks
        return failed, checks


class Queries(Workload):
    name = "queries"
    tile_group = "tiles"

    def __init__(self, *a, events: int = 25_000, fanout: int = 4, docs: int = 200,
                 knn_queries: int = 4, **kw):
        super().__init__(*a, **kw)
        self.n_events, self.fanout = events, fanout
        self.n_docs, self.n_knn = docs, knn_queries
        self.knn_rows: list[list[tuple]] = []
        self.dedup_rows: list[set[tuple[int, int]]] = []

    def setup(self) -> None:
        # dedup_minhash_lsh keeps its cached tables in a module-level slot
        # and unpersists them on the next call, which fails once the
        # session that cached them has stopped
        queries_text._SHINGLE_CACHE_SLOT.clear()
        self.scan_path = os.path.join(self.work, "points")
        with self._step("inputs"):
            self.events = self._events(self.n_events)
            # the extracted points are written straight from the oracle's
            # coordinates: extraction does no work in this workload
            inputs.write_points(self.scan_path, self.events, self.fanout, self.cores)
            self.points = self.spark.read.parquet(self.scan_path)
            self.located = self.points.where(F.col("lat").isNotNull())
            self.n_rows = self.n_events * self.fanout
            self.docs_dir = os.path.join(self.work, "docs")
            os.makedirs(self.docs_dir)
            inputs.write_documents(
                os.path.join(self.docs_dir, "documents.parquet"), self.seed, self.n_docs
            )
            self.queries = inputs.knn_queries(self.seed, self.n_knn)
        with self._step("polygons"):
            self.index = prep_polygons(world_polygons(), level=COVER_LEVEL)
        warm = Tracer()
        with self._step("warm_up"):
            for _ in range(WARM_OPS):
                self._round(warm, self.points, self.queries)
        for sp in warm.spans:
            key = f"warm_up.{sp.name}"
            self.setup_steps[key] = self.setup_steps.get(key, 0.0) + sp.duration

    def sizes(self) -> dict[str, int]:
        return {"events": self.n_events, "fanout": self.fanout, "points": self.n_rows,
                "documents": self.n_docs, "knn_queries": self.n_knn}

    def _tiles(self, points: DataFrame) -> DataFrame:
        lo, hi = QUERY_ZOOMS
        return tile_counts(points, max_zoom=hi, min_zoom=lo, extra_dims=("country_id",))

    def _round(self, tr: Tracer, points: DataFrame, queries) -> tuple[list, set]:
        with tr.span("spatial_join"):
            _noop(assign_countries(self.spark, points, self.index).select("id", "country_id"))
        with tr.span("tiles"):
            _noop(self._tiles(points))
        with tr.span("knn"):
            located = points.where(F.col("lat").isNotNull())
            near = knn(self.spark, located, queries, k=5, level=6, initial_radius=2).collect()
            near = [tuple(r) for r in near]
        with tr.span("textops"):
            dedup_fn, _sql = REGISTRY["dedup_minhash_lsh"]
            pairs = {(r.id_a, r.id_b) for r in dedup_fn(self.spark, self.docs_dir).collect()}
        return near, pairs

    def op(self, tr: Tracer) -> int:
        near, pairs = self._round(tr, self.points, self.queries)
        self.knn_rows.append(near)
        self.dedup_rows.append(pairs)
        self.n_ops += 1
        return self.n_rows

    def candidates_per_point(self) -> float:
        out = assign_countries(self.spark, self.located, self.index)
        return out.agg(F.avg("n_candidates")).first()[0]

    def verify(self, oracle: Oracle) -> tuple[set[int], list[str]]:
        oracle.register_points("truth", self.events, self.fanout)
        oracle.register_documents(os.path.join(self.docs_dir, "documents.parquet"))
        failed_checks = []
        assigned = os.path.join(self.work, "check_assign")
        self.tamper(
            "assign", assign_countries(self.spark, self.points, self.index).select("id", "country_id")
        ).write.parquet(assigned)
        if oracle.mismatches(assigned, oracle.assignments_sql("truth"), "id, country_id"):
            failed_checks.append("assign")
        tiles = os.path.join(self.work, "check_tiles")
        self.tamper("tiles", self._tiles(self.points)).write.parquet(tiles)
        lo, hi = QUERY_ZOOMS
        want = oracle.tiles_sql("truth", hi, by_country=True, min_zoom=lo)
        if oracle.mismatches(tiles, want, "z, x, y, country_id, cnt"):
            failed_checks.append("tiles")
        failed = set(range(self.n_ops)) if failed_checks else set()

        want_knn = sorted(
            tuple(r) for r in knn_brute_force(self.located, self.queries, k=5).collect()
        )
        want_pairs = oracle.dedup_pairs()
        for i, (near, pairs) in enumerate(zip(self.knn_rows, self.dedup_rows)):
            if sorted(self.tamper("knn", near)) != want_knn:
                failed.add(i)
                failed_checks.append(f"knn[{i}]")
            if self.tamper("dedup", pairs) != want_pairs:
                failed.add(i)
                failed_checks.append(f"dedup[{i}]")
        return failed, failed_checks


class _TimedStore(SnapshotStore):
    """A SnapshotStore whose snapshot writes run in a `checkpoint.write`
    span and are recorded for checking."""

    def __init__(self, root: str):
        super().__init__(root)
        self.tr = Tracer()
        self.paths: list[str] = []

    def write_snapshot(self, df: DataFrame, kind: str = "assignments") -> str:
        with self.tr.span("checkpoint.write"):
            snap_id = super().write_snapshot(df, kind)
        self.paths.append(os.path.join(self.root, snap_id))
        return snap_id


class SyncProbe:
    """The write path, run inside a traced ingest run: the ingest pages cut
    into micro-batches in warc_ts order. Each batch runs streaming.
    incremental.IncrementalRunner.run_batch (which writes a sources.
    checkpoint.SnapshotStore snapshot), then operators.tiles.
    merge_tile_counts written as a new version of a published tile table.
    The state after each batch is checked against a one-shot oracle run
    over every batch up to it."""

    span = "sync.batch"

    def __init__(self, wl: Workload, pages: DataFrame, n_batches: int, name: str):
        self.wl = wl
        self.spark = wl.spark
        self.root = os.path.join(wl.work, name)
        base, fanout = inputs.id_base(wl.seed), wl.fanout
        # events are numbered in timestamp order, so an id range is a
        # warc_ts range: batch k holds event indices [bounds[k], bounds[k+1])
        self.bounds = [wl.n_events * k // n_batches for k in range(n_batches + 1)]
        self.batches = [
            pages.where((F.col("id") >= (base + lo) * fanout) & (F.col("id") < (base + hi) * fanout))
            for lo, hi in zip(self.bounds, self.bounds[1:])
        ]
        self.store = _TimedStore(os.path.join(self.root, "snapshots"))
        self.runner = IncrementalRunner(self.spark, wl.index, self.store)
        self.tiles_path = None
        # one record per batch: (event index bound, snapshot path, tile table path)
        self.outputs: list[tuple[int, str, str]] = []
        self.rows = 0
        self.bytes_written = 0

    def run(self, tr: Tracer, n: int) -> None:
        """Run the first `n` batches."""
        for k in range(n):
            with tr.span(self.span):
                self.store.tr = tr
                with tr.span("incremental"):
                    self.runner.run_batch(self.batches[k])
                with tr.span("merge.tiles"):
                    delta = tile_counts(
                        extract_pages(self.batches[k]), max_zoom=SYNC_ZOOM, min_zoom=SYNC_ZOOM
                    )
                    if self.tiles_path is not None:
                        delta = merge_tile_counts(self.spark.read.parquet(self.tiles_path), delta)
                    self.tiles_path = os.path.join(self.root, "tiles", f"v{k}")
                    delta.write.parquet(self.tiles_path)
            self.outputs.append((self.bounds[k + 1], self.store.paths[-1], self.tiles_path))
            self.rows += (self.bounds[k + 1] - self.bounds[k]) * self.wl.fanout
            self.bytes_written += _tree_bytes(self.store.paths[-1]) + _tree_bytes(self.tiles_path)

    def verify(self, oracle: Oracle) -> tuple[set[int], list[str]]:
        """(indices of failed batches, names of failed checks); the
        "truth" view must be registered."""
        base, fanout = inputs.id_base(self.wl.seed), self.wl.fanout
        failed, checks = set(), []
        for i, (bound, snap, tiles) in enumerate(self.outputs):
            where = f"id < {(base + bound) * fanout}"
            snap = self.wl.tamper("snapshot", snap)
            if oracle.mismatches(snap, oracle.assignments_sql("truth", where), "id, country_id"):
                failed.add(i)
                checks.append(f"sync.snapshot[{i}]")
            want = oracle.tiles_sql("truth", SYNC_ZOOM, by_country=False, where=where, min_zoom=SYNC_ZOOM)
            if oracle.mismatches(tiles, want, "z, x, y, cnt"):
                failed.add(i)
                checks.append(f"sync.tiles[{i}]")
        return failed, checks


WORKLOADS = {w.name: w for w in (Ingest, Queries)}


