"""The two workloads, coverage and graft_join, and ingest, which rides on
coverage's traced run. Each one prepares its seeded inputs outside Spark,
sets up (builds its DataFrames and runs untimed passes), runs timed
iterations made of steps, checks its outputs, and turns the trace into
per-layer metrics.

Every step is a call into the program's public surface (``registry``
queries through ``bench._query``, ``operators.*``, ``geo.*``,
``images.ops``, ``sources.tables``, ``streaming.*``), timed from outside.
Traced iterations add steps that materialise successive prefixes of the
flagship pipeline, so a stage's self time is its prefix minus the prefixes
it re-runs.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse

import numpy as np

import inputs
import measure


def noop(df) -> None:
    """Materialise every output column without keeping the rows."""
    df.write.mode("overwrite").format("noop").save()


class Workload:
    name = ""
    checked: list[str] = []  # queries compared with their DuckDB oracle
    replica = {"mult": 0.1, "doc_mult": 0.1, "emb_mult": 0.25}
    setup_passes = 1  # untimed passes at target size before the window
    # workloads that only a traced run of this one measures, for their
    # per-layer metrics: each rides on the same session after the window
    riders: tuple[type, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.cache = inputs.SeedCache(ctx.cache_root, self.name, ctx.seed)
        self.meta: dict = {}

    # -- inputs (outside timing and set-up) ---------------------------------
    def prepare(self) -> dict:
        def build(d: str) -> dict:
            sf = os.path.join(d, "replica")
            rows = inputs.generate_replica(sf, self.ctx.seed, **self.replica)
            meta = {"rows": rows,
                    "oracle": inputs.oracle_results(sf, self.checked, d)}
            meta.update(self.prepare_extra(d, sf))
            return meta

        self.meta = self.cache.build(build)
        self.sf_dir = os.path.join(self.cache.dir, "replica")
        return self.meta

    def prepare_extra(self, cache_dir: str, sf_dir: str) -> dict:
        return {}

    # -- hooks ---------------------------------------------------------------
    def setup(self, spark) -> None:
        raise NotImplementedError

    def steps(self, traced: bool) -> list[tuple[str, callable]]:
        raise NotImplementedError

    check_each_iteration = False

    def after_iteration(self, traced: bool = False) -> None:
        pass

    def around_step(self, name: str, before: bool) -> None:
        """Called outside the timed region before and after each step."""

    def check(self) -> list[tuple[str, list[str]]]:
        return []

    def spark_layers(self) -> dict[str, float]:
        """Per-layer values that need the session (traced runs, before stop)."""
        return {}

    def layer_metrics(self, steps: dict[str, list[float]], elog) -> dict:
        """Per-layer values from the traced steps' self times (by step name)
        and the event log."""
        return {}

    def run_layers(self) -> dict[str, float]:
        """Values measured in every run, traced or not."""
        return {}

    def compare_oracle(self, name: str, got) -> tuple[str, list[str]]:
        """Equal digests settle it; otherwise compare with float tolerance."""
        if inputs.frame_digest(got) == self.meta["oracle"][name]["digest"]:
            return name, []
        return name, inputs.compare(got, inputs.load_oracle(self.cache.dir, name))


# ---------------------------------------------------------------------------
# coverage: the nightly ALKIS-vs-OSM diff
# ---------------------------------------------------------------------------

STATS_COLS = ["state", "district", "total", "missing", "corrections", "coverage"]
EXPORT_COLS = ["street", "housenumber", "matched", "alkis_id", "district", "state"]
FLAG_COLS = ["state", "district", "found_in_osm", "correction_type"]


class Coverage(Workload):
    name = "coverage"
    checked = ["coverage_district_stats", "coverage_export"]
    # The first pass (set-up's collect of the stats the check compares)
    # takes the JVM's cold start; the flagship keeps getting faster for
    # several passes after it (JIT of the driver-side planner), so one more
    # untimed pass follows. A warm pass over an sf0.001-sized replica, as
    # bench.py runs, would cost about as much as one at target size: a pass
    # here is per-query overhead, not data.
    setup_passes = 1

    def setup(self, spark) -> None:
        from osm_coverage_spark.operators import coverage, sinks
        from osm_coverage_spark.sources import derived

        self.spark = spark
        self.export_dir = os.path.join(self.ctx.run_dir, "export")
        derived.register_derived_views(spark, self.sf_dir)
        self.out = coverage.coverage_pipeline(spark.table("alkis"), spark.table("osm"))
        spark.sparkContext.setJobDescription(f"{self.name}/setup")
        self.stats = self.out["district_stats"].select(*STATS_COLS).toPandas()
        sinks.write_district_features(self.out["export"], self.export_dir)

    def steps(self, traced):
        from osm_coverage_spark.operators import sinks
        from osm_coverage_spark.sources import derived

        out = self.out
        prefixes = [
            ("views", lambda: derived.register_derived_views(self.spark, self.sf_dir)),
            ("alkis_prepared", lambda: noop(out["alkis_prepared"])),
            ("osm_prepared", lambda: noop(out["osm_prepared"])),
            ("flagged", lambda: noop(out["flagged"])),
            # the stats read four columns of the flagged rows; a prefix with
            # every column would cost more than the stats themselves
            ("flagged_narrow", lambda: noop(out["flagged"].select(*FLAG_COLS))),
        ]
        outputs = [
            ("district_stats", lambda: noop(out["district_stats"])),
            ("export", lambda: sinks.write_district_features(out["export"],
                                                             self.export_dir)),
        ]
        return (prefixes if traced else []) + outputs

    def read_export(self):
        """Rows of the written feature files, with the partition values."""
        import pandas as pd

        rows = []
        for dirpath, _, files in os.walk(self.export_dir):
            parts = dict(urllib.parse.unquote(p).split("=", 1)
                         for p in os.path.relpath(dirpath, self.export_dir).split(os.sep)
                         if "=" in p)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    for line in fh:
                        if line.strip():
                            p = json.loads(line)["properties"]
                            rows.append((p.get("street"), p.get("housenumber"),
                                         p.get("matched"), p.get("alkis_id"),
                                         parts.get("district"), parts.get("state")))
        return pd.DataFrame(rows, columns=EXPORT_COLS)

    def check(self):
        """The set-up pass's stats and the last timed iteration's export."""
        return [self.compare_oracle("coverage_district_stats", self.stats),
                self.compare_oracle("coverage_export", self.read_export())]

    def spark_layers(self):
        prepared = self.out["alkis_prepared"].count()
        return {"coverage.expand_ratio": prepared / max(1, self.meta["alkis_rows"])}

    def layer_metrics(self, steps, elog):
        d = {k: measure.median(steps.get(k, []))
             for k in ("views", "alkis_prepared", "osm_prepared", "flagged",
                       "flagged_narrow", "district_stats", "export")}
        return {
            "derived.views_s": d["views"],
            "coverage.prepare_alkis_s": d["alkis_prepared"],
            "coverage.prepare_osm_s": d["osm_prepared"],
            "coverage.flag_found_s": measure.prefix_delta(
                d, "flagged", ("alkis_prepared", "osm_prepared")),
            "coverage.stats_s": measure.prefix_delta(
                d, "district_stats", ("flagged_narrow",)),
            "sinks.write_s": measure.prefix_delta(d, "export", ("flagged",)),
            "sinks.bytes_written": float(measure.tree_bytes(self.export_dir)),
        }

    def prepare_extra(self, cache_dir, sf_dir):
        con = inputs.duckdb_conn(sf_dir)
        try:
            from osm_coverage_spark.sources import derived

            n = con.execute(derived.oracle_prelude_alkis_osm()
                            + " SELECT count(*) FROM alkis").fetchone()[0]
        finally:
            con.close()
        return {"alkis_rows": int(n)}


# ---------------------------------------------------------------------------
# graft_join: the read side of the image/caption graft payload
# ---------------------------------------------------------------------------

GRAFT_QUERIES = ["pip_zones", "knn_images", "phash_neardup", "tile_pyramid",
                 "ann_topk", "dedup_minhash_lsh"]
GRAFT_LAYER = {"pip_zones": "pip.s", "knn_images": "knn.s",
               "phash_neardup": "phash.s", "tile_pyramid": "pyramid.s",
               "ann_topk": "ann.s", "dedup_minhash_lsh": "minhash.s"}


def band_pairs(phash: np.ndarray) -> int:
    """Id pairs that share a phash band value, counted once per band."""
    from osm_coverage_spark.queries_graft import PHASH_BAND

    total = 0
    for band in (phash % PHASH_BAND, (phash >> 20) % PHASH_BAND, phash >> 40):
        _, counts = np.unique(band, return_counts=True)
        total += int((counts * (counts - 1) // 2).sum())
    return total


class GraftJoin(Workload):
    name = "graft_join"
    checked = GRAFT_QUERIES
    # the untimed pass at target size is set-up's collect of every result,
    # which the check then compares: a second pass only for the check would
    # cost as much as a timed iteration
    setup_passes = 0

    def setup(self, spark) -> None:
        import bench

        self.spark = spark
        self.dfs = {q: bench._query(q)(spark, self.sf_dir) for q in GRAFT_QUERIES}
        self.results = {q: df.toPandas() for q, df in self.dfs.items()}

    def steps(self, traced):
        return [(q, lambda df=df: noop(df)) for q, df in self.dfs.items()]

    def check(self):
        return [self.compare_oracle(q, self.results[q]) for q in GRAFT_QUERIES]

    def spark_layers(self):
        """Candidate pairs of phash_neardup's band self-join, counted from
        its input: every id pair sharing one of the three 20-bit bands,
        once per band (what ``operators.skew.banded_self_pairs`` emits
        before the Hamming filter and the distinct)."""
        ph = self.spark.table("images").select("phash").toPandas()["phash"]
        pairs = band_pairs(ph.to_numpy(np.int64))
        found = len(self.results["phash_neardup"])
        return {"skew.pair_yield": found / pairs if pairs else 0.0}

    def layer_metrics(self, steps, elog):
        out = {GRAFT_LAYER[q]: measure.median(steps.get(q, [])) for q in GRAFT_QUERIES}
        pip = lambda s: s.startswith("graft_join/u") and s.endswith("/pip_zones")  # noqa: E731
        n_pip = max(1, len({s for s in elog.exec_desc.values() if pip(s)}))
        cand = elog.sql_metric(pip, "MapInPandas", "", inputs=True) / n_pip
        zones = self.results["pip_zones"]
        hits = int((zones["zone"] != "none").sum())
        out.update({
            "pip.candidates": cand,
            "pip.hit_ratio": hits / cand if cand else 0.0,
        })
        return out


# ---------------------------------------------------------------------------
# ingest: ticks of inserts/updates/deletes against the versioned table
# ---------------------------------------------------------------------------

def sym_diff_rows(a, b) -> int:
    """Rows in one multiset and not the other (``exceptAll`` both ways)."""
    return a.exceptAll(b).unionByName(b.exceptAll(a)).count()


MAX_TICKS = 6  # cached change batches: a traced run uses three
CHANGE_FRAC = 0.05
KEEP_SNAPSHOTS = 3
TICK_SHIFT = 2 ** 56  # work cell = tick * 2^56 + res-12 geocell


class Ingest(Workload):
    """Not a workload of its own (a third set of runs would not fit the
    benchmark's time budget): it rides on coverage's traced run."""
    name = "ingest"
    checked = []
    replica = {"mult": 0.01, "doc_mult": 0.02, "emb_mult": 0.25}

    def prepare_extra(self, cache_dir, sf_dir):
        base = inputs.base_images(sf_dir)
        inputs.write_base(base, os.path.join(cache_dir, "base"))
        ticks = inputs.tick_batches(base, self.ctx.seed, MAX_TICKS, CHANGE_FRAC,
                                    cache_dir)
        return {"base_rows": len(base), "ticks": ticks}

    check_each_iteration = True

    # step -> the directory group its writes are charged to
    STEP_GROUP = {"checkpoint": "checkpoint", "merge": "tables",
                  "read_changes": "tables", "expire": "tables",
                  "pyramid": "incremental", "sync": "incremental"}

    def setup(self, spark) -> None:
        from osm_coverage_spark.queries_graft import pyramid_counts
        from osm_coverage_spark.sources import tables
        from osm_coverage_spark.streaming import incremental

        self.spark = spark
        r = self.ctx.run_dir
        self.target = os.path.join(r, "tbl", "images")
        self.mirror = os.path.join(r, "tbl", "mirror")
        self.control = os.path.join(r, "tbl", "sync_control")
        self.ledger = os.path.join(r, "tbl", "ledger")
        self.features = os.path.join(r, "tbl", "features")
        self.pyr = [os.path.join(r, "tbl", "pyramid_a"), os.path.join(r, "tbl", "pyramid_b")]
        shutil.copytree(os.path.join(self.cache.dir, "base"), self.target)
        live = tables.read_table(spark, self.target).filter("NOT deleted")
        tables.write_table(pyramid_counts(live), self.pyr[0])
        incremental.sync_incremental(spark, self.target, self.mirror, self.control)
        self.tick = 0
        self.traced_ticks: list[int] = []
        self.tick_bytes: dict[str, int] = {}
        self.bytes_per_tick: list[dict[str, int]] = []

    def watched(self) -> tuple[str, ...]:
        """Directories whose writes count toward write_amp: the table, its
        snapshots and log, the mirror, the pyramid and the ledger."""
        t = self.target
        return (t, t + "__snapshots", t + "__snaplog.json", self.mirror,
                *self.pyr, self.ledger)

    def around_step(self, name, before):
        group = self.STEP_GROUP.get(name)
        if group is None:
            return
        if before:
            self._index = measure.file_index(*self.watched())
        else:
            n = measure.bytes_written(self._index, measure.file_index(*self.watched()))
            self.tick_bytes[group] = self.tick_bytes.get(group, 0) + n

    def steps(self, traced):
        from pyspark.sql import functions as F

        from osm_coverage_spark.geo import cells
        from osm_coverage_spark.images import ops
        from osm_coverage_spark.sources import tables
        from osm_coverage_spark.streaming import checkpoint, incremental

        spark, k = self.spark, self.tick
        batch_path = os.path.join(self.cache.dir, f"tick-{k}.parquet")

        def arrivals(j: int):
            df = spark.read.parquet(os.path.join(self.cache.dir, f"tick-{j}.parquet"))
            return df.filter("NOT deleted").withColumn(
                "cell", F.lit(j) * F.lit(TICK_SHIFT)
                + cells.cell_expr(F.col("lat"), F.col("lon"), 12))

        # at-least-once delivery: the previous batch is offered again and
        # the ledger skips its completed cells
        work = arrivals(k) if k == 0 else arrivals(k).unionByName(arrivals(k - 1))
        self.work_cells = work.select("cell").distinct()

        def process(todo):
            feats = ops.extract_features_int(todo.select("image_id", "bytes"))
            return feats.join(todo.select("image_id", "cell"), "image_id")

        def run_features():
            self.resume = checkpoint.run_with_resume(
                spark, work, process, self.features, self.ledger, run_id=f"tick{k}")

        def merge():
            batch = spark.read.parquet(batch_path).select(*inputs.IMAGE_COLS)
            tables.merge_upsert(spark, self.target, batch, ("image_id",))

        def read_changes():
            v = tables.current_version(self.target)
            self.changes = tables.read_changes(spark, self.target, v - 1, v).persist()
            self.change_rows = self.changes.count()

        def pyramid():
            src, dst = self.pyr[k % 2], self.pyr[(k + 1) % 2]
            live_changes = self.changes.filter("NOT deleted")
            new = incremental.maintain_pyramid(spark.read.parquet(src), live_changes)
            tables.write_table(new, dst)
            self.changes.unpersist()

        def sync():
            incremental.sync_incremental(spark, self.target, self.mirror, self.control)

        def expire():
            tables.expire_snapshots(self.target, keep_last=KEEP_SNAPSHOTS)

        codec = [("codec", lambda: noop(ops.extract_features_int(
            arrivals(k).select("image_id", "bytes"))))]
        return (codec if traced else []) + [
            ("checkpoint", run_features), ("merge", merge),
            ("read_changes", read_changes), ("pyramid", pyramid),
            ("sync", sync), ("expire", expire),
        ]

    def after_iteration(self, traced=False):
        self.bytes_per_tick.append(dict(self.tick_bytes,
                                        batch=self.meta["ticks"][self.tick]["bytes"]))
        if traced:
            self.traced_ticks.append(self.tick)
        self.tick_bytes = {}
        self.tick += 1
        if self.tick >= MAX_TICKS:
            raise RuntimeError(f"ingest ran out of its {MAX_TICKS} cached ticks")

    def pyramid_path(self) -> str:
        return self.pyr[self.tick % 2]

    def check(self):
        from osm_coverage_spark.queries_graft import pyramid_counts
        from osm_coverage_spark.sources import tables

        spark = self.spark
        live = tables.read_table(spark, self.target)
        mirror = spark.read.parquet(self.mirror)
        problems = []
        n = sym_diff_rows(mirror, live)
        if n:
            problems.append(f"mirror differs from the live table in {n} rows")
        kept = spark.read.parquet(self.pyramid_path())
        n = sym_diff_rows(kept, pyramid_counts(live.filter("NOT deleted")))
        if n:
            problems.append(f"maintained pyramid differs from a rebuild in {n} rows")
        return [(f"tick{self.tick}", problems)]

    def spark_layers(self):
        """Share of the last tick's work cells the ledger skipped."""
        total = self.work_cells.count()
        skipped = 1.0 - self.resume["cells_processed"] / total if total else 0.0
        return {"checkpoint.cells_skipped_ratio": skipped}

    def layer_metrics(self, steps, elog):
        d = {k: measure.median(v) for k, v in steps.items()}
        mpx = sum(self.meta["ticks"][t]["mpx"] for t in self.traced_ticks)
        codec_s = sum(steps.get("codec", []))
        per_tick = lambda g: measure.median(  # noqa: E731
            [b.get(g, 0) for b in self.bytes_per_tick])
        med = lambda k: d.get(k, 0.0)  # noqa: E731
        return {
            "codec.s": med("codec"),
            "codec.mpx_per_s": mpx / codec_s if codec_s else 0.0,
            "checkpoint.run_s": med("checkpoint") - med("codec"),
            "tables.merge_s": med("merge"),
            "tables.read_changes_s": med("read_changes"),
            "tables.change_rows": float(self.change_rows),
            "tables.expire_s": med("expire"),
            "tables.bytes_written": per_tick("tables"),
            "incremental.pyramid_s": med("pyramid"),
            "incremental.sync_s": med("sync"),
            "incremental.bytes_written": per_tick("incremental"),
        }

    def run_layers(self):
        """write_amp: bytes written under the table, snapshot, mirror,
        pyramid and ledger directories in a tick over the parquet bytes of
        that tick's changed rows (median over ticks). space_amp: bytes on
        disk of the live table, retained snapshots, mirror and pyramid over
        the live table's bytes, at run end."""
        amp = [sum(v for k, v in b.items() if k != "batch") / b["batch"]
               for b in self.bytes_per_tick]
        t = self.target
        on_disk = measure.tree_bytes(t, t + "__snapshots", self.mirror,
                                     self.pyramid_path())
        return {"write_amp": measure.median(amp),
                "space_amp": on_disk / measure.tree_bytes(t)}


Coverage.riders = (Ingest,)

WORKLOADS = {w.name: w for w in (Coverage, GraftJoin)}
