"""The benchmark's workloads.

Each workload turns the seed into its inputs, runs one operation at a time
(``op``), checks the last operation's output against an oracle that does not
use the cell index (``check``), and in the traced run splits one operation
into its layers (``trace``). The program only ever sees generated DataFrames.

Layer times in ``trace`` come from three kinds of measurement, all taken from
outside the program:

* eager driver-side calls timed directly (``xml_source.parse``,
  ``normalize_documents``, ``classified_shards``, manifest commits);
* cumulative prefixes of a lazy plan forced one after another: a layer's
  time is the increase in wall time its prefix adds to the one before;
* SQL metrics of the final executed plan (``planmetrics``): rows, Python
  runner time and bytes, broadcast build time, shuffle bytes.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.functions import kernels as K
from osm2geojson_spark.functions.classify import polygon_flag_column
from osm2geojson_spark.operators import assemble as ASM
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators import spatial_join as SJ
from osm2geojson_spark.plans import pipeline as PL
from osm2geojson_spark.plans import tile_job as TJ
from osm2geojson_spark.plans.manifest import ParquetManifest, ResumableJob
from osm2geojson_spark.sources import normalize as NORM
from osm2geojson_spark.sources import synthetic as SYN
from osm2geojson_spark.sources import xml_source

from planmetrics import plan_nodes, total
from procfs import tree_cpu_s

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "tests", "data")

PIP_RES = 6
TILE_RES = 9


def nation_boxes() -> list[tuple[int, bytes, tuple]]:
    """The 25 nation rectangles of the historical flagship (5 x 5 layout,
    36 x 18 degrees each): [(poly_id, gpb, (x0, y0, x1, y1))]."""
    out = []
    for nk in range(25):
        x0 = -180.0 + (nk % 5) * 72.0
        y0 = -90.0 + (nk // 5) * 36.0
        x1, y1 = x0 + 36.0, y0 + 18.0
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        out.append((nk, GEO.polygon([ring]), (x0, y0, x1, y1)))
    return out


def images(spark: SparkSession, n: int, offset: int, parts: int) -> DataFrame:
    """``n`` synthetic image rows starting at row ``offset`` of the image index."""
    i = F.col("_i") + F.lit(offset)
    return SYN.synthetic_images(spark, n, with_bytes=False, num_partitions=parts).withColumn(
        "phash", SYN.phash_encode(SYN.lon_expr(i), SYN.lat_expr(i))
    )


def points(imgs: DataFrame) -> DataFrame:
    return imgs.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )


def force(df: DataFrame) -> tuple[DataFrame, int]:
    """Compute every column of ``df``. Returns the executed aggregate, whose
    plan ``plan_nodes`` can walk, and the row count."""
    agg = df.select(F.count(F.lit(1)).alias("n"), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31))).alias("h"))
    return agg, agg.collect()[0]["n"]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def rect_oracle(pts: DataFrame, boxes) -> dict[int, int]:
    """Points per rectangle by plain coordinate predicates (no cells)."""
    cols = [
        F.sum(((F.col("lon") >= x0) & (F.col("lon") <= x1) & (F.col("lat") >= y0) & (F.col("lat") <= y1)).cast("long")).alias(str(pid))
        for pid, _, (x0, y0, x1, y1) in boxes
    ]
    row = pts.agg(*cols).collect()[0]
    return {pid: int(row[str(pid)]) for pid, _, _ in boxes if row[str(pid)]}


def per_poly(tiles: DataFrame, col: str) -> dict[int, int]:
    return {int(r["poly_id"]): int(r["n"]) for r in tiles.groupBy("poly_id").agg(F.sum(col).alias("n")).collect()}


def _is_map_in_pandas(node) -> bool:
    return node["name"] == "MapInPandas"


def _under_map_in_pandas(node) -> bool:
    return "MapInPandas" in node["path"]


class Workload:
    name = ""
    attempts_per_op = 1

    def __init__(self, spark: SparkSession, seed: int, work: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores

    def rng(self, k: int) -> random.Random:
        return random.Random(f"{self.name}:{self.seed}:{k}")

    def op(self, k: int) -> dict:
        """Runs operation ``k``. Returns {"items": items processed,
        "cpu_s": the process tree's CPU seconds (``procfs.tree_cpu_s``)
        spent on them, "rate_s": the wall seconds they took, "wall_s": the
        operation's measured wall time, "units": (items, wall seconds) of
        each unit of work (a batch, a conversion), "attempts": operations
        attempted}."""
        raise NotImplementedError

    def check(self) -> bool:
        raise NotImplementedError

    def trace(self, k: int, spans) -> dict[str, float]:
        raise NotImplementedError


def spatial_layers(boxes, nodes, spans) -> dict[str, float]:
    """Shard classification (a direct, unmemoized call) plus the join's
    executed-plan metrics."""
    polys = [(p, g) for p, g, _ in boxes]
    with spans.span("spatial_join.classify"):
        (inside, boundary, _), t_cls = timed(lambda: SJ.classified_shards(polys, PIP_RES))
    compacted = cells.compact_cells_py(inside, PIP_RES)
    joins = [n for n in nodes if n["name"] == "BroadcastHashJoin"]
    cand = total(joins, "numOutputRows", _under_map_in_pandas)
    kept = total(nodes, "pythonNumRowsReceived", _is_map_in_pandas)
    return {
        "spatial_join.classify_s": t_cls,
        "spatial_join.shards_inside": len(inside),
        "spatial_join.shards_boundary": len(boundary),
        "spatial_join.shards_compacted": len(compacted),
        "spatial_join.interior_rows": total(joins, "numOutputRows", lambda n: not _under_map_in_pandas(n)),
        "spatial_join.broadcast_build_s": total(nodes, "buildTime", lambda n: n["name"] == "BroadcastExchange"),
        "spatial_join.candidates": cand,
        "spatial_join.refine_kept": kept,
        "spatial_join.refine_keep_ratio": kept / cand if cand and kept is not None else None,
        "spatial_join.refine_python_s": total(nodes, "pythonTotalTime", _is_map_in_pandas),
        "spatial_join.refine_bytes_sent": total(nodes, "pythonDataSent", _is_map_in_pandas),
    }


class TileJob(Workload):
    """The production path: ``run_tile_job`` into a fresh root, then a kill
    (the manifest records of the last batches are deleted, their data files
    kept) and a resume that must reproduce the uninterrupted output."""

    name = "tile_job"
    N = 1_000_000
    COARSE_RES = 1  # 4 batches

    def __init__(self, *a):
        super().__init__(*a)
        self.boxes = nation_boxes()
        self.polys_df = SJ.polygons_to_df(self.spark, [(p, g) for p, g, _ in self.boxes])
        self.n_batches = 1 << (2 * self.COARSE_RES)
        self.attempts_per_op = self.n_batches + self.n_batches // 2
        self.last = None

    def _root(self, k):
        root = os.path.join(self.work, f"tiles-{k}")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def _run(self, imgs, root):
        return TJ.run_tile_job(self.spark, imgs, self.polys_df, root, res=PIP_RES, tile_res=TILE_RES, coarse_res=self.COARSE_RES)

    def _kill(self, root) -> list[str]:
        """Deletes the commit records of the last half of the batches, in
        commit order; returns their batch ids."""
        recs = sorted(glob.glob(os.path.join(root, "manifest", "batch=*.json")), key=os.path.getmtime)
        lost = recs[len(recs) // 2 :]
        for p in lost:
            os.remove(p)
        return [os.path.basename(p)[len("batch=") : -len(".json")] for p in lost]

    @staticmethod
    def _batches(root, t_start, names=None) -> list[tuple[int, float]]:
        """(rows_in, seconds) per batch, in commit order: a batch's seconds
        are the gap between its commit record's mtime and the one before
        (or the start of the call, for the first)."""
        recs = glob.glob(os.path.join(root, "manifest", "batch=*.json"))
        if names is not None:
            recs = [p for p in recs if os.path.basename(p)[len("batch=") : -len(".json")] in names]
        recs.sort(key=os.path.getmtime)
        out, prev = [], t_start
        for p in recs:
            with open(p) as f:
                rows = json.load(f)["rows_in"]
            t = os.path.getmtime(p)
            out.append((rows, t - prev))
            prev = t
        return out

    def op(self, k):
        imgs = images(self.spark, self.N, self.rng(k).randrange(1 << 30), self.cores)
        root = self._root(k)
        c0, t0 = tree_cpu_s(os.getpid()), time.time()
        res = self._run(imgs, root)
        fresh_s, cpu_s = time.time() - t0, tree_cpu_s(os.getpid()) - c0
        units = self._batches(root, t0)
        snapshot = sorted(tuple(r) for r in TJ.read_tiles(self.spark, root).collect())
        lost = self._kill(root)
        c1, t1 = tree_cpu_s(os.getpid()), time.time()
        again = self._run(imgs, root)
        resume_s, cpu_s = time.time() - t1, cpu_s + tree_cpu_s(os.getpid()) - c1
        resumed = self._batches(root, t1, set(lost))
        self.last = (imgs, root, snapshot, res, again, lost)
        # images processed: all N by the fresh run, the killed batches' again
        return {"items": self.N + sum(n for n, _ in resumed), "cpu_s": cpu_s, "rate_s": fresh_s + resume_s,
                "wall_s": fresh_s + resume_s, "units": units + resumed,
                "attempts": len(res["ran"]) + len(again["ran"])}

    def check(self):
        imgs, root, snapshot, res, again, lost = self.last
        tiles = TJ.read_tiles(self.spark, root)
        resumed = sorted(tuple(r) for r in tiles.collect())
        man = ParquetManifest(root).read_metrics()
        return (
            len(res["ran"]) == self.n_batches
            and sorted(again["ran"]) == sorted(lost)
            and len(again["skipped"]) == self.n_batches - len(lost)
            and resumed == snapshot
            and sum(r["rows_in"] for r in man) == self.N
            and per_poly(tiles, "n_images") == rect_oracle(points(imgs), self.boxes)
        )

    def trace(self, k, spans):
        """run_tile_job's own steps, called one by one with spans around the
        checkpoint, each batch, its rows_in count and its manifest commit;
        then the kill and a resume through run_tile_job itself. Before that,
        outside the operation, the flagship join is split into its layers
        on the first batch by forcing cumulative prefixes of its plan."""
        imgs = images(self.spark, self.N, self.rng(k).randrange(1 << 30), self.cores)
        n = 1 << self.COARSE_RES
        batch_ids = [str(cells.pack_cell_py(self.COARSE_RES, x, y)) for x in range(n) for y in range(n)]
        out = self._split_pip(imgs, int(batch_ids[0]), spans)

        root = self._root(k)
        man = ParquetManifest(root)
        commit = man.commit

        def traced_commit(bid, metrics):
            with spans.span("manifest.commit"):
                commit(bid, metrics)

        man.commit = traced_commit
        job = ResumableJob(man)
        scans = []

        def rows_in(bid):
            with spans.span("tile_job.rows_in"):
                agg = pts.filter(F.col("coarse") == int(bid)).groupBy().count()
                n_in = agg.collect()[0][0]
            scans.append(total(plan_nodes(agg), "numOutputRows", lambda x: x["name"] == "Scan ExistingRDD"))
            return n_in

        with spans.span("op"):
            pts = TJ.image_points(imgs, self.COARSE_RES).localCheckpoint(eager=False)
            with spans.span("tile_job.checkpoint"):
                pts.count()
            for bid in batch_ids:
                with spans.span("tile_job.batch"):
                    job.run([bid], lambda b: TJ.tile_batch(pts, self.polys_df, int(b), PIP_RES, TILE_RES), rows_in=rows_in)
            self._kill(root)
            with spans.span("manifest.resume"):
                again = self._run(imgs, root)
        st = spans.self_times()
        recs = ParquetManifest(root).read_metrics()
        layers = ("tile_job.checkpoint", "tile_job.batch", "tile_job.rows_in", "manifest.commit", "manifest.resume")
        out.update({
            "tile_job.checkpoint_s": st["tile_job.checkpoint"],
            "tile_job.batch_s": st["tile_job.batch"] / len(batch_ids),
            "tile_job.rows_in_s": st["tile_job.rows_in"],
            "tile_job.scan_ratio": sum(scans) / self.N if None not in scans else None,
            "manifest.commit_s": st["manifest.commit"],
            "manifest.bytes_out": sum(r["bytes_out"] for r in recs),
            "manifest.skipped": len(again["skipped"]),
            "manifest.resume_s": st["manifest.resume"],
            "trace.layers_s": sum(st[x] for x in layers),
        })
        return out

    def _split_pip(self, imgs, coarse_cell, spans) -> dict:
        pts = points(imgs)
        withcell = pts.withColumn("coarse", cells.cell_id(F.col("lon"), F.col("lat"), self.COARSE_RES))
        sub = withcell.filter(F.col("coarse") == coarse_cell).drop("coarse")
        with spans.span("synthetic.points"):
            _, t_pts = timed(lambda: force(pts.select("lon", "lat")))
        with spans.span("cells.cell_id"):
            _, t_cell = timed(lambda: force(sub.select("lon", "lat")))
        with spans.span("spatial_join.pip"):
            # the join's driver-side part (polygon collect, shard memo,
            # broadcast tables) runs when the plan is built
            joined, t_call = timed(lambda: SJ.point_in_polygon_join(sub, self.polys_df, res=PIP_RES))
            _, t_pip = timed(lambda: force(joined.select("poly_id")))
        tiled = (
            joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), TILE_RES))
            .groupBy("poly_id", "tile")
            .agg(F.count("*").alias("n"))
        )
        with spans.span("spatial_join.tile_rollup"):
            (final, _), t_all = timed(lambda: force(tiled))
        out = spatial_layers(self.boxes, plan_nodes(final), spans)
        out.update({
            "synthetic.points_s": t_pts,
            "cells.cell_id_s": t_cell - t_pts,
            "spatial_join.pip_s": t_call + t_pip - t_cell,
            "spatial_join.tile_rollup_s": t_all - t_pip,
        })
        return out


FIXTURES = ["issue-54-staffordshire.osm", "issue-35.json", "map.osm"]


def parse_fixtures() -> dict[str, list[dict]]:
    docs = {}
    for name in FIXTURES:
        with open(os.path.join(DATA, name), encoding="utf-8") as f:
            text = f.read()
        docs[name] = xml_source.parse(text)["elements"] if name.endswith(".osm") else json.loads(text)["elements"]
    return docs


class OsmConvert(Workload):
    """``synthetic_osm_frames`` (many tiny multipolygon relations, shifted by
    a seed-derived offset) -> ``build_features`` -> ``write_geojson_lines``
    into a fresh directory."""

    name = "osm_convert"
    N_REL = 5_000

    def __init__(self, *a):
        super().__init__(*a)
        self.n_elements = None
        self.last = None

    def _frames(self, k):
        rng = self.rng(k)
        dx, dy = rng.uniform(-1, 1), rng.uniform(-1, 1)
        fr = SYN.synthetic_osm_frames(self.spark, self.N_REL)
        nodes = fr.nodes.withColumn("lon", F.col("lon") + F.lit(dx)).withColumn("lat", F.col("lat") + F.lit(dy))
        if self.n_elements is None:  # counted from the generated frames, untimed
            self.n_elements = nodes.count() + fr.ways.count() + fr.relations.count()
        return fr._replace(nodes=nodes), (dx, dy)

    def _out(self, k):
        path = os.path.join(self.work, f"geojson-{k}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def op(self, k):
        frames, shift = self._frames(k)
        path = self._out(k)
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        features, _ = PL.build_features(self.spark, frames, materialize="cache")
        PL.write_geojson_lines(features, path)
        dt, cpu_s = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0
        self.spark.catalog.clearCache()
        self.last = (path, shift)
        return {"items": self.n_elements, "rate_s": dt, "cpu_s": cpu_s, "wall_s": dt, "units": [(self.n_elements, dt)], "attempts": 1}

    def check(self):
        """Closed-form truth of the corpus: one feature per relation, with
        the rectangle's area minus the hole's, at the shifted position."""
        path, (dx, dy) = self.last
        out = PL.read_geojson_lines(self.spark, path)
        feats = out.get("d", [])
        if set(out) != {"d"} or len(feats) != self.N_REL:
            return False
        seen = set()
        for f in feats:
            n = f["properties"]["id"] - 2_000_000_000
            seen.add(n)
            rings = [np.asarray(r, dtype=np.float64) for r in f["geometry"]["coordinates"][0]]
            wd = 0.2 + (n % 3) * 0.05
            ht = 0.2 + (n % 5) * 0.02
            want = wd * ht - (0.05**2 if n % 2 == 0 else 0.0)
            area = abs(K.signed_area(rings[0])) - sum(abs(K.signed_area(h)) for h in rings[1:])
            x0 = -178.0 + (n % 890) * 0.4 + dx
            y0 = -88.0 + ((n // 890) % 390) * 0.45 + dy
            if (
                len(rings) != (2 if n % 2 == 0 else 1)
                or abs(area - want) > 1e-9
                or abs(rings[0][:, 0].min() - x0) > 1e-9
                or abs(rings[0][:, 1].min() - y0) > 1e-9
            ):
                return False
        return seen == set(range(self.N_REL))

    def trace(self, k, spans):
        """Parse and normalize are timed on the three fixture documents by
        direct call (they are not part of the operation, which starts from
        frames). The driver-side planning is timed by direct call, then the
        conversion is split by forcing its prefixes in turn: resolved ways
        (cached, as ``build_features`` caches them), relation shapes, the
        used-refs set, the features (which recompute both), then the sink
        (which recomputes the features); each layer's time is what its
        prefix adds."""
        with spans.span("xml_source.parse"):
            docs, t_parse = timed(parse_fixtures)
        with spans.span("normalize.documents"):
            _, t_norm = timed(lambda: NORM.normalize_documents(self.spark, docs))
        frames, _ = self._frames(k)
        path = self._out(k)

        def plan():
            ways = ASM.resolve_ways(frames).drop("coords_arr").cache()
            rels_flagged = frames.relations.withColumn(
                "is_poly", polygon_flag_column(F.col("tags"), F.lit(None).cast("boolean"), None, None)
            )
            return ways, ASM.assemble_relations(frames, ways, rels_flagged), PL.used_ref_ids(frames, ways, rels_flagged)

        with spans.span("op"):
            # building the plans is driver-side work the operation does too
            with spans.span("pipeline.plan"):
                (ways, rel_shapes, used), t_plan = timed(plan)
            with spans.span("assemble.resolve_ways"):
                (agg_w, n_ways), t_ways = timed(lambda: force(ways))
            with spans.span("assemble.relations"):
                (agg_r, _), t_rel = timed(lambda: force(rel_shapes))
            with spans.span("pipeline.used_refs"):
                (_, n_used), t_used = timed(lambda: force(used))
            # build_features finds the cached ways above and reuses them
            with spans.span("pipeline.build"):
                (features, failures), t_build = timed(lambda: PL.build_features(self.spark, frames, materialize="cache"))
            with spans.span("pipeline.features"):
                (agg_f, n_feat), t_feat = timed(lambda: force(features.select("doc_id", "seq", "etype", "id", "gpb", "props")))
            with spans.span("pipeline.sink"):
                _, t_sink = timed(lambda: PL.write_geojson_lines(features, path))
        n_fail = failures.filter(F.col("reason") != "unsupported_type").count()
        self.spark.catalog.clearCache()
        kernel = plan_nodes(agg_r)
        sink_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "doc_id=*", "part-*")))
        # the cached ways once, then everything the features run above them
        shuffle = [
            total(plan_nodes(a), "shuffleBytesWritten", lambda x, d=depth: x["path"].count("InMemoryTableScan") <= d)
            for a, depth in ((agg_w, 1), (agg_f, 0))
        ]
        return {
            "xml_source.parse_s": t_parse,
            "normalize.documents_s": t_norm,
            "assemble.resolve_ways_s": t_ways,
            "assemble.resolve_ways_rows": n_ways,
            "assemble.relations_s": t_rel,
            "assemble.kernel_python_s": total(kernel, "pythonTotalTime", _is_map_in_pandas),
            "assemble.kernel_rows": total(kernel, "pythonNumRowsReceived", _is_map_in_pandas),
            "assemble.failed_elements": n_fail,
            "pipeline.used_refs_s": t_used,
            "pipeline.used_ref_rows": n_used,
            "pipeline.features_s": t_plan + t_build + t_feat - t_rel - t_used,
            "pipeline.kept_ratio": n_feat / self.n_elements,
            "pipeline.shuffle_bytes": sum(shuffle) if None not in shuffle else None,
            "pipeline.sink_s": t_sink - t_feat,
            "pipeline.sink_bytes_per_feature": sink_bytes / n_feat,
            "trace.layers_s": t_plan + t_ways + t_build + t_sink,
        }


WORKLOADS = {w.name: w for w in (TileJob, OsmConvert)}


median = statistics.median
