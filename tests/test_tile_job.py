"""Flagship resumable tile job: interrupted run + resume == uninterrupted
run == single-pass batch result; lineage metrics recorded per batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygons_to_df,
)
from osm2geojson_spark.plans import tile_job
from osm2geojson_spark.plans.manifest import ParquetManifest, PassError, ResumableJob
from osm2geojson_spark.sources import synthetic as SYN


def _polys(spark):
    sq1 = GEO.polygon([[[-90.0, -45.0], [0.0, -45.0], [0.0, 45.0], [-90.0, 45.0], [-90.0, -45.0]]])
    sq2 = GEO.polygon([[[10.0, 10.0], [170.0, 10.0], [170.0, 80.0], [10.0, 80.0], [10.0, 10.0]]])
    return polygons_to_df(spark, [(0, sq1), (1, sq2)])


def _oracle(spark, imgs, polys):
    pts = imgs.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    joined = point_in_polygon_join(pts, polys, res=6)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), 9))
        .groupBy("poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
    )


def test_tile_job_resume_equivalence(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 3000, with_bytes=False)
    polys = _polys(spark)

    # interrupted attempt: only the first 5 coarse batches "complete"
    root = str(tmp_path / "tiles")
    pts = tile_job.image_points(imgs, 2)
    all_ids = [str(cells.pack_cell_py(2, x, y)) for x in range(4) for y in range(4)]
    from osm2geojson_spark.plans.manifest import ResumableJob

    partial = ResumableJob(ParquetManifest(root)).run(
        all_ids[:5],
        lambda bid: tile_job.tile_batch(pts, polys, int(bid), 6, 9),
        rows_in=lambda bid: pts.filter(F.col("coarse") == int(bid)).count(),
    )
    assert partial["ran"] == all_ids[:5]

    # resume: the full job skips the committed 5, runs the remaining 11
    res = tile_job.run_tile_job(spark, imgs, polys, root, count_rows_in=True)
    assert res["skipped"] == all_ids[:5]
    assert len(res["ran"]) == 11

    got = tile_job.read_tiles(spark, root)
    want = _oracle(spark, imgs, polys)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # lineage: 16 committed batches, conservation of rows
    metrics = ParquetManifest(root).read_metrics()
    assert len(metrics) == 16
    assert all(m["bytes_out"] > 0 for m in metrics)
    total_in = sum(m["rows_in"] for m in metrics if m["rows_in"] is not None)
    assert total_in == 3000  # every image lands in exactly one coarse batch


def test_tile_job_idempotent_rerun(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 500, with_bytes=False)
    polys = _polys(spark)
    root = str(tmp_path / "tiles2")
    r1 = tile_job.run_tile_job(spark, imgs, polys, root, count_rows_in=False)
    assert len(r1["ran"]) == 16 and not r1["skipped"]
    first = sorted(map(tuple, tile_job.read_tiles(spark, root).collect()))
    r2 = tile_job.run_tile_job(spark, imgs, polys, root, count_rows_in=False)
    assert len(r2["skipped"]) == 16 and not r2["ran"]
    assert sorted(map(tuple, tile_job.read_tiles(spark, root).collect())) == first


def _fused_build(imgs, polys, bad_cell=None):
    """run_tile_job's pass body; a Python UDF raises inside the write's
    task on ``bad_cell``."""

    @F.udf("double")
    def boom(coarse, lon):
        if coarse == bad_cell:
            raise ValueError(f"injected failure in cell {coarse}")
        return lon

    def build(pending):
        pts = tile_job.image_points(imgs, 2).filter(F.col("coarse").isin([int(b) for b in pending]))
        if bad_cell is not None:
            pts = pts.withColumn("lon", boom(F.col("coarse"), F.col("lon")))
        return tile_job.tile_rollup(pts, polys, 6, 9)

    return build


def _records(man):
    """{file name: (content, mtime_ns)} of every manifest record."""
    out = {}
    for name in os.listdir(man.manifest_dir):
        path = os.path.join(man.manifest_dir, name)
        with open(path) as f:
            out[name] = (f.read(), os.stat(path).st_mtime_ns)
    return out


def test_tile_job_mid_pass_failure_commits_nothing(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 3000, with_bytes=False)
    polys = _polys(spark)
    all_ids = [str(cells.pack_cell_py(2, x, y)) for x in range(4) for y in range(4)]
    root = str(tmp_path / "tiles")
    man = ParquetManifest(root)
    first = ResumableJob(man).run_pass(all_ids[:5], _fused_build(imgs, polys))
    assert first["ran"] == all_ids[:5]
    before = _records(man)

    pending = all_ids[5:]
    with pytest.raises(PassError) as err:
        ResumableJob(man).run_pass(all_ids, _fused_build(imgs, polys, bad_cell=int(all_ids[9])))
    assert err.value.batch_ids == pending
    assert all(b in str(err.value) for b in pending)
    # nothing of the failed pass committed, earlier commits untouched
    assert man.committed_batches() == set(all_ids[:5])
    assert _records(man) == before
    failed = man.read_events()[-1]
    assert failed["event"] == "pass_failed" and failed["batch_ids"] == pending
    assert "injected failure in cell" in failed["error"]

    res = tile_job.run_tile_job(spark, imgs, polys, root)
    assert res["ran"] == pending and res["skipped"] == all_ids[:5]
    clean = str(tmp_path / "clean")
    tile_job.run_tile_job(spark, imgs, polys, clean)
    got = sorted(map(tuple, tile_job.read_tiles(spark, root).collect()))
    assert got == sorted(map(tuple, tile_job.read_tiles(spark, clean).collect()))


def test_tile_job_event_log(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 500, with_bytes=False)
    root = str(tmp_path / "tiles")
    tile_job.run_tile_job(spark, imgs, _polys(spark), root, coarse_res=1)
    man = ParquetManifest(root)
    events = man.read_events()
    assert [e["event"] for e in events] == ["pass_start"] + ["commit"] * 4
    start = events[0]
    ids = sorted(man.committed_batches())
    assert sorted(start["batch_ids"]) == ids and sum(start["rows_in"].values()) == 500
    assert sorted(e["batch_id"] for e in events[1:]) == ids
    # the log sits outside manifest/: the commit log lists only batches
    assert len(man.read_metrics()) == 4


def test_tile_job_spark_jobs_independent_of_batch_count(spark, tmp_path):
    """One pass per attempt: 4 batches (coarse_res 1) and 16 batches
    (coarse_res 2) issue the same number of Spark jobs."""
    imgs = SYN.synthetic_images(spark, 500, with_bytes=False)
    polys = _polys(spark)
    sc = spark.sparkContext
    jobs = []
    for coarse_res in (1, 2):
        group = f"tile-job-coarse-{coarse_res}"
        sc.setJobGroup(group, "run_tile_job")
        try:
            res = tile_job.run_tile_job(spark, imgs, polys, str(tmp_path / group), coarse_res=coarse_res)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(res["ran"]) == 1 << (2 * coarse_res)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] > 0


def test_run_pass_rejects_batch_ids_spark_would_escape(tmp_path):
    """Batch ids are Hive partition values: one Spark would escape in the
    directory name would not land at ``batch_path``."""
    job = ResumableJob(ParquetManifest(str(tmp_path / "m")))
    with pytest.raises(ValueError, match="a/b"):
        job.run_pass(["0", "a/b"], build=None)
