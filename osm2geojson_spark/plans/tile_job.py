"""The flagship production job (north rule): spatial-join + tile-assignment
over the image table, **resumable** with per-partition lineage.

Work is partitioned by coarse cell (the batch/resume unit — on a partitioned
Iceberg/Parquet table this predicate prunes file scans). Each attempt is ONE
pass over the batches not yet committed: their points are checkpointed once,
one grouped count of that checkpoint gives every batch's ``rows_in``, one
PIP join + tile rollup grouped by (coarse, poly_id, tile) lands every batch
in a single write partitioned by batch, and then each batch commits its own
atomic lineage record (rows_in, rows_out, bytes_out, wall_s); ``rows_out``
comes from the batch's Parquet footers. A restart anti-joins committed
batches and processes only the remainder; the final manifest is identical
to an uninterrupted run (pinned by tests).

Why one pass: on ``local[1]`` with 1M images, an empty batch's query cost
1.25-1.49 CPU-s and a real one 1.67 CPU-s, against 0.11-0.21 s for the
checkpoint scan plus filter and 0.13 s for a per-batch count — about 90% of
a batch was fixed per-query cost, now paid once per attempt.

Kill semantics: a kill during the pass commits nothing, so the resume reruns
the whole pending set; a kill between commits leaves the uncommitted data in
place and the resume rewrites it. Passes, commits and failures (exception
text + pending cell ids, which are the batch ids) go to
``<root>/events.jsonl``.

    from osm2geojson_spark.plans.tile_job import run_tile_job
    run_tile_job(spark, images_df, polys_df, "/data/out/tiles")

At cluster scale: images is the 10^12-row table read from the catalog, the
coarse cells are its physical partitions, and one `spark-submit --py-files`
invocation per resume attempt drives the whole thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cells
from ..operators.spatial_join import point_in_polygon_join
from ..sources import synthetic as SYN
from .manifest import ParquetManifest, ResumableJob


def image_points(images: DataFrame, coarse_res: int) -> DataFrame:
    """phash -> point + coarse batch cell."""
    pts = images.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    return pts.withColumn(
        "coarse", cells.cell_id(F.col("lon"), F.col("lat"), coarse_res)
    )


def tile_rollup(pts: DataFrame, polys_df: DataFrame, res: int, tile_res: int) -> DataFrame:
    """PIP join -> per-(coarse cell, poly, tile) image count; the coarse
    cell, as a string, is the ``batch`` column (poly_id, tile, n_images,
    batch)."""
    joined = point_in_polygon_join(pts, polys_df, res=res)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), tile_res))
        .groupBy(F.col("coarse").cast("string").alias("batch"), "poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
        .select("poly_id", "tile", "n_images", "batch")
    )


def tile_batch(
    pts: DataFrame, polys_df: DataFrame, coarse_cell: int, res: int, tile_res: int
) -> DataFrame:
    """One batch: coarse-cell slice -> PIP join -> per-(poly, tile) rollup."""
    sub = pts.filter(F.col("coarse") == coarse_cell)
    return tile_rollup(sub, polys_df, res, tile_res).drop("batch")


def run_tile_job(
    spark: SparkSession,
    images: DataFrame,
    polys_df: DataFrame,
    out_root: str,
    res: int = 6,
    tile_res: int = 9,
    coarse_res: int = 2,
    count_rows_in: bool = True,
) -> dict:
    """Returns {"ran": [...], "skipped": [...]} (skipped = already committed
    by a previous attempt). Output at <out_root>/data/batch=<cell>/ plus the
    lineage manifest at <out_root>/manifest/ and the event log at
    <out_root>/events.jsonl.

    One pass per attempt: the pending cells' points are checkpointed once,
    one grouped count gives every batch's ``rows_in``, and one query writes
    every batch's rollup (see ``ResumableJob.run_pass`` for what a kill
    leaves behind)."""
    # every coarse cell is a batch — deterministic, restart-stable work list
    n = 1 << coarse_res
    batch_ids = [str(cells.pack_cell_py(coarse_res, x, y)) for x in range(n) for y in range(n)]
    pending_pts = None

    def build(pending: list[str]) -> DataFrame:
        nonlocal pending_pts
        pending_pts = (
            image_points(images, coarse_res)
            .filter(F.col("coarse").isin([int(b) for b in pending]))
            .localCheckpoint(eager=False)
        )
        return tile_rollup(pending_pts, polys_df, res, tile_res)

    def rows_in(pending: list[str]) -> dict[str, int]:
        # materializes the checkpoint: the pass's only scan of the images
        counts = dict(pending_pts.groupBy("coarse").count().collect())
        return {b: counts.get(int(b), 0) for b in pending}

    job = ResumableJob(ParquetManifest(out_root))
    return job.run_pass(batch_ids, build, rows_in if count_rows_in else None)


def read_tiles(spark: SparkSession, out_root: str) -> DataFrame:
    """Union of all committed batches (poly_id, tile, n_images)."""
    man = ParquetManifest(out_root)
    done = sorted(man.committed_batches())
    paths = [man.batch_path(b) for b in done]
    return spark.read.parquet(*paths)
