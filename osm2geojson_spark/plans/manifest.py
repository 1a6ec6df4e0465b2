"""Per-partition lineage manifest + resumable batch jobs (E6).

Iceberg-style commit semantics over plain Parquet (no Iceberg runtime jar in
this environment; the layout mirrors an Iceberg manifest so a real catalog
can be swapped in):

    <root>/data/batch=<batch_id>/...parquet      batch outputs
    <root>/manifest/batch=<batch_id>.json        atomic commit record with
        (batch_id, rows_in, rows_out, bytes_out, wall_s)
    <root>/events.jsonl                          append-only event log

A batch is *committed* iff its manifest JSON exists — the JSON is written
via tempfile + atomic rename AFTER the data lands, so a killed job leaves at
most uncommitted data files that the resume pass clears and rewrites.

``ResumableJob.run_pass`` anti-joins the already-committed batch ids and
runs every pending batch as ONE Spark write partitioned by ``batch``, then
commits one record per batch — restart == identical final manifest
(resume-equivalence is pinned by tests). ``rows_out`` and ``bytes_out``
come from the Parquet footers and file sizes of each batch directory:
O(files), no extra scan of the output.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Callable, Mapping, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# batch ids become Hive partition values verbatim: no character that Spark
# would escape in the directory name
_BATCH_ID = re.compile(r"[\w.-]+")


class PassError(RuntimeError):
    """A pass failed before its commits; no pending batch was committed."""

    def __init__(self, batch_ids: Sequence[str], cause: BaseException):
        self.batch_ids = list(batch_ids)
        super().__init__(
            f"pass failed, nothing committed for pending batches {self.batch_ids}: "
            f"{type(cause).__name__}"
        )


class ParquetManifest:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifest")
        # outside manifest/, so the commit log never lists it
        self.events_path = os.path.join(root, "events.jsonl")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- commit log ------------------------------------------------------
    def committed_batches(self) -> set[str]:
        out = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("batch=") and name.endswith(".json"):
                out.add(name[len("batch=") : -len(".json")])
        return out

    def commit(self, batch_id: str, metrics: dict) -> None:
        path = os.path.join(self.manifest_dir, f"batch={batch_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, **metrics}, f)
        os.replace(tmp, path)  # atomic commit point
        self.log("commit", batch_id=batch_id, **metrics)

    def read_metrics(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def batch_path(self, batch_id: str) -> str:
        return os.path.join(self.data_dir, f"batch={batch_id}")

    def log(self, event: str, **fields) -> None:
        """Appends one JSON line {"ts", "event", **fields} to events.jsonl."""
        with open(self.events_path, "a") as f:
            f.write(json.dumps({"ts": round(time.time(), 3), "event": event, **fields}) + "\n")

    def read_events(self) -> list[dict]:
        if not os.path.exists(self.events_path):
            return []
        with open(self.events_path) as f:
            return [json.loads(line) for line in f]

    # -- batch data --------------------------------------------------------
    def seal(self, batch_id: str, schema: StructType) -> tuple[int, int]:
        """(rows_out, bytes_out) of a written batch directory, read from the
        Parquet footers and file sizes. A batch the write left no rows in
        gets a schema-only Parquet file first, so every committed batch is
        readable and has bytes."""
        path = self.batch_path(batch_id)
        if not os.path.isdir(path):
            os.makedirs(path)
            arrow_schema = to_arrow_schema(schema).with_metadata(
                # what Spark's own writer records: read back with exact types
                {"org.apache.spark.sql.parquet.row.metadata": schema.json()}
            )
            pq.write_table(arrow_schema.empty_table(), os.path.join(path, "part-00000-empty.parquet"))
        rows = size = 0
        for name in os.listdir(path):
            f = os.path.join(path, name)
            size += os.path.getsize(f)
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                rows += pq.ParquetFile(f).metadata.num_rows
        return rows, size


class ResumableJob:
    """Runs every work unit not yet committed; writes Parquet then commits
    lineage metrics per batch."""

    def __init__(self, manifest: ParquetManifest):
        self.manifest = manifest

    def run_pass(
        self,
        batch_ids: Sequence[str],
        build: Callable[[list[str]], DataFrame],
        rows_in: Callable[[list[str]], Mapping[str, int]] | None = None,
    ) -> dict:
        """One Spark write for all pending batches, then one commit each.

        ``build(pending)`` returns ONE DataFrame whose ``batch`` column holds
        the batch id of each row; rows of any other batch are dropped.
        ``rows_in(pending)`` is called after ``build`` (so it may count what
        ``build`` prepared) and returns {batch_id: rows_in}.

        Kill semantics: a failure or kill during the write commits nothing,
        so the next attempt reruns the whole pending set (a failure raises
        ``PassError`` naming the pending batches and logs ``pass_failed``).
        A kill between commits leaves the uncommitted batches' data in
        place; the next attempt clears and rewrites it."""
        done = self.manifest.committed_batches()
        pending = [b for b in batch_ids if b not in done]
        skipped = [b for b in batch_ids if b in done]
        if not pending:
            return {"ran": [], "skipped": skipped}
        bad = [b for b in pending if not _BATCH_ID.fullmatch(b)]
        if bad:
            raise ValueError(f"batch ids must match {_BATCH_ID.pattern}: {bad}")

        t0 = time.time()
        try:
            # uncommitted leftovers of an earlier attempt: a batch that now
            # writes no rows must not inherit them
            for bid in pending:
                shutil.rmtree(self.manifest.batch_path(bid), ignore_errors=True)
            df = build(pending)
            counts = rows_in(pending) if rows_in else {}
            self.manifest.log("pass_start", batch_ids=pending, rows_in=counts)
            (
                df.filter(F.col("batch").isin(pending))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(self.manifest.data_dir)
            )
        except Exception as e:
            self.manifest.log("pass_failed", batch_ids=pending, error=f"{type(e).__name__}: {e}")
            raise PassError(pending, e) from e
        wall_s = round(time.time() - t0, 3)

        schema = df.drop("batch").schema
        for bid in pending:
            rows_out, bytes_out = self.manifest.seal(bid, schema)
            self.manifest.commit(
                bid,
                {
                    "rows_in": counts.get(bid),
                    "rows_out": rows_out,
                    "bytes_out": bytes_out,
                    # the pass's wall time, shared by every batch in it
                    "wall_s": wall_s,
                },
            )
        return {"ran": pending, "skipped": skipped}

    def run(
        self,
        batch_ids: Sequence[str],
        fn: Callable[[str], DataFrame],
        rows_in: Callable[[str], int] | None = None,
    ) -> dict:
        """Runs ``fn(batch_id) -> DataFrame`` as one pass per batch."""
        ran, skipped = [], []
        for bid in batch_ids:
            r = self.run_pass(
                [bid],
                lambda p: fn(p[0]).withColumn("batch", F.lit(p[0])),
                rows_in=(lambda p: {p[0]: rows_in(p[0])}) if rows_in else None,
            )
            ran += r["ran"]
            skipped += r["skipped"]
        return {"ran": ran, "skipped": skipped}
