"""Checkpoint/resume + lineage for the batch pipeline (SURVEY.md §4.3).

The reference has no cross-document layer; this is pure Spark design per
the north rule: partition-level idempotent writes + a completed-partitions
manifest. The corpus is split into deterministic ``chunk`` ranges by
doc_id hash; each chunk writes to its own output subdirectory and appends
a manifest row on success. Resume = anti-join the chunk list against the
manifest and process only the remainder.

Sink format: Iceberg when a catalog is configured (``iceberg_table``:
``chunk``-partitioned table, per-chunk ``overwritePartitions`` snapshot
commits), else partitioned parquet with an identical layout — the manifest
logic is format-agnostic. (This sandbox has no Iceberg jars; the parquet
path runs live in tests and the Iceberg path is exercised through a mock
writer, test_spark.)
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


class ChunkedRun:
    """Drives a chunked, resumable pass over a documents table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_chunks: int = 16,
        iceberg_table: str | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.iceberg_table = iceberg_table
        self.manifest_path = os.path.join(out_dir, "_manifest")
        os.makedirs(self.manifest_path, exist_ok=True)

    # ------------------------------------------------------------ manifest

    def completed_chunks(self) -> set[int]:
        done = set()
        for name in os.listdir(self.manifest_path):
            if name.startswith("chunk-") and name.endswith(".json"):
                rec = json.load(open(os.path.join(self.manifest_path, name)))
                if rec.get("status") == "ok":
                    done.add(rec["chunk"])
        return done

    def _record(self, chunk: int, **fields) -> None:
        path = os.path.join(self.manifest_path, f"chunk-{chunk:05d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"chunk": chunk, **fields}, f)
        os.replace(tmp, path)  # atomic → a crash never leaves a half manifest

    # ----------------------------------------------------------------- run

    def run(
        self,
        documents: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        id_col: str = "doc_id",
    ) -> dict:
        """Process all incomplete chunks; returns a summary dict.

        Chunking key is ``pmod(xxhash64(doc_id), n_chunks)`` — deterministic
        across runs, independent of input order, so resume is exact.
        """
        chunked = documents.withColumn(
            "_chunk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.n_chunks))
        )
        done = self.completed_chunks()
        todo = [c for c in range(self.n_chunks) if c not in done]
        summary = {"resumed": len(done), "processed": 0, "rows": 0}
        for chunk in todo:
            t0 = time.time()
            part = chunked.filter(F.col("_chunk") == chunk).drop("_chunk")
            out = transform(part)
            n = self._write_chunk(out, chunk)
            self._record(
                chunk,
                status="ok",
                n_rows=n,
                wall_ms=int((time.time() - t0) * 1000),
            )
            summary["processed"] += 1
            summary["rows"] += n
        return summary

    def _write_chunk(self, out: DataFrame, chunk: int) -> int:
        """Idempotent per-chunk overwrite; returns the row count written.

        The count is an ``Observation`` on the written frame, filled by
        the write itself: no read-back and no second action.

        Iceberg path: ``chunk`` is the table's partition column, so
        ``overwritePartitions`` replaces exactly this chunk's prior attempt
        (crash-safe retry) in one atomic snapshot commit. The parquet path
        is the identical layout via directory overwrite.
        """
        written = Observation()
        out = out.observe(written, F.count(F.lit(1)).alias("n_rows"))
        if self.iceberg_table is not None:
            tagged = out.withColumn("chunk", F.lit(chunk))
            tagged.writeTo(self.iceberg_table).overwritePartitions()
        else:
            dest = os.path.join(self.out_dir, f"chunk={chunk}")
            out.write.mode("overwrite").parquet(dest)
        return written.get["n_rows"]

    def lineage_df(self) -> DataFrame:
        rows = []
        for name in sorted(os.listdir(self.manifest_path)):
            if name.startswith("chunk-") and name.endswith(".json"):
                rows.append(json.load(open(os.path.join(self.manifest_path, name))))
        return self.spark.createDataFrame(
            rows or [{"chunk": -1, "status": "empty", "n_rows": 0, "wall_ms": 0}]
        )

    def output_df(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "chunk=*"))
