"""Per-partition checkpoint lineage — the resumability backbone.

A manifest table (FIXTURES.md §5) records one row per (job, stage,
partition, table) the moment that partition's output is durably written.
A restarted job reads the manifest and processes only partitions with no
row (the left-anti-join skip, SURVEY.md §3.4) — completed work is never
recomputed.

Storage here is an append-only parquet directory (each commit = one new
file, which is atomic-enough on a local FS and maps 1:1 onto an Iceberg
`append` snapshot in production — this sandbox ships no Iceberg runtime
jars, so the table format is parquet with the same commit protocol).
Checksums are order-independent (bit_xor of per-row xxhash64), so two runs
at different parallelism produce comparable lineage.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        """The manifest table, or None when nothing was ever committed (no
        manifest directory). Any other read error propagates: a corrupt
        manifest must not pass for an empty one."""
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise

    def completed(self, job_id: str, stage: str) -> set[str]:
        """Partition keys already committed for (job, stage). A partition
        counts as complete only when ALL its tables are present — the commit
        writes them together, so presence of any row implies all."""
        df = self._read()
        if df is None:
            return set()
        rows = (
            df.filter((F.col("job_id") == job_id) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
            .collect()
        )
        return {r.partition_key for r in rows}

    def commit(self, rows: list[dict]) -> None:
        """Append one parquet file with the batch's lineage rows.

        Written DRIVER-SIDE with pyarrow (temp file + atomic rename — the
        same append-snapshot protocol), not as a Spark job: a manifest
        commit is a handful of rows, and a Spark job per commit added ~1 s
        of pure scheduling latency to EVERY stage of the cascade."""
        if not rows:
            return
        import os
        import uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = datetime.fromtimestamp(time.time(), tz=timezone.utc).replace(
            tzinfo=None
        )
        table = pa.table(
            {
                "job_id": pa.array([r["job_id"] for r in rows], pa.string()),
                "stage": pa.array([r["stage"] for r in rows], pa.string()),
                "partition_key": pa.array(
                    [r["partition_key"] for r in rows], pa.string()
                ),
                "table": pa.array([r["table"] for r in rows], pa.string()),
                "rows_out": pa.array(
                    [int(r["rows_out"]) for r in rows], pa.int64()
                ),
                "checksum": pa.array(
                    [r.get("checksum") for r in rows], pa.int64()
                ),
                "wall_ms": pa.array(
                    [int(r["wall_ms"]) for r in rows], pa.int64()
                ),
                "committed_at": pa.array([now] * len(rows), pa.timestamp("us")),
            }
        )
        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self.path}/.tmp-{uuid.uuid4().hex}.parquet"
        final = f"{self.path}/part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, tmp)
        os.rename(tmp, final)

    def stats(self, job_id: str | None = None) -> DataFrame | None:
        df = self._read()
        if df is not None and job_id:
            df = df.filter(F.col("job_id") == job_id)
        return df

