"""Incremental watermark protocol (SURVEY.md §2.1 S4/S8).

The reference reads `select top(1) start from [migration-log] where
description=? and status='Successful' order by finish desc`
(`Pembelian/run.js:41-50`, identical in all 22 jobs), falls back to
1970-01-01 (`Pembelian/run.js:121`), and appends a telemetry row per run
(`Pembelian/run.js:52-63`). Here the log is a parquet-backed control table;
the watermark only advances when a run commits as successful — giving
idempotent re-runs when paired with the MERGE sink.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EPOCH = dt.datetime(1970, 1, 1)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("description", T.StringType(), False),
        T.StructField("start", T.TimestampType(), False),
        T.StructField("finish", T.TimestampType(), False),
        T.StructField("executionTime", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("rowCount", T.LongType(), True),
    ]
)


class WatermarkStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _log(self) -> DataFrame:
        # Existence must be probed THROUGH Spark, not the driver's local
        # filesystem: os.path.exists is always False for hdfs://, s3a://,
        # abfss:// paths, which would make every nightly read EPOCH and
        # silently degrade the incremental protocol to full re-extracts.
        # The schema is known, so the read skips parquet footer inference
        # (one Spark job per watermark read); an empty or `_temporary`-only
        # directory — a kill during the very FIRST commit_run — then reads
        # as an empty log, whose EPOCH fallback is the SAFE direction (the
        # job re-extracts and the idempotent MERGE absorbs it). Only a
        # missing path raises, and that is an empty log too.
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.schema(LOG_SCHEMA).parquet(self.path)
        except AnalysisException as exc:
            if exc.getCondition() == "PATH_NOT_FOUND":
                return self.spark.createDataFrame([], LOG_SCHEMA)
            raise

    def read_watermark(self, job: str) -> dt.datetime:
        """Last successful run's `start` for the job; epoch when absent.

        The `top(1) ... order by finish desc` becomes an argmax aggregate —
        the control table is tiny, so this is a driver-side lookup by design.
        """
        row = (
            self._log()
            .filter((F.col("description") == job) & (F.col("status") == "Successful"))
            .agg(F.max_by("start", "finish").alias("wm"))
            .collect()[0]
        )
        return row["wm"] or EPOCH

    def commit_run(
        self,
        job: str,
        start: dt.datetime,
        finish: dt.datetime,
        status: str = "Successful",
        row_count: int | None = None,
    ) -> None:
        """S8 — append one telemetry row. Status may embed a row count like
        the reference's `"Successful-50-Part34-" + dataCount`
        (`FabricQC/run.js:22`); we keep it a typed column instead."""
        minutes = max(0.0, (finish - start).total_seconds() / 60.0)
        row = (job, start, finish, f"{minutes:.2f} minutes", status, row_count)
        # The row is built from literals over a one-partition range, so the
        # append is one JVM task writing one file. createDataFrame would
        # ship it as a Python RDD of defaultParallelism partitions through
        # Python workers (Arrow cannot be relied on to avoid that: it falls
        # back silently): ~0.9 s against ~0.15 s per commit on a 4-vCPU VM.
        # Naive datetimes convert through the process time zone either way.
        df = self.spark.range(1, numPartitions=1).select(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, LOG_SCHEMA.fields)]
        )
        # Parquet append of a single control row; on Delta this is a txn append.
        df.write.mode("append").parquet(self.path)

    def incremental(
        self, df: DataFrame, job: str, ts_col: str = "lastmodifiedutc", inclusive: bool = False
    ) -> DataFrame:
        """S4/P2 — filter rows after the watermark. The per-job `>` vs `>=`
        choice in the reference (`Pembelian/run.js:166` vs
        `GarmentPembelian/run.js:91`) maps to ``inclusive``."""
        wm = F.lit(self.read_watermark(job))
        return df.filter(F.col(ts_col) >= wm if inclusive else F.col(ts_col) > wm)
