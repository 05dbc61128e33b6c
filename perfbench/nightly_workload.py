"""nightly_sf01: nights of the reference nightly DAG through `run_nightly`,
four reference jobs on warm watermarks (their deltas are empty, so the
control plane does the work), plus one benchmark-owned job that merges a
seeded change feed, derived from the sf0.1 `lineitem` and `orders` tables,
into a growing fact (inserts and updates of existing keys). Every night
starts from the warehouse and migration-log snapshot taken after the
untimed bootstrap.

The reference jobs read `data/reference/`: the source relations of the
engine test suite's reference-job catalog, written once as parquet so the
workload's input changes only with the benchmark."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import frames_match
from harness import DATA, Run

REFERENCE = os.path.join(DATA, "reference")
SF_DIR = os.path.join(DATA, "sf0.1")
# Four reference jobs, in their nightly layer order: the widest one
# (Pembelian, whose projection also falls back from whole-stage codegen),
# a group-grain production fact, a QC fact, and the migration-log sync,
# whose increment is never empty, so even a quiet night runs one real
# MERGE and swap.
QUIET_JOBS = (
    "Fact Kanban from MongoDB to Azure DWH",  # production
    "Fact Fabric QC from MongoDB to Azure DWH",  # qc
    "Fact Pembelian from MongoDB to Azure DWH",  # purchasing
    "Migration Log from MongoDB to Azure DWH",  # control
)
FEED_JOB = "Line Changes from sf0.1 lineitem"
FEED_TARGET = "dl_fact_line_changes"
BOOTSTRAP_DAY = 1700  # the fact holds every version up to this order day
WINDOW_DAYS = 40  # one night's delta


def day(offset: int) -> dt.datetime:
    """Day ``offset`` of the order calendar (sf0.1 orders span 1995-01-01
    to 2001-08-01) as a naive UTC datetime."""
    return dt.datetime(1995, 1, 1) + dt.timedelta(days=offset)


BOOTSTRAP_END = day(BOOTSTRAP_DAY)
NIGHT_END = day(BOOTSTRAP_DAY + WINDOW_DAYS)


def nightly_layers(names=QUIET_JOBS) -> list[tuple[str, ...]]:
    from com_danliris_service_etl_spark.plans.schedule import NIGHTLY_LAYERS

    layers = [tuple(n for n in layer if n in names) for layer in NIGHTLY_LAYERS]
    return [layer for layer in layers if layer]


FEED_SQL = """
WITH v AS (
  SELECT c.line_id, c.l_orderkey, o.o_custkey, c.l_partkey, c.l_quantity,
         c.l_extendedprice, c.l_discount,
         c.l_extendedprice * (1 - c.l_discount) AS net_price,
         c.version,
         epoch_us(o.o_orderdate + to_days(c.delay_days)) AS modified_us
  FROM '{feed}' c
  JOIN '{orders}' o ON c.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate + to_days(c.delay_days) <= TIMESTAMP '{end}'
)
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY line_id ORDER BY modified_us DESC) AS rn FROM v
) WHERE rn = 1
"""


def change_feed(lineitem: pa.Table, seed: int, modified_share: float = 0.25, max_delay_days: int = 120) -> pa.Table:
    """Versioned line feed keyed by ``line_id`` (the lineitem row number):
    version 0 of every line lands on its order's date (``delay_days`` = 0,
    the order date is joined in at build time), and ``modified_share`` of
    the lines, drawn from the seed, get a version 1 with a new quantity and
    price 1 to ``max_delay_days`` days later."""
    rng = np.random.default_rng([seed, 100])
    n = lineitem.num_rows
    mod = np.flatnonzero(rng.random(n) < modified_share)
    k = len(mod)
    cols = {c: lineitem[c].to_numpy() for c in ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")}
    new = {
        "l_quantity": np.minimum(cols["l_quantity"][mod] + rng.integers(1, 6, k), 50.0),
        "l_extendedprice": np.round(cols["l_extendedprice"][mod] * rng.uniform(0.9, 1.1, k), 2),
    }
    table = {"line_id": np.concatenate([np.arange(n, dtype=np.int64), mod.astype(np.int64)])}
    for c, v in cols.items():
        table[c] = np.concatenate([v, new.get(c, v[mod])])
    table["version"] = np.concatenate([np.zeros(n, np.int32), np.ones(k, np.int32)])
    table["delay_days"] = np.concatenate(
        [np.zeros(n, np.int32), rng.integers(1, max_delay_days + 1, k).astype(np.int32)]
    )
    return pa.table(table)


def file_states(root: str) -> dict[str, tuple[int, int, int]]:
    """Relative path -> (size, inode, mtime in ns) of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def written_bytes(before: dict[str, tuple[int, int, int]], root: str) -> int:
    """Bytes of the files under ``root`` that are new or changed since
    ``before`` (a `file_states` of the same directory): what a night wrote
    there, whether it rewrote the whole directory or added a part file."""
    return sum(state[0] for path, state in file_states(root).items() if before.get(path) != state)


class NightlyWorkload:
    min_passes = 1

    def __init__(self, run: Run):
        self.run = run
        self.feed = os.path.join(run.work, "line_changes.parquet")
        self.dwh = os.path.join(run.work, "dwh")
        self.log = os.path.join(run.work, "log")
        self.snapshot = os.path.join(run.work, "snapshot")
        self.log_files: list[int] = []
        self.written: list[int] = []  # bytes written into the loaded fact, per night
        self.delta_bytes = 0

    # -- set-up ----------------------------------------------------------

    def _build_feed(self, spark, catalog, wm):
        from pyspark.sql import functions as F

        feed = catalog.read("line_changes")
        orders = catalog.read("orders").select("o_orderkey", "o_custkey", "o_orderdate")
        ts = F.col("o_orderdate").cast("timestamp") + F.make_dt_interval(F.col("delay_days"))
        return (
            feed.join(orders, feed.l_orderkey == orders.o_orderkey)
            .withColumn("_lastmodifiedutc", ts)
            .filter((F.col("_lastmodifiedutc") > F.lit(wm)) & (F.col("_lastmodifiedutc") <= F.lit(NIGHT_END)))
            .select(
                "line_id", "l_orderkey", "o_custkey", "l_partkey", "l_quantity",
                "l_extendedprice", "l_discount",
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
                "version", "_lastmodifiedutc",
            )
        )

    def setup(self) -> None:
        from com_danliris_service_etl_spark.jobs import ALL_SPECS
        from com_danliris_service_etl_spark.plans.jobs import JobSpec
        from com_danliris_service_etl_spark.sources.catalog import Catalog
        from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

        run = self.run
        self.catalog = Catalog(spark=run.spark)
        for f in sorted(os.listdir(REFERENCE)):
            self.catalog.tables[f.removesuffix(".parquet")] = os.path.join(REFERENCE, f)
        lineitem = pq.read_table(os.path.join(SF_DIR, "lineitem.parquet"))
        pq.write_table(change_feed(lineitem, run.seed), self.feed)
        self.catalog.tables["line_changes"] = self.feed
        self.catalog.tables["orders"] = os.path.join(SF_DIR, "orders.parquet")
        self.feed_spec = JobSpec(
            name=FEED_JOB,
            build=run.tracer.wrap(self._build_feed, "bench.line_changes.build"),
            merge_keys=["line_id"],
            target=os.path.join(self.dwh, FEED_TARGET),
            order_col="_lastmodifiedutc",
        )
        self.store = WatermarkStore(run.spark, self.log)
        self.layers = nightly_layers()
        self.target_jobs = {
            os.path.basename(t): name
            for name in QUIET_JOBS
            for t in (ALL_SPECS[name].target, *ALL_SPECS[name].extra_targets)
        }
        self._install_job_timer()
        # Bootstrap: every reference fact created and every watermark warm,
        # through the engine; the loaded fact's history up to the bootstrap
        # day is written directly, with its log row committed by the engine.
        self._run_nightly("bootstrap")
        self._bootstrap_feed()
        self.bootstrap_log_rows = self._log_rows()
        for d in (self.dwh, self.log):
            shutil.copytree(d, os.path.join(self.snapshot, os.path.basename(d)))
        self.delta_bytes = self._delta_bytes()
        self._warm_up()

    def _feed_sql(self, end: dt.datetime) -> str:
        """The latest version of every line modified up to ``end``."""
        return FEED_SQL.format(feed=self.feed, orders=self.catalog.tables["orders"], end=end)

    def _delta_bytes(self) -> int:
        """Parquet bytes of one night's delta, written aside once."""
        import duckdb

        p = os.path.join(self.run.work, "delta.parquet")
        sql = self._feed_sql(NIGHT_END)
        start_us = int((BOOTSTRAP_END - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        duckdb.sql(f"COPY (SELECT * FROM ({sql}) WHERE modified_us > {start_us}) TO '{p}' (FORMAT PARQUET)")
        return os.path.getsize(p)

    # -- one night -------------------------------------------------------

    def _install_job_timer(self) -> None:
        """Time every job from outside, around `run_job`: `run_nightly`
        looks the runner up in its module, so the timer replaces it there."""
        from com_danliris_service_etl_spark.plans import jobs, schedule

        run, original = self.run, jobs.run_job

        def timed_run_job(spark, spec, catalog, store, now=dt.datetime.utcnow):
            run.set_op(self.pass_id, spec.name)
            t0 = time.perf_counter()
            error = None
            try:
                return run.tracer.call("plans.jobs.run_job", original, spark, spec, catalog, store, now=now)
            except Exception as exc:
                error = f"raised: {exc!s:.300}"
                raise
            finally:
                if self.pass_id not in ("bootstrap", "warmup"):
                    run.record_op(self.pass_id, spec.name, time.perf_counter() - t0)
                    run.tally.record(f"{self.pass_id}:{spec.name}", error)

        schedule.run_job = timed_run_job

    def _warm_up(self) -> None:
        """One untimed run of the loaded job on top of the snapshot. Until
        then its build and its MERGE into the large fact have never run in
        the engine (the bootstrap writes that fact with DuckDB), and in the
        first of three nights in a run the job read 40-60% slower than in
        the third. Every night restores the snapshot first, so this run
        leaves no trace in the timed ones."""
        from com_danliris_service_etl_spark.plans import schedule

        self.pass_id = "warmup"
        try:
            schedule.run_job(self.run.spark, self.feed_spec, self.catalog, self.store, now=lambda: NIGHT_END)
        except Exception as exc:  # noqa: BLE001 — the timed nights run it again and count it
            print(f"[perfbench] warm-up of {FEED_JOB} raised: {exc!s:.300}", file=sys.stderr)

    def _bootstrap_feed(self) -> None:
        import duckdb
        import pyarrow.compute as pc

        fact = duckdb.sql(self._feed_sql(BOOTSTRAP_END)).arrow()
        modified = pc.cast(fact["modified_us"], pa.timestamp("us", tz="UTC"))
        fact = fact.drop(["modified_us"]).append_column("_lastmodifiedutc", modified)
        target = self.feed_spec.target
        os.makedirs(target)
        pq.write_table(fact, os.path.join(target, "part-00000.parquet"))
        self.store.commit_run(FEED_JOB, BOOTSTRAP_END, BOOTSTRAP_END, "Successful", fact.num_rows)

    def _run_nightly(self, pass_id: str) -> dict[str, str]:
        """The reference jobs of one night; job name -> status."""
        from com_danliris_service_etl_spark.plans import schedule

        self.pass_id = pass_id
        self.run.set_op(pass_id, "night")
        results = self.run.tracer.call(
            "plans.schedule.run_nightly",
            schedule.run_nightly,
            self.run.spark,
            self.catalog,
            self.store,
            layers=self.layers,
            target_dir=self.dwh,
        )
        return {r.job: r.status for r in results}

    def _night(self, pass_id: str) -> float:
        from com_danliris_service_etl_spark.plans import schedule

        t0 = time.perf_counter()
        self.results = self._run_nightly(pass_id)
        try:
            schedule.run_job(self.run.spark, self.feed_spec, self.catalog, self.store, now=lambda: NIGHT_END)
            self.feed_error = None
        except Exception as exc:  # noqa: BLE001 — counted as a failed job
            self.feed_error = f"raised: {exc!s:.300}"
        return time.perf_counter() - t0

    def run_pass(self, pass_id: str) -> float:
        for d in (self.dwh, self.log):
            shutil.rmtree(d)
            shutil.copytree(os.path.join(self.snapshot, os.path.basename(d)), d)
        os.sync()  # the copy's write-back happens here, not inside the timed night
        self.log_files.append(sum(1 for f in os.listdir(self.log) if f.endswith(".parquet")))
        fact = os.path.join(self.dwh, FEED_TARGET)
        before = file_states(fact)
        with self.run.memory.measuring():
            wall = self._night(pass_id)
        self.written.append(written_bytes(before, fact))
        self._check_night(pass_id)
        return wall

    def finish(self) -> None:
        """Every check already ran after its night."""

    def layer_extras(self) -> dict[str, float]:
        return {
            "sources.watermark.log_files": self.log_files[0],
            "sources.sinks.bytes_written_per_delta_byte": statistics.median(self.written) / self.delta_bytes,
        }

    # -- checks (untimed) ------------------------------------------------

    def _log_rows(self) -> int:
        import duckdb

        return duckdb.sql(f"SELECT count(*) FROM '{self.log}/*.parquet'").fetchone()[0]

    def _check_night(self, pass_id: str) -> None:
        import duckdb

        tally = self.run.tally
        for job in QUIET_JOBS:
            status = self.results.get(job, "missing")
            if status != "Successful":
                tally.fail(f"{pass_id}:{job}", f"status {status}")
        if self.feed_error:
            tally.fail(f"{pass_id}:{FEED_JOB}", self.feed_error)
        # Quiet facts are unchanged from the bootstrap.
        for name, job in self.target_jobs.items():
            now = duckdb.sql(f"SELECT * FROM '{self.dwh}/{name}/*.parquet'").df()
            then = duckdb.sql(f"SELECT * FROM '{self.snapshot}/dwh/{name}/*.parquet'").df()
            error = frames_match(now, then)
            if error:
                tally.fail(f"{pass_id}:{job}", f"quiet fact {name} changed: {error}")
        # The log gains one row per job (charged to the night's last job).
        added = self._log_rows() - self.bootstrap_log_rows
        if added != len(QUIET_JOBS) + 1:
            tally.fail(f"{pass_id}:{FEED_JOB}", f"log gained {added} rows")
        # The loaded fact is the latest version of every line so far.
        fact = duckdb.sql(
            f"SELECT * EXCLUDE (_lastmodifiedutc), epoch_us(_lastmodifiedutc) AS modified_us "
            f"FROM '{self.dwh}/{FEED_TARGET}/*.parquet'"
        ).df()
        expected = duckdb.sql(self._feed_sql(NIGHT_END)).df()
        error = frames_match(fact, expected)
        if error:
            tally.fail(f"{pass_id}:{FEED_JOB}", f"fact differs from recomputation: {error}")
