"""``etl_pipeline``: the reference pipeline, one landing per job.

Each job lands one OpenCSV batch of orders under the watched prefix and
drives ``FileTriggeredWorkflow.poll_once``: crawl the prefix, run the
bookmarked incremental job with the Change-schema mapping, and load each
micro-batch twice — ``SnapshotTable.merge_mor`` into the lake table and
``UpsertWriter.upsert`` into a DuckDB warehouse standing in for Redshift.
The job ends when a point read on the lake table returns the landing's
probe row with its new values and the warehouse row count is the number
of keys landed so far: that interval is the landing's freshness.

A cycle is three landings (fresh keys, corrections of landed keys, fresh
keys) followed by one ``optimize_small_files`` compaction; runs measure
whole cycles.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import common
from .datagen import LANDING_COLUMNS, OrdersLandings
from .spans import Tracer

LANDING_ROWS = 5000
LANDINGS_PER_CYCLE = 3
TABLE = "orders"
KEY = "order_key"

#: Change-schema mapping: renames every column, casts four of them
MAPPING = {
    "order_key": ("o_orderkey", "bigint"),
    "cust_key": ("o_custkey", "bigint"),
    "status": "o_orderstatus",
    "total_price": ("o_totalprice", "double"),
    "order_date": ("o_orderdate", "date"),
    "priority": "o_orderpriority",
    "clerk": "o_clerk",
    "comment": "o_comment",
}
_CASTS = {"order_key": int, "cust_key": int, "total_price": float,
          "order_date": dt.date.fromisoformat}

#: last-write-wins state of every landed CSV, computed by DuckDB alone
LWW_SQL = """
SELECT TRY_CAST(o_orderkey AS BIGINT) AS order_key,
       TRY_CAST(o_custkey AS BIGINT) AS cust_key,
       o_orderstatus AS status,
       TRY_CAST(o_totalprice AS DOUBLE) AS total_price,
       CAST(TRY_CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_orderpriority AS priority,
       o_clerk AS clerk,
       o_comment AS comment
FROM read_csv({files}, header = true, quote = '"', escape = '\\',
              all_varchar = true, filename = true)
QUALIFY row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY CAST(regexp_extract(filename, 'landing-(\\d+)', 1) AS INTEGER) DESC
) = 1
"""


def expected_row(cells: list[str]) -> dict:
    raw = dict(zip(LANDING_COLUMNS, cells))
    out = {}
    for dest, spec in MAPPING.items():
        src = spec[0] if isinstance(spec, tuple) else spec
        out[dest] = _CASTS.get(dest, str)(raw[src])
    return out


def lww_reference(files: list[str]):
    """DuckDB's last-write-wins table over ``files`` (pandas frame)."""
    con = duckdb.connect()
    try:
        return con.sql(LWW_SQL.format(files=repr(sorted(files)))).df()
    finally:
        con.close()


class TimedWarehouse:
    """The DuckDB warehouse client, with a span around each upsert."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer

    def execute_upsert(self, table, staging_path, keys):
        with self.tracer.span("sinks.upsert.warehouse"):
            return self.inner.execute_upsert(table, staging_path, keys)


class Pipeline:
    """One instance of the reference pipeline under ``root``."""

    def __init__(self, spark, root: str, tracer: Tracer):
        from s3_glue_redshift_guide_spark.operators.projection import SchemaMapping
        from s3_glue_redshift_guide_spark.orchestration import FileTriggeredWorkflow
        from s3_glue_redshift_guide_spark.sinks.upsert import (
            DuckDBUpsertWarehouse,
            UpsertWriter,
        )
        from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

        self.tracer = tracer
        self.landing_dir = os.path.join(root, "landing")
        self.lake_dir = os.path.join(root, "lake")
        os.makedirs(self.landing_dir, exist_ok=True)
        self.table = SnapshotTable(spark, self.lake_dir)
        self.con = duckdb.connect(os.path.join(root, "warehouse.duckdb"))
        self.writer = UpsertWriter(
            os.path.join(root, "staging"),
            TimedWarehouse(DuckDBUpsertWarehouse(self.con), tracer),
        )
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in LANDING_COLUMNS])
        self.workflow = FileTriggeredWorkflow(
            spark, "orders_landing", self.landing_dir, schema,
            os.path.join(root, "checkpoint"), loader=self.load,
            transform=SchemaMapping.from_dict(MAPPING).apply,
        )
        self.merge_phases: list[dict] = []
        self.landed_bytes = 0

    def load(self, batch_df, epoch_id: int) -> None:
        from s3_glue_redshift_guide_spark.sources.snapshots import MERGE_METRICS

        self.table.merge_mor(
            batch_df, on=[KEY],
            when_matched_update={
                c: F.col(f"__src_{c}") for c in MAPPING if c != KEY},
        )
        if self.tracer.enabled:
            self.merge_phases.append(dict(MERGE_METRICS))
        self.writer.upsert(batch_df, TABLE, [KEY])

    def land(self, landing) -> str:
        """Write the CSV under a hidden name, then rename it into view:
        the trigger never sees a partial file."""
        data = landing.csv_bytes()
        path = os.path.join(self.landing_dir, f"landing-{landing.index:05d}.csv")
        tmp = os.path.join(self.landing_dir, f".landing-{landing.index:05d}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
        self.landed_bytes += len(data)
        return path

    def process(self, landing, keys_landed: int) -> bool:
        """Poll until the workflow fires, then the freshness read.
        Returns whether the lake and the warehouse show the landing."""
        run = None
        for _ in range(3):
            run = self.workflow.poll_once()
            if run is not None:
                break
        if run is None:
            return False
        with self.tracer.span("sources.snapshots.read_where_eq"):
            rows = self.table.read_where_eq(KEY, landing.probe_key).collect()
        n_wh = self.con.sql(f"SELECT count(*) FROM {TABLE}").fetchone()[0]
        want = expected_row(next(
            r for r in landing.rows if int(r[0]) == landing.probe_key))
        return (len(rows) == 1 and rows[0].asDict() == want
                and n_wh == keys_landed)

    def lake_frame(self):
        df = self.table.read()
        return df.withColumn("order_date", F.col("order_date").cast("string")).toPandas()

    def warehouse_frame(self):
        cols = ", ".join(
            "CAST(order_date AS VARCHAR) AS order_date" if c == "order_date" else c
            for c in MAPPING)
        return self.con.sql(f"SELECT {cols} FROM {TABLE}").df()

    def stored_bytes(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.lake_dir):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def close(self) -> None:
        self.con.close()


def _patch_layers(tracer: Tracer) -> None:
    from s3_glue_redshift_guide_spark import orchestration
    from s3_glue_redshift_guide_spark.operators.projection import SchemaMapping
    from s3_glue_redshift_guide_spark.sinks.upsert import UpsertWriter
    from s3_glue_redshift_guide_spark.sources.incremental import IncrementalFileSource
    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    tracer.patch(orchestration.FileTriggeredWorkflow, "poll_once", "orchestration.poll")
    # fire() looks ``crawl`` up in the orchestration module's namespace
    tracer.patch(orchestration, "crawl", "sources.inference.crawl")
    tracer.patch(IncrementalFileSource, "run_once", "sources.incremental.run_once")
    tracer.patch(SchemaMapping, "apply", "operators.projection.apply")
    tracer.patch(SnapshotTable, "commit_append", "sources.snapshots.commit_append")
    tracer.patch(SnapshotTable, "merge_mor", "sources.snapshots.merge_mor")
    tracer.patch(SnapshotTable, "optimize_small_files", "sources.snapshots.optimize")
    tracer.patch(UpsertWriter, "upsert", "sinks.upsert.upsert")


def run(ctx) -> dict:
    """Set up, measure whole cycles for ``ctx.seconds``, check, report."""
    from s3_glue_redshift_guide_spark.sources.snapshots import LOG_METRICS

    tracer: Tracer = ctx.tracer
    landings = OrdersLandings(ctx.seed, rows=LANDING_ROWS)

    # -- set-up, repeated: (re)start the session, build a fresh pipeline
    setups, spark, pipe = [], None, None
    for rep in range(ctx.setup_reps):
        t0 = time.perf_counter()
        spark = common.start_session() if spark is None else common.restart_session(spark)
        ctx.spark = spark
        if pipe is not None:
            pipe.close()
        pipe = Pipeline(spark, os.path.join(ctx.work, f"etl{rep}"), tracer)
        setups.append(time.perf_counter() - t0)
    # staging: the warm landing gives the table and the warehouse their
    # first batch
    first = landings.landing(0)
    t0 = time.perf_counter()
    pipe.land(first)
    warm_ok = pipe.process(first, LANDING_ROWS)
    staging = time.perf_counter() - t0
    keys_landed = LANDING_ROWS
    ctx.log(f"set-up done: {', '.join(f'{t:.2f}' for t in setups)} s, "
            f"staging {staging:.2f} s")

    _patch_layers(tracer)
    pipe.merge_phases.clear()
    jobs, log_deltas = [], []
    ctx.proc.mark()
    t_start, i, jid = time.perf_counter(), 1, 0
    while True:
        for _ in range(LANDINGS_PER_CYCLE):
            landing = landings.landing(i)
            if not landing.is_update:
                keys_landed += LANDING_ROWS
            log0 = dict(LOG_METRICS)
            pipe.land(landing)
            with tracer.job(jid, "bench.job", kind="landing"):
                t0 = time.perf_counter()  # the file is fully written
                ok = pipe.process(landing, keys_landed)
                wall = time.perf_counter() - t0
            jid += 1
            log_deltas.append({k: LOG_METRICS[k] - log0[k] for k in LOG_METRICS})
            jobs.append((wall, LANDING_ROWS, ok))
            i += 1
        with tracer.job(jid, "bench.compaction", kind="compaction"):
            pipe.table.optimize_small_files(32 << 20, 128 << 20)
        jid += 1
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    window = time.perf_counter() - t_start
    cpu, rss = ctx.proc.cpu_s(), ctx.proc.peak_rss_mb()
    tracer.unpatch_all()
    ctx.log(f"measured {len(jobs)} landings in {window:.1f} s: "
            + " ".join(f"{w:.2f}" for w, _, _ in jobs))

    # -- correctness: lake and warehouse against DuckDB's own LWW state
    files = glob.glob(os.path.join(pipe.landing_dir, "landing-*.csv"))
    ref = common.frame_digest(lww_reference(files))
    lake = common.frame_digest(pipe.lake_frame())
    wh = common.frame_digest(pipe.warehouse_frame())
    state_ok = warm_ok and lake == ref and wh == ref
    if not state_ok:
        ctx.log(f"etl state mismatch: ref={ref} lake={lake} warehouse={wh} warm={warm_ok}")

    cycles = (i - 1) // LANDINGS_PER_CYCLE
    extra = {}
    if tracer.enabled:
        extra = _layer_metrics(tracer, pipe, log_deltas, files, cycles)
    pipe.close()
    return {
        "setups": setups, "staging": staging, "jobs": jobs, "window": window, "cpu": cpu,
        "rss": rss, "state_ok": state_ok, "cycles": cycles, "layers": extra,
    }


def _layer_metrics(tracer: Tracer, pipe: Pipeline, log_deltas, files, cycles) -> dict:
    """Counters of the measured window: sums per cycle, gauges at its end."""
    from s3_glue_redshift_guide_spark.sources.snapshots import load_manifest

    polls = tracer.named("orchestration.poll")
    fired = [s.attrs["result"] for s in polls if s.attrs.get("result") is not None]

    def phase(key):
        return sum(p.get(key, 0.0) for p in pipe.merge_phases)

    sums = {
        "orchestration.fires": len(fired),
        "orchestration.empty_polls": len(polls) - len(fired),
        "sources.incremental.batches": sum(
            s.attrs.get("result") or 0 for s in tracer.named("sources.incremental.run_once")),
        "sources.incremental.files_new": sum(r.trigger_files for r in fired),
        "sources.snapshots.merge.detect_matched_s": phase("detect_matched_sec"),
        "sources.snapshots.merge.sidecar_write_s": phase("sidecar_write_sec"),
        "sources.snapshots.merge.post_insert_write_s": phase("post_insert_write_sec"),
        "sources.snapshots.merge.publish_s": phase("publish_sec"),
        "sources.snapshots.manifest_reads": sum(d["manifest_reads"] for d in log_deltas),
        "sources.snapshots.listdir_scans": sum(d["listdir_scans"] for d in log_deltas),
        "sinks.rows_loaded": sum(
            s.attrs.get("result") or 0 for s in tracer.named("sinks.upsert.upsert")),
    }
    out = {k: v / cycles for k, v in sums.items()}
    total_files = phase("files_total")
    version = pipe.table.current_version()
    out.update({
        "sources.inference.files_in_prefix": len(files),
        "sources.snapshots.merge.files_scanned_ratio": (
            phase("files_scanned") / total_files if total_files else 0.0),
        "sources.snapshots.files_live": len(load_manifest(pipe.lake_dir, version)["files"]),
        "sources.snapshots.versions": version,
        "sources.snapshots.stored_bytes_per_input_byte": (
            pipe.stored_bytes() / pipe.landed_bytes),
    })
    return out
