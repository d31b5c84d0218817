"""The ingestion half of ``ingest_upsert``: the reference's own job, a
watermark-incremental load.

The source starts with a two-year history whose watermark state is seeded
as a backfill would have left it (``LastLoadDate`` = max(COALESCE(wm)) -
80 h per fact table). Before each round a seeded increment is appended to
the source; the round runs ``Orchestrator.run`` with the next run date, and
its operations are the per-table loads. Checks recompute, with pyarrow from
the generated files, the rows each load must land, their content, and the
watermark state it must store.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.spans import Traced, layer_totals

TABLES = ("events", "orders", "lineitem", "region", "nation", "customer",
          "supplier", "part")
# lineitem's COALESCE order comes from a {task}_{table}_watermarks config
# row; the other fact tables use the package's name heuristic
WATERMARKS = {
    "events": ["createddate", "modifieddate"],
    "orders": ["createddate", "modifieddate"],
    "lineitem": ["modifieddate", "createddate"],
}
LAG_US = 80 * 3600 * 1_000_000
DEFAULT_SF = 0.01


def _run_date(cycle: int) -> str:
    return (gen.T0 + timedelta(days=cycle)).strftime("%Y-%m-%d")


def _writer_files(name, args, kwargs, rec) -> None:
    """After a writer call: files and bytes now under the written path."""
    if name not in ("write", "write_partitioned"):
        return
    path = args[2] if len(args) > 2 else kwargs["path"]
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    rec["x_files_written"] = n
    rec["x_bytes_written"] = b


class _Lake:
    """One source directory + lake + state + config, wired to one
    Orchestrator (and a traced twin sharing the same collaborators)."""

    def __init__(self, spark, root: str, seed: int, sf: float):
        from bigdataingestion_spark.config.repository import ConfigRepository
        from bigdataingestion_spark.config.state import TableLoadDetails
        from bigdataingestion_spark.sinks.audit import AuditLog
        from bigdataingestion_spark.sinks.writer import DatalakeWriter
        from bigdataingestion_spark.sources.files import FileSource

        self.spark, self.root, self.seed, self.sf = spark, root, seed, sf
        self.src = os.path.join(root, "src")
        self.db_dir = os.path.join(self.src, "db")
        self.lake = os.path.join(root, "lake")
        self.state_path = os.path.join(root, "state", "TableLoadDetails.parquet")
        self.next_key = gen.ingest_source(seed, sf, self.db_dir)
        config = ConfigRepository(os.path.join(root, "config", "configvalues.parquet"))
        config.insert("dcx_postgresql_db_settings", "db_db_name", "db")
        config.insert("dcx_postgresql_table_settings", "db_tables", ",".join(TABLES))
        config.insert(
            "dcx_postgresql_watermark_settings", "db_lineitem_watermarks",
            ",".join(WATERMARKS["lineitem"]),
        )
        self.parts = {
            "source": FileSource(spark, self.src),
            "writer": DatalakeWriter(self.lake),
            "config": config,
            "state": TableLoadDetails(self.state_path),
        }
        self.audit = AuditLog(path=os.path.join(root, "audit.jsonl"))
        history = {
            t: pq.read_table(os.path.join(self.db_dir, f"{t}.parquet", "part-00000.parquet"))
            for t in gen.FACT_TABLES
        }
        # above every per-cycle increment: every load takes the
        # small-overwrite path
        self.limit = min(t.num_rows for t in history.values()) // 3
        self.cycle = 0
        # the state a backfill of the history would have stored (the
        # backfill itself is not run: it would not fit the time budget)
        self.seed_state = {
            t: _max_watermark(history[t], WATERMARKS[t]) - LAG_US for t in history
        }
        orch = self.orchestrator()
        for t, us in self.seed_state.items():
            orch.state.merge(
                orch.system_type_for("db", t), orch.state_database, t,
                datetime(1970, 1, 1) + timedelta(microseconds=us),
                insert_allowed=True,
            )

    def orchestrator(self, tracer=None):
        from bigdataingestion_spark.pipeline.orchestrator import Orchestrator

        p = dict(self.parts)
        if tracer is not None:
            p = {
                "source": Traced(p["source"], tracer, "sources.files"),
                "writer": Traced(p["writer"], tracer, "sinks.writer", _writer_files),
                "config": Traced(p["config"], tracer, "config.repository"),
                "state": Traced(p["state"], tracer, "config.state"),
            }
        return Orchestrator(
            spark=self.spark, audit=self.audit, single_batch_limit=self.limit,
            write_strategy="partitioned", **p,
        )

    def add_increment(self) -> None:
        self.cycle += 1
        gen.ingest_increment(self.seed, self.db_dir, self.cycle, self.next_key)


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = ctx.sf or DEFAULT_SF
        self.runs: list[dict] = []  # one per Orchestrator.run: cycle, results, ops

    def setup(self) -> dict:
        t = time.perf_counter()
        self.lk = _Lake(self.ctx.spark, os.path.join(self.ctx.work, "main"),
                        self.ctx.seed, self.sf)
        return {"gen_s": time.perf_counter() - t, "prepare_s": 0.0}

    def prepare(self, i: int) -> None:
        self.lk.add_increment()

    def round(self, i: int, tracer) -> float | None:
        lk = self.lk
        orch = lk.orchestrator(tracer if tracer.enabled else None)
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline.orchestrator", "run"):
                results = orch.run(run_date=_run_date(lk.cycle))
            err = None
        except Exception as e:  # noqa: BLE001 - a raised run fails every load
            results, err = [], f"{type(e).__name__}: {e}"
        t = time.perf_counter() - t0
        ops = {}
        for r in results:
            ops[r.table] = self.ctx.op(f"load:{r.table}", t)
            if r.strategy == "failed":
                ops[r.table].fail(f"strategy=failed: {r.error}")
        for tbl in TABLES:
            if tbl not in ops:
                ops[tbl] = self.ctx.op(f"load:{tbl}", t)
                ops[tbl].fail(err or "no IngestionResult for table")
        self.runs.append({
            "cycle": lk.cycle, "results": {r.table: r for r in results},
            "ops": ops, "state": None, "t": t,
        })
        ok = err is None and all(o.ok for o in ops.values())
        return t if ok else None

    def finish(self, i: int) -> None:
        """Keep the state the run stored, for the checks."""
        lk, run = self.lk, self.runs[-1]
        run["state"] = os.path.join(lk.root, "state", f"after-{lk.cycle:05d}.parquet")
        if os.path.exists(lk.state_path):
            shutil.copyfile(lk.state_path, run["state"])
        if self.ctx.fault == "drop_row" and lk.cycle == 1:
            _drop_one_row(run["results"].values())

    # -- checks ----------------------------------------------------------------

    def check(self) -> list[str]:
        failures = []
        prev_state = dict(self.lk.seed_state)
        for run in self.runs:
            cycle = run["cycle"]
            state = _read_state(run["state"])
            for tbl in TABLES:
                op = run["ops"][tbl]
                res = run["results"].get(tbl)
                src = _source_table(self.lk.db_dir, tbl, cycle)
                wm_cols = WATERMARKS.get(tbl)
                if wm_cols:
                    wm = _watermark(src, wm_cols)
                    src = src.filter(pc.greater_equal(wm, prev_state[tbl]))
                    expect_state = pc.max(wm).as_py() - LAG_US
                # a load that reported failure was counted when it ran
                why = None
                if res is not None and res.strategy != "failed":
                    if res.rows != src.num_rows:
                        why = f"rows {res.rows} != expected {src.num_rows}"
                    elif not _same_rows(src, res.path):
                        why = "landed rows differ from the source rows"
                    elif wm_cols and state.get(tbl) != expect_state:
                        why = (f"LastLoadDate {state.get(tbl)} "
                               f"!= expected {expect_state}")
                if why:
                    op.fail(why)
                    failures.append(f"cycle {cycle} {tbl}: {why}")
                if wm_cols:
                    prev_state[tbl] = expect_state
        return failures

    def lake_size(self) -> tuple[int, int]:
        """Live data-file bytes and rows of the lake."""
        files = _data_files(self.lk.lake)
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return sum(os.path.getsize(f) for f in files), rows

    def detail(self) -> dict:
        cycles = [r["t"] for r in self.runs if all(o.ok for o in r["ops"].values())]
        return {
            "sf": self.sf,
            "single_batch_limit": self.lk.limit,
            "ingest_cycle_rows": sum(r.rows for r in self.runs[0]["results"].values()),
            "ingest_cycle_p50_s": float(np.median(cycles)) if cycles else None,
            "ingest_cycles": len(cycles),
            "strategies": {t: x.strategy for t, x in self.runs[0]["results"].items()},
        }

    # -- per-layer --------------------------------------------------------------

    def layers(self, spans: list[dict]) -> dict:
        out = {}
        for layer in ("config.repository", "config.state"):
            tot = layer_totals(spans, layer)
            out[f"{layer}.calls"] = tot["calls"]
            out[f"{layer}.time_s"] = tot["time_s"]
        tot = layer_totals(spans, "sources.files")
        out.update({
            "sources.files.calls": tot["calls"],
            "sources.files.time_s": tot["time_s"],
            "sources.files.jobs": tot["jobs"],
        })
        tot = layer_totals(spans, "pipeline.orchestrator")
        out.update({
            "pipeline.orchestrator.self_s": tot["self_s"],
            "pipeline.orchestrator.jobs": tot["jobs"],
            "pipeline.orchestrator.executor_run_s": tot["executor_run_s"],
        })
        tot = layer_totals(spans, "sinks.writer")
        for k in ("calls", "time_s", "driver_s", "jobs", "tasks", "executor_run_s"):
            out[f"sinks.writer.{k}"] = tot[k]
        out["sinks.writer.files_written"] = tot.get("x_files_written", 0)
        out["sinks.writer.bytes_written"] = tot.get("x_bytes_written", 0)
        return out


def _source_table(db_dir: str, tbl: str, cycle: int) -> pa.Table:
    """The source as the run of ``cycle`` saw it: parts 0..cycle."""
    d = os.path.join(db_dir, f"{tbl}.parquet")
    names = sorted(
        f for f in os.listdir(d)
        if f == "part-00000.parquet"
        or (f.startswith("part-c") and int(f[6:11]) <= cycle)
    )
    return pa.concat_tables(pq.read_table(os.path.join(d, f)) for f in names)


def _watermark(t: pa.Table, cols: list[str]) -> pa.Array:
    """COALESCE(cols) as epoch microseconds."""
    return pc.coalesce(*[t[c] for c in cols]).cast(pa.int64())


def _max_watermark(t: pa.Table, cols: list[str]) -> int:
    return pc.max(_watermark(t, cols)).as_py()


def _read_state(path: str) -> dict[str, int]:
    if not os.path.exists(path):
        return {}
    t = pq.read_table(path, columns=["TableName", "LastLoadDate"])
    us = t["LastLoadDate"].cast(pa.timestamp("us")).cast(pa.int64())
    return dict(zip(t["TableName"].to_pylist(), us.to_pylist()))


def _row_digests(t: pa.Table) -> np.ndarray:
    import pandas as pd

    cols = sorted(t.column_names)
    df = t.select(cols).to_pandas()
    return np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())


def _same_rows(src: pa.Table, path: str | None) -> bool:
    if path is None:
        return src.num_rows == 0
    # the partitioned write lays files out under _ingest_year=/_ingest_month=
    # directories, which dataset discovery would skip as hidden
    landed = ds.dataset(_data_files(path), format="parquet").to_table()
    if sorted(landed.column_names) != sorted(src.column_names):
        return False
    landed = landed.select(src.column_names).cast(src.schema)
    return np.array_equal(_row_digests(landed), _row_digests(src))


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _drop_one_row(results) -> None:
    """Planted fault: delete one row from one landed orders file."""
    for r in results:
        if r.table == "orders" and r.path:
            for f in _data_files(r.path):
                t = pq.read_table(f)
                if t.num_rows:
                    pq.write_table(t.slice(1), f)
                    return
