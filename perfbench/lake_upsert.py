"""``lake_upsert``: CDC upserts into one transaction-log table, with two
incremental views over it and reads after every write.

Setup seeds a ``TxLogTable`` from ``orders`` with ``cdf.enabled`` and builds
a count/sum view (additive refresh) and a max view (recompute refresh), both
grouped by ``o_custkey``. Round = one batch: ``merge_upsert`` of a seeded
CDC batch, a refresh of each view, and a lookup of the batch's keys through
``TxLogTable.read``. Checks replay seed + batches in pandas: the final table
must equal the replay, each view a from-scratch GROUP BY of it, and every
lookup exactly its batch's rows.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.lake_query import canon
from perfbench.spans import layer_totals

DEFAULT_SF = 0.01
KEY = "o_orderkey"
GROUP = "o_custkey"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]


def _canon_rows(rows) -> list[str]:
    return sorted("|".join(canon(v) for v in r) for r in rows)


def _pandas_rows(df: pd.DataFrame) -> list[tuple]:
    out = []
    for r in df[COLS].itertuples(index=False):
        r = list(r)
        r[4] = r[4].to_pydatetime()
        out.append(tuple(r))
    return out


class LakeUpsert:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = ctx.sf or DEFAULT_SF
        self.batches: list[dict] = []

    def setup(self) -> dict:
        from bigdataingestion_spark.sinks.matview import IncrementalAggView
        from bigdataingestion_spark.sinks.txlog import TxLogTable

        spark, work = self.ctx.spark, self.ctx.work
        t = time.perf_counter()
        orders = gen.base_tables(self.ctx.seed, self.sf, ("orders",))["orders"]
        seed_file = os.path.join(work, "seed", "orders.parquet")
        os.makedirs(os.path.dirname(seed_file))
        pq.write_table(orders, seed_file)
        self.replay = orders.to_pandas().set_index(KEY, drop=False)
        self.n_cust = int(orders[GROUP].to_numpy().max()) + 1
        self.next_key = int(orders[KEY].to_numpy().max()) + 1
        self.batch_rows = max(50, orders.num_rows // 80)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        self.table = TxLogTable(os.path.join(work, "orders_tx"))
        self.table.append(spark.read.parquet(seed_file))
        self.table.alter_properties({"cdf.enabled": "true"})
        self.view_add = IncrementalAggView(
            self.table, os.path.join(work, "mv_count_sum"), [GROUP],
            {"n": ("count", "1"), "s": ("sum", "o_totalprice")},
        )
        self.view_max = IncrementalAggView(
            self.table, os.path.join(work, "mv_max"), [GROUP],
            {"mx": ("max", "o_totalprice")},
        )
        self.view_add.build(spark)
        self.view_max.build(spark)
        return {"gen_s": gen_s, "prepare_s": time.perf_counter() - t}

    def prepare(self, i: int) -> None:
        """Write the round's CDC batch and read it as the merge's source."""
        n = len(self.batches)
        batch = gen.cdc_batch(
            self.ctx.seed, n, self.replay.index.to_numpy(), self.next_key,
            self.n_cust, self.batch_rows,
        )
        path = os.path.join(self.ctx.work, "cdc", f"batch-{n:05d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(batch, path)
        keys = batch[KEY].to_pylist()
        self.next_key = max(self.next_key, max(keys) + 1)
        self.pending = {
            "batch": batch, "path": path, "keys": keys,
            "src": self.ctx.spark.read.parquet(path),
            "rec": {"i": i, "rows": _pandas_rows(batch.to_pandas()), "ops": {},
                    "read_rows": None},
        }

    def round(self, i: int, tracer) -> float | None:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        p = self.pending
        src, keys, rec = p["src"], p["keys"], p["rec"]
        skip = self.ctx.fault == "skip_upsert" and i == 0

        def timed(kind, layer, name, fn, after=None):
            """Run one operation in its span; ``after(out, span)`` runs once
            the span has closed (traced runs only)."""
            t0 = time.perf_counter()
            err, sp = None, None
            try:
                with tracer.span(layer, name) as sp:
                    out = fn()
            except Exception as e:  # noqa: BLE001 - a raised call is a failed op
                out, err = None, f"{type(e).__name__}: {e}"
            t = time.perf_counter() - t0
            op = self.ctx.op(kind, t)
            if err:
                op.fail(err)
            elif sp is not None and after is not None:
                tracer.after(lambda: after(out, sp))
            rec["ops"][kind] = op
            return out, t

        def merge():
            if skip:
                return None
            return self.table.merge_upsert(spark, src, keys=[KEY])

        def merge_files(v, sp):
            if v is None:
                return
            entry = self.table.commits_between(v - 1, v)[0]
            added = list(entry["add"])
            for paths in (entry.get("cdf") or {}).values():
                added.extend(paths if isinstance(paths, list) else [paths])
            sp["x_files_added"] = len(entry["add"])
            sp["x_files_removed"] = len(entry["remove"])
            sp["x_bytes_per_source_byte"] = sum(
                os.path.getsize(os.path.join(self.table.path, f)) for f in added
            ) / os.path.getsize(p["path"])

        def live_files(snap, sp):
            sp["x_live_files"] = len(snap.files)

        def read():
            df = self.table.read(spark).filter(F.col(KEY).isin(keys))
            return [tuple(r[c] for c in COLS) for r in df.collect()]

        total = 0.0
        _, t = timed("merge_upsert", "sinks.txlog", "merge_upsert", merge,
                     merge_files)
        total += t
        _, t = timed("refresh_additive", "sinks.matview", "refresh_additive",
                     lambda: self.view_add.refresh(spark))
        total += t
        _, t = timed("refresh_recompute", "sinks.matview", "refresh_recompute",
                     lambda: self.view_max.refresh(spark))
        total += t
        _, t = timed("snapshot", "sinks.txlog", "snapshot", self.table.snapshot,
                     live_files)
        total += t
        rec["read_rows"], t = timed("read", "sinks.txlog", "read", read)
        total += t
        ok = all(o.ok for o in rec["ops"].values())
        return total if ok else None

    def finish(self, i: int) -> None:
        """Apply the batch to the replay, whether or not the merge ran."""
        p, self.pending = self.pending, None
        upd = p["batch"].to_pandas().set_index(KEY, drop=False)
        self.replay = pd.concat([self.replay.drop(upd.index, errors="ignore"), upd])
        self.batches.append(p["rec"])

    def check(self) -> list[str]:
        spark = self.ctx.spark
        failures = []
        for b in self.batches:
            if b["read_rows"] is None:
                continue
            if _canon_rows(b["read_rows"]) != _canon_rows(b["rows"]):
                why = (f"lookup returned {len(b['read_rows'])} rows, "
                       f"not the batch's {len(b['rows'])}")
                b["ops"]["read"].fail(why)
                failures.append(f"batch {b['i']}: {why}")
        first = self.batches[0]["ops"]
        last = self.batches[-1]["ops"]
        try:
            got = self.table.read(spark).select(*COLS).collect()
        except Exception as e:  # noqa: BLE001 - an unreadable table fails the merge
            got, why = [], f"final table unreadable: {type(e).__name__}: {e}"
        else:
            why = None
            if _canon_rows(got) != _canon_rows(_pandas_rows(self.replay)):
                why = (f"final table ({len(got)} rows) differs from the replay "
                       f"({len(self.replay)} rows)")
        self.live_rows = len(got)
        if why:
            first["merge_upsert"].fail(why)
            failures.append(why)
        grouped = self.replay.groupby(GROUP)["o_totalprice"]
        want_add = pd.DataFrame({"n": grouped.size(), "s": grouped.sum()})
        want_max = pd.DataFrame({"mx": grouped.max()})
        for view, want, kind in (
            (self.view_add, want_add, "refresh_additive"),
            (self.view_max, want_max, "refresh_recompute"),
        ):
            try:
                got = view.read(spark).toPandas().set_index(GROUP).sort_index()
                why = _frame_diff(got[list(want.columns)], want)
            except Exception as e:  # noqa: BLE001 - an unreadable view fails its refresh
                why = f"view unreadable: {type(e).__name__}: {e}"
            if why:
                last[kind].fail(why)
                failures.append(f"{kind}: {why}")
        return failures

    def lake_size(self) -> tuple[int, int]:
        """Live data-file bytes and rows of the table."""
        return self.table.describe_detail().get("size_bytes", 0), self.live_rows

    def detail(self) -> dict:
        out = {"sf": self.sf, "batch_rows": self.batch_rows,
               "table_rows": self.live_rows}
        for kind, name in (
            ("merge_upsert", "upsert_p50_s"),
            ("refresh_additive", "view_refresh_additive_p50_s"),
            ("refresh_recompute", "view_refresh_recompute_p50_s"),
            ("read", "point_read_p50_s"),
        ):
            ts = [b["ops"][kind].t for b in self.batches if b["ops"][kind].ok]
            out[name] = float(np.median(ts)) if ts else None
        return out

    def layers(self, spans: list[dict]) -> dict:
        m = layer_totals(spans, "sinks.txlog", {"merge_upsert"})
        s = layer_totals(spans, "sinks.txlog", {"snapshot"})
        r = layer_totals(spans, "sinks.txlog", {"read"})
        a = layer_totals(spans, "sinks.matview", {"refresh_additive"})
        x = layer_totals(spans, "sinks.matview", {"refresh_recompute"})
        return {
            "sinks.txlog.merge_s": m["time_s"],
            "sinks.txlog.merge_driver_s": m["driver_s"],
            "sinks.txlog.merge_jobs": m["jobs"],
            "sinks.txlog.merge_tasks": m["tasks"],
            "sinks.txlog.merge_executor_run_s": m["executor_run_s"],
            "sinks.txlog.files_added": m.get("x_files_added", 0),
            "sinks.txlog.files_removed": m.get("x_files_removed", 0),
            "sinks.txlog.bytes_written_per_source_byte":
                m.get("x_bytes_per_source_byte", 0),
            "sinks.txlog.snapshot_s": s["time_s"],
            "sinks.txlog.read_s": r["time_s"],
            "sinks.txlog.read_jobs": r["jobs"],
            "sinks.txlog.read_input_bytes": r["input_bytes"],
            "sinks.txlog.live_files": s.get("x_live_files", 0),
            "sinks.matview.additive_refresh_s": a["time_s"],
            "sinks.matview.additive_refresh_jobs": a["jobs"],
            "sinks.matview.recompute_refresh_s": x["time_s"],
            "sinks.matview.recompute_refresh_jobs": x["jobs"],
            "sinks.matview.refresh_executor_run_s":
                a["executor_run_s"] + x["executor_run_s"],
        }


def _frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal: same groups, exact counts, sums/maxima within
    1e-9 relative (an incremental sum adds in another order)."""
    if list(got.index) != list(want.index):
        return f"{len(got)} groups, from-scratch GROUP BY has {len(want)}"
    for c in want.columns:
        a = got[c].to_numpy(dtype="float64")
        b = want[c].to_numpy(dtype="float64")
        if not np.allclose(a, b, rtol=1e-9, atol=1e-6):
            bad = int(np.argmax(~np.isclose(a, b, rtol=1e-9, atol=1e-6)))
            return f"{c} of group {got.index[bad]}: {a[bad]} != {b[bad]}"
    return None
