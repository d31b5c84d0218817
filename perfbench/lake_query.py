"""``lake_query``: the 14 headline catalog queries, in passes.

Round = one pass over all 14 in an order shuffled by the seed; operation =
one query (build the DataFrame, plan, collect). It only reads. Each result
is checked against a DuckDB run of the query's ``oracle_sql()`` over the
same generated files, by row count, column names and an order-insensitive
value hash.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.spans import layer_totals

# executor-CPU and shuffle bound; the other nine are relational queries
# bound by DataFrame build and driver time
OPERATOR_QUERIES = frozenset({
    "text_quality_stats", "training_data_pipeline", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "embedding_cosine_topk",
})
DEFAULT_SF = 0.1
_FIELDS = ("driver_s", "jobs", "stages", "tasks", "executor_run_s",
           "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")


def canon(v) -> str:
    """Value rendering of the catalog's oracle gate (scripts/check_oracle.py)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile)``; ``(None, None)`` below eleven samples."""
    n = len(samples)
    if n < 11:
        return None, None
    k = n - 11  # 0-based rank with exactly ten samples above it
    return sorted(samples)[k], 100.0 * (k + 1) / n


class LakeQuery:
    def __init__(self, ctx):
        from bigdataingestion_spark import catalog

        self.ctx = ctx
        self.sf = ctx.sf or DEFAULT_SF
        self.queries = catalog.headline_queries()
        self.oracle = {n: catalog.oracle_sql()[n] for n in self.queries}
        self.runs: list[dict] = []  # one per query execution
        self.passes: list[float] = []

    def setup(self) -> dict:
        t = time.perf_counter()
        self.lake = os.path.join(self.ctx.work, "lake")
        gen.write_tables(gen.base_tables(self.ctx.seed, self.sf), self.lake)
        return {"gen_s": time.perf_counter() - t, "prepare_s": 0.0}

    def prepare(self, i: int) -> None:
        pass

    def round(self, i: int, tracer) -> float | None:
        from bigdataingestion_spark.caching import release_caches

        order = sorted(self.queries)
        random.Random(f"{self.ctx.seed}:{i}").shuffle(order)
        total, ok = 0.0, True
        for name in order:
            layer = "operators" if name in OPERATOR_QUERIES else "catalog"
            t0 = time.perf_counter()
            try:
                with tracer.span(layer, "build", query=name):
                    df = self.queries[name](self.ctx.spark, self.lake)
                if tracer.enabled:
                    with tracer.span(layer, "plan", query=name):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span(layer, "exec", query=name):
                    rows = [tuple(r) for r in df.collect()]
                cols, err = df.columns, None
            except Exception as e:  # noqa: BLE001 - a raised query is a failed op
                rows, cols, err = [], [], f"{type(e).__name__}: {e}"
            t = time.perf_counter() - t0
            release_caches()
            op = self.ctx.op(f"query:{name}", t)
            if err:
                op.fail(err)
            if self.ctx.fault == "perturb_result" and not self.runs and rows:
                rows[0] = ("perturbed",) + rows[0][1:]
            self.runs.append({
                "query": name, "t": t, "op": op, "cols": cols, "n": len(rows),
                "rows": None if err else rows, "hash": None,
            })
            total += t
            ok = ok and op.ok
        self.passes.append(total)
        return total if ok else None

    def finish(self, i: int) -> None:
        """Digest the round's results, outside its measured window."""
        for r in self.runs[len(self.queries) * i:]:
            if r["rows"] is not None:
                r["hash"] = value_hash(r["cols"], r.pop("rows"))

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            tmp = os.path.join(self.ctx.work, "duckdb-tmp")
            con.execute(f"SET temp_directory = '{tmp}'")
            for t in gen.TABLES:
                path = os.path.join(self.lake, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            expect = {}
            for name, sql in self.oracle.items():
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                expect[name] = (sorted(cols), len(rows), value_hash(cols, rows))
        finally:
            con.close()
        failures = []
        for r in self.runs:
            if r["hash"] is None:
                continue
            cols, n, h = expect[r["query"]]
            why = None
            if sorted(r["cols"]) != cols:
                why = f"columns {sorted(r['cols'])} != oracle {cols}"
            elif r["n"] != n:
                why = f"rows {r['n']} != oracle {n}"
            elif r["hash"] != h:
                why = "value hash differs from the oracle"
            if why:
                r["op"].fail(why)
                failures.append(f"{r['query']}: {why}")
        return failures

    def lake_size(self) -> tuple[int, int]:
        """Bytes and rows of the lake it reads (as generated)."""
        files = [os.path.join(self.lake, f"{t}.parquet") for t in gen.TABLES]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return sum(os.path.getsize(f) for f in files), rows

    def detail(self) -> dict:
        ok = [r for r in self.runs if r["op"].ok]
        lat = [r["t"] for r in ok]
        t_val, t_pct = tail(lat)
        per_query = {}
        for r in ok:
            per_query.setdefault(r["query"], []).append(r["t"])
        nq = len(self.queries)
        good_passes = [
            p for k, p in enumerate(self.passes)
            if all(r["op"].ok for r in self.runs[nq * k:nq * (k + 1)])
        ]
        return {
            "sf": self.sf,
            "query_pass_s": float(np.median(good_passes)) if good_passes else None,
            "query_p50_s": float(np.median(lat)) if lat else None,
            "query_tail_s": t_val,
            "query_tail_percentile": t_pct,
            "query_samples": len(lat),
            "per_query_p50_s": {q: float(np.median(v)) for q, v in sorted(per_query.items())},
        }

    def layers(self, spans: list[dict]) -> dict:
        out = {}
        for layer in ("catalog", "operators"):
            build = layer_totals(spans, layer, {"build"})
            tot = layer_totals(spans, layer)
            out[f"{layer}.build_s"] = build["time_s"]
            out[f"{layer}.build_jobs"] = build["jobs"]
            out[f"{layer}.plan_s"] = layer_totals(spans, layer, {"plan"})["time_s"]
            out[f"{layer}.exec_s"] = layer_totals(spans, layer, {"exec"})["time_s"]
            for k in _FIELDS:
                out[f"{layer}.{k}"] = tot[k]
        return out
