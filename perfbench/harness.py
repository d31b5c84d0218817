"""Run one workload: session, inputs, set-up, closed loop, checks, report."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.layers import PER_LAYER
from perfbench.spans import Tracer

END_TO_END_UNITS = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "lake_bytes_per_row": "B/row",
}


@dataclass
class Op:
    """One timed call of the closed loop. ``ok`` turns false when the call
    raised, reported a failure, or an output check rejected its result."""

    kind: str
    t: float
    ok: bool = True
    error: str | None = None

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = self.error or why[:300]


@dataclass
class Context:
    spark: object
    seed: int
    sf: float | None
    fault: str | None
    work: str
    ops: list[Op] = field(default_factory=list)

    def op(self, kind: str, t: float) -> Op:
        o = Op(kind, t)
        self.ops.append(o)
        return o


def _workload(name: str, ctx: Context):
    if name == "lake_query":
        from perfbench.lake_query import LakeQuery

        return LakeQuery(ctx)
    from perfbench.ingest_upsert import IngestUpsert

    return IngestUpsert(ctx)


def _provenance(root: str) -> dict:
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    # a checkout need not be a git repository: a digest of the package
    # sources identifies the code under test either way
    h = hashlib.sha256()
    pkg = os.path.join(root, "bigdataingestion_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "package_sha256": h.hexdigest()}


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the JVM, Spark's Python workers, and children of theirs
    that have exited. The kernel leaves steal time out of these counters, so
    unlike wall time they do not grow when the host runs other guests."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # exited while we listed
            continue
        rest = s[s.rindex(")") + 2:].split()
        pid = int(d)
        ppid[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15])  # u/s time, reaped u/s
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in ppid.items() if pp == p and c not in tree)
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


# Thread CPU seconds one pass of ``_calibrate``'s fixed mix takes on the
# reference host (an idle 4-vCPU Xeon VM). CPU figures are reported scaled
# by CAL_REF_S / (the measured pass), i.e. in seconds at that reference
# speed: on a shared host the CPU time of fixed work drifts by up to 2x over
# minutes as other guests come and go, and the scaling cancels that drift
# without touching what the package's code costs.
CAL_REF_S = 0.25


def _calibrate(reps: int = 5) -> float:
    """Median thread CPU seconds of one pass of a fixed single-threaded mix
    (an interpreter loop, a numpy sort, an md5) that never calls the
    package: the host's current speed."""
    import numpy as np

    data = np.random.default_rng(0).random(3_000_000)
    blob = bytes(range(256)) * (256 * 1024)
    ts = []
    for _ in range(reps):
        t0 = time.thread_time()
        acc = 0
        for i in range(1_500_000):
            acc += i * i % 7
        np.sort(data)
        hashlib.md5(blob).digest()
        ts.append(time.thread_time() - t0)
    return statistics.median(ts)


def _median(xs):
    return statistics.median(xs) if xs else None


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (the JVM quits on stdin
    EOF; kill it if it has not within a minute)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, root: str) -> int:
    wall0 = time.time()
    work = os.path.join(
        root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    out_dir = os.path.join(root, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # keep every scratch file inside the checkout: Python and JVM temp
    # files, Spark's block and shuffle files; no JVM perf-data in /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    prov = _provenance(root)

    from bigdataingestion_spark.session import get_spark

    # the host's speed, taken before Spark starts, after set-up and after
    # each round; each CPU figure is scaled by the mean of the two readings
    # that bracket it
    cal = [_calibrate()]
    spark = None
    rounds: list[dict] = []
    try:
        t0 = time.perf_counter()
        setup_cpu0 = _tree_cpu_s()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # first job: executor and scheduler are up
        session_start_s = time.perf_counter() - t0

        ctx = Context(spark, args.seed, args.sf, args.fault, work)
        wl = _workload(args.workload, ctx)
        setup = wl.setup()
        setup_cpu_s = _tree_cpu_s() - setup_cpu0
        cal.append(_calibrate())
        setup_scale = CAL_REF_S / statistics.mean(cal)
        setup_wall_s = session_start_s + setup["gen_s"] + setup["prepare_s"]
        loop0 = time.perf_counter()
        deadline = loop0 + args.seconds
        tracer = Tracer(spark, enabled=bool(args.trace))
        i = 0
        while True:
            # the round's inputs are built before, and its outputs digested
            # after, the measured window: it holds the package's work only
            wl.prepare(i)
            first_span = len(tracer.spans)
            first_op = len(ctx.ops)
            over0 = tracer.overhead_s
            cpu0 = _tree_cpu_s()
            t = wl.round(i, tracer)
            cpu_s = _tree_cpu_s() - cpu0
            cal.append(_calibrate())
            rounds.append({
                "i": i, "t": t, "cpu_s": cpu_s,
                "cpu_scale": CAL_REF_S / statistics.mean(cal[-2:]),
                "spans": tracer.spans[first_span:],
                "ops": ctx.ops[first_op:], "overhead_s": tracer.overhead_s - over0,
            })
            wl.finish(i)
            i += 1
            if time.perf_counter() >= deadline:
                break
        loop_s = time.perf_counter() - loop0
        failures = wl.check()
        lake_bytes, lake_rows = wl.lake_size()
        bytes_per_row = lake_bytes / lake_rows if lake_rows else None
        detail = wl.detail()
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        default_parallelism = spark.sparkContext.defaultParallelism
        master = spark.sparkContext.master
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ctx.ops)
    failed = sum(not o.ok for o in ctx.ops)
    ok_rounds = [
        r for r in rounds if r["t"] is not None and all(o.ok for o in r["ops"])
    ]
    round_wall = _median([r["t"] for r in ok_rounds])
    round_cpu = _median([r["cpu_s"] for r in ok_rounds])
    round_cpu_scaled = _median([r["cpu_s"] * r["cpu_scale"] for r in ok_rounds])
    result_metrics: dict[str, dict] = {}
    if args.trace:
        per_round = [wl.layers(r["spans"]) for r in ok_rounds]
        over = _median([r["overhead_s"] for r in ok_rounds])
        fixed = {
            "session.start_s": session_start_s,
            "trace.round_s": round_wall,
            "trace.overhead_s": over,
            "trace.overhead_pct":
                None if over is None else 100.0 * over / (round_wall - over),
        }
        for k, unit in PER_LAYER:
            v = fixed[k] if k in fixed else _median([p.get(k, 0) for p in per_round])
            result_metrics[k] = {"value": v, "unit": unit}
    else:
        vals = {
            "setup_s": setup_cpu_s * setup_scale,
            "round_cpu_s": round_cpu_scaled,
            "lake_bytes_per_row": bytes_per_row,
        }
        result_metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in vals.items()
        }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "fault": args.fault,
        "provenance": {
            **prov,
            "nproc": nproc,
            "master": master,
            "default_parallelism": default_parallelism,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "python": sys.version.split()[0],
        },
        "setup": {"session_start_s": session_start_s, **setup,
                  "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
                  "cpu_scale": setup_scale},
        "loop_s": loop_s,
        "calibration_s": cal,
        "rounds": [
            {"i": r["i"], "t": r["t"], "cpu_s": r["cpu_s"],
             "cpu_scale": r["cpu_scale"], "overhead_s": r["overhead_s"],
             "ok": all(o.ok for o in r["ops"])}
            for r in rounds
        ],
        "workload_metrics": {
            **detail,
            "round_wall_p50_s": round_wall,
            "round_cpu_raw_s": round_cpu,
            "failed_op_ratio": failed / attempted if attempted else None,
            "peak_rss_mb": peak_rss,
            "lake_bytes_per_row": bytes_per_row,
        },
        "failures": failures[:50],
        "attempted": attempted,
        "failed": failed,
        "wall_s": time.time() - wall0,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(
            {**record, "spans": [s for r in rounds for s in r["spans"]]},
            f, indent=1, default=str,
        )
    print(json.dumps({"perfbench_detail": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }))
    return 0
