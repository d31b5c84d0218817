"""By-key DML on the txlog (merge upsert, key-set delete) + non-parquet
file sources."""

from __future__ import annotations

import uuid

import pytest

from bigdataingestion_spark.sinks.txlog import TxLogTable
from bigdataingestion_spark.sources.files import FileSource
from bigdataingestion_spark.sources.querygen import resolve_table


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "name", "v"]
    )
    t.merge_upsert(spark, base, keys=["id"])
    assert t.read(spark).count() == 3
    src = spark.createDataFrame([(2, "B", 99), (4, "d", 40)], ["id", "name", "v"])
    t.merge_upsert(spark, src, keys=["id"])
    out = {r.id: (r.name, r.v) for r in t.read(spark).collect()}
    assert out == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}


def test_merge_upsert_idempotent(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl2"))
    base = spark.createDataFrame([(1, 10), (2, 20)], ["id", "v"])
    t.merge_upsert(spark, base, keys=["id"])
    t.merge_upsert(spark, base, keys=["id"])  # same source again
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, 10), (2, 20)]
    # the same batch under a txn id already in the log is a no-op commit
    v = t.merge_upsert(spark, base, keys=["id"], txn_id="batch:0")
    assert t.merge_upsert(spark, base, keys=["id"], txn_id="batch:0") == v
    assert t.version() == v


def test_merge_upsert_partitioned_carries_untouched_partition(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl3"))
    base = spark.createDataFrame(
        [(1, 2023, 10), (2, 2024, 20), (3, 2024, 30)], ["id", "year", "v"]
    )
    t.overwrite_partitions(base, ["year"])
    old_2023 = [f for f in t.snapshot().files if "year=2023" in f]
    src = spark.createDataFrame([(2, 2024, 99)], ["id", "year", "v"])
    t.merge_upsert(spark, src, keys=["id"])
    out = {r.id: (r.year, r.v) for r in t.read(spark).collect()}
    assert out == {1: (2023, 10), 2: (2024, 99), 3: (2024, 30)}
    # file pruning: the partition the source never touches is carried by
    # reference, not rewritten
    assert old_2023 and set(old_2023) <= set(t.snapshot().files)
    assert t.history()[-1]["op_metrics"]["files_carried"] >= len(old_2023)


def test_csv_and_json_file_sources(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5)], ["id", "name", "v"]
    )
    csv_dir = tmp_path / "csvdb" / "db"
    json_dir = tmp_path / "jsondb" / "db"
    df.write.option("header", True).csv(str(csv_dir / "t.csv"))
    df.write.json(str(json_dir / "t.json"))

    addr = resolve_table("t", task="x")
    csv_src = FileSource(spark, str(tmp_path / "csvdb"), fmt="csv")
    got = csv_src.read_table("db", addr)
    assert got.count() == 2
    assert set(got.columns) == {"id", "name", "v"}
    json_src = FileSource(spark, str(tmp_path / "jsondb"), fmt="json")
    out = json_src.read_table("db", addr)
    assert out.count() == 2
    assert set(out.columns) == {"id", "name", "v"}


def test_orc_file_source_roundtrip(spark, tmp_path):
    """ORC is a first-class Spark format; FileSource passes fmt through."""
    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.5), (3, "z", 3.5)], ["id", "name", "v"]
    )
    orc_dir = tmp_path / "orcdb" / "db"
    df.write.orc(str(orc_dir / "t.orc"))
    addr = resolve_table("t", task="x")
    got = FileSource(spark, str(tmp_path / "orcdb"), fmt="orc").read_table("db", addr)
    assert got.count() == 3
    assert set(got.columns) == {"id", "name", "v"}
    assert {r["name"] for r in got.collect()} == {"x", "y", "z"}


def test_delete_matching_partitioned_carries_untouched_partition(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl4"))
    base = spark.createDataFrame(
        [(1, 2023, 10), (2, 2024, 20), (3, 2024, 30)], ["id", "year", "v"]
    )
    t.overwrite_partitions(base, ["year"])
    old_2023 = [f for f in t.snapshot().files if "year=2023" in f]
    t.delete_matching(spark, spark.createDataFrame([(2,)], ["id"]), keys=["id"])
    out = {r.id: (r.year, r.v) for r in t.read(spark).collect()}
    assert out == {1: (2023, 10), 3: (2024, 30)}
    # the rewritten rows re-stage into their partition dir; the partition
    # the key set never touches is carried by reference
    assert all(f.startswith("year=") for f in t.snapshot().files)
    assert old_2023 and set(old_2023) <= set(t.snapshot().files)
    last = t.history()[-1]
    assert last["op"] == "delete"
    assert last["op_metrics"]["files_carried"] >= len(old_2023)


def test_delete_matching_runs_auto_compaction(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl5"))
    for i in range(4):
        t.append(
            spark.createDataFrame([(2 * i, "x"), (2 * i + 1, "y")], ["id", "v"])
            .coalesce(1)
        )
    t.alter_properties({"auto.compact.min.files": "4"})
    t.delete_matching(spark, spark.createDataFrame([(3,)], ["id"]), keys=["id"])
    # the delete left 4 small files: post-commit compaction packed them
    assert [e["op"] for e in t.history()[-2:]] == ["delete", "compact"]
    assert len(t.snapshot().files) == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 4, 5, 6, 7]


_SCHEMA = "id long, v string, ord long"


def _four_file_table(spark, path):
    t = TxLogTable(path)
    for i in range(4):
        rows = [(i * 10 + j, f"v{j}", j) for j in range(5)]
        t.append(spark.createDataFrame(rows, _SCHEMA).coalesce(1))
    assert len(t.snapshot().files) == 4
    return t


def _spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` launches (tagged by a fresh job group)."""
    sc = spark.sparkContext
    gid = f"job-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize(
    "mode, expected",
    [("source_wins", 9), ("latest_wins", 13), ("delete", 10)],
)
def test_by_key_dml_job_count_pin(spark, tmp_path, mode, expected):
    """Scheduler round trips of one by-key DML call on a fixed 4-file
    table (one file touched, one key inserted/absent): bounds agg,
    finding scan, the rewrite's write and its AQE stages. A change here
    is a plan-shape change and needs its own measurement."""
    t = _four_file_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([(12, "x", 100), (99, "n", 101)], _SCHEMA)
    runs = {
        "source_wins": lambda: t.merge_upsert(spark, src, keys=["id"]),
        "latest_wins": lambda: t.merge_upsert(
            spark, src, keys=["id"], order_cols=["ord"]
        ),
        "delete": lambda: t.delete_matching(spark, src.select("id"), keys=["id"]),
    }
    assert _spark_jobs(spark, runs[mode]) == expected
    assert t.history()[-1]["op_metrics"]["files_rewritten"] == 1
