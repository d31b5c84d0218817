"""SCD2 history tracking + data-quality expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataingestion_spark.pipeline.quality import (
    Expectation,
    QualityError,
    check,
    expect_unique,
)
from bigdataingestion_spark.sinks.scd2 import apply_scd2, current_view
from bigdataingestion_spark.sinks.txlog import TxLogTable


def test_scd2_lifecycle(spark, tmp_path):
    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "LA")], ["id", "name", "city"]
    )
    apply_scd2(spark, path, v1, keys=["id"], tracked=["name", "city"],
               change_ts="2024-01-01 00:00:00")
    cur = {r.id: (r.name, r.city) for r in current_view(spark, path).collect()}
    assert cur == {1: ("alice", "NY"), 2: ("bob", "LA")}

    # snapshot 2: bob moves, carol appears, alice unchanged
    v2 = spark.createDataFrame(
        [(1, "alice", "NY"), (2, "bob", "SF"), (3, "carol", "TX")],
        ["id", "name", "city"],
    )
    apply_scd2(spark, path, v2, keys=["id"], tracked=["name", "city"],
               change_ts="2024-02-01 00:00:00")
    hist = TxLogTable(path).read(spark)
    assert hist.count() == 4  # alice open, bob closed + bob open, carol open
    cur = {r.id: r.city for r in current_view(spark, path).collect()}
    assert cur == {1: "NY", 2: "SF", 3: "TX"}
    bob_rows = sorted(
        [(str(r.valid_from), str(r.valid_to), r.city)
         for r in hist.filter(F.col("id") == 2).collect()]
    )
    assert bob_rows[0] == ("2024-01-01 00:00:00", "2024-02-01 00:00:00", "LA")
    assert bob_rows[1][2] == "SF" and bob_rows[1][1] == "None"

    # snapshot 3: bob vanishes -> closed, no open row
    v3 = spark.createDataFrame(
        [(1, "alice", "NY"), (3, "carol", "TX")], ["id", "name", "city"]
    )
    apply_scd2(spark, path, v3, keys=["id"], tracked=["name", "city"],
               change_ts="2024-03-01 00:00:00")
    cur = {r.id for r in current_view(spark, path).collect()}
    assert cur == {1, 3}
    # idempotency: same snapshot again changes nothing
    before = TxLogTable(path).read(spark).count()
    apply_scd2(spark, path, v3, keys=["id"], tracked=["name", "city"],
               change_ts="2024-03-02 00:00:00")
    assert TxLogTable(path).read(spark).count() == before
    # every apply is one atomic commit of the whole new history
    assert [h["op"] for h in TxLogTable(path).history()] == ["overwrite"] * 4


def test_orchestrator_quality_gate_isolates_failing_table(spark, tmp_path, sf_smoke_dir):
    """A failing hard expectation aborts only its table; the run continues."""
    import os

    from bigdataingestion_spark.config.repository import ConfigRepository
    from bigdataingestion_spark.config.state import TableLoadDetails
    from bigdataingestion_spark.functions.io import load_table
    from bigdataingestion_spark.pipeline.orchestrator import Orchestrator
    from bigdataingestion_spark.sinks.writer import DatalakeWriter
    from bigdataingestion_spark.sources.files import FileSource

    src = tmp_path / "src" / "db"
    os.makedirs(src)
    load_table(spark, sf_smoke_dir, "events").write.parquet(str(src / "events.parquet"))
    load_table(spark, sf_smoke_dir, "part").write.parquet(str(src / "part.parquet"))
    config = ConfigRepository(str(tmp_path / "c.parquet"))
    config.insert("dcx_postgresql_db_settings", "db_db_name", "db")
    config.insert("dcx_postgresql_table_settings", "db_tables", "events,part")
    orch = Orchestrator(
        spark=spark,
        source=FileSource(spark, str(tmp_path / "src")),
        writer=DatalakeWriter(str(tmp_path / "lake")),
        config=config,
        state=TableLoadDetails(str(tmp_path / "s.parquet")),
        single_batch_limit=100_000,
        quality_checks={
            "events": [
                Expectation(
                    "value_below_50",  # ~half of events violate this
                    F.col("value") < 50,
                    fail_on_violation=True,
                )
            ]
        },
    )
    results = {r.table: r for r in orch.run(run_date="2026-08-13")}
    assert results["events"].strategy == "failed"
    assert "hard expectations failed" in results["events"].error
    assert results["part"].strategy == "small-overwrite"  # unaffected
    assert not os.path.exists(str(tmp_path / "lake" / "events"))


def test_quality_expectations(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 5.0), (3, "c", -1.0), (4, "d", 7.0)],
        ["id", "name", "v"],
    )
    report = check(
        df,
        [
            Expectation("id_not_null", F.col("id").isNotNull(), fail_on_violation=True),
            Expectation("name_not_null", F.col("name").isNotNull()),
            Expectation("v_positive", F.col("v") > 0),
        ],
    )
    assert report.total_rows == 4
    by_name = {r["name"]: r for r in report.results}
    assert by_name["id_not_null"]["passed"]
    assert by_name["name_not_null"]["violations"] == 1
    assert by_name["v_positive"]["violations"] == 1

    with pytest.raises(QualityError):
        check(df, [Expectation("name_hard", F.col("name").isNotNull(),
                               fail_on_violation=True)])

    # tolerated ratio allows the single violation
    report = check(df, [Expectation("name_soft_tol", F.col("name").isNotNull(),
                                    fail_on_violation=True,
                                    max_violation_ratio=0.5)])
    assert report.ok

    uniq = expect_unique(df, ["id"])
    assert uniq["passed"]
    assert not expect_unique(df.union(df), ["id"])["passed"]


def test_report_df_counts_violations_lazily(spark):
    from bigdataingestion_spark.pipeline.quality import Expectation, report_df

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, 0.0), (3, None)], ["k", "v"]
    )
    out = {
        r["rule"]: (r["violations"], r["violation_ratio"])
        for r in report_df(
            df,
            [
                Expectation("v_positive", F.col("v") > 0),
                Expectation("v_not_null", F.col("v").isNotNull()),
            ],
            unique_cols=["k"],
        ).collect()
    }
    # NULL predicate result is not a violation (matches SQL CASE semantics)
    assert out["v_positive"] == (2, 0.5)
    assert out["v_not_null"] == (1, 0.25)
    assert out["unique(k)"] == (1, 0.25)


def test_report_df_quoted_names_and_empty_rules(spark):
    from bigdataingestion_spark.pipeline.quality import Expectation, report_df

    df = spark.createDataFrame([(1, 10.0), (2, -5.0)], ["k", "v"])
    # a rule name containing quotes must not break the unpivot
    out = {
        r["rule"]: r["violations"]
        for r in report_df(
            df, [Expectation("v > 0 ('strict')", F.col("v") > 0)]
        ).collect()
    }
    assert out == {"v > 0 ('strict')": 1}
    # no row rules: uniqueness-only report, then fully-empty report
    only_uniq = report_df(df, [], unique_cols=["k"]).collect()
    assert [r["rule"] for r in only_uniq] == ["unique(k)"]
    empty = report_df(df, [])
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "rule", "violations", "violation_ratio",
    ]
