"""Regression tests for the code-review findings."""

from __future__ import annotations

from bigdataingestion_spark.config.crypto import decrypt_value, encrypt_value
from bigdataingestion_spark.sinks.scd2 import apply_scd2, current_view
from bigdataingestion_spark.sinks.txlog import TxLogTable
from bigdataingestion_spark.sources.jdbc import JdbcSource
from bigdataingestion_spark.sources.querygen import resolve_table


def test_crypto_nonce_prevents_keystream_reuse():
    a = encrypt_value("secret", "same-plaintext")
    b = encrypt_value("secret", "same-plaintext")
    assert a != b  # fresh nonce per value
    assert decrypt_value("secret", a) == "same-plaintext"
    assert decrypt_value("secret", b) == "same-plaintext"


def test_scd2_null_shift_detected(spark, tmp_path):
    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame([(1, "x", None)], "id int, a string, b string")
    apply_scd2(spark, path, v1, keys=["id"], tracked=["a", "b"],
               change_ts="2024-01-01 00:00:00")
    # NULL-shift: ('x', NULL) -> (NULL, 'x') must register as a change
    v2 = spark.createDataFrame([(1, None, "x")], "id int, a string, b string")
    apply_scd2(spark, path, v2, keys=["id"], tracked=["a", "b"],
               change_ts="2024-02-01 00:00:00")
    hist = TxLogTable(path).read(spark)
    assert hist.count() == 2  # closed old version + open new version
    cur = current_view(spark, path).collect()
    assert len(cur) == 1 and cur[0].a is None and cur[0].b == "x"


def test_merge_upsert_key_moving_partitions_no_duplicate(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, 2023, 10), (2, 2024, 20)], ["id", "year", "v"]
    )
    t.overwrite_partitions(base, ["year"])
    # key 1 moves from the year=2023 partition to year=2024
    src = spark.createDataFrame([(1, 2024, 99)], ["id", "year", "v"])
    t.merge_upsert(spark, src, keys=["id"])
    out = t.read(spark)
    assert out.count() == 2
    assert {r.id: (r.year, r.v) for r in out.collect()} == {
        1: (2024, 99),
        2: (2024, 20),
    }
    assert t.snapshot().partition_cols == ("year",)


def test_jdbc_partitioned_read_empty_increment_no_crash(spark, tmp_path):
    """NULL bounds (empty increment) must fall back to the plain reader."""
    url = f"jdbc:derby:{tmp_path}/pdb;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "t" ("id" INT, "createddate" TIMESTAMP)')
    st.executeUpdate(
        'INSERT INTO "t" VALUES (1, TIMESTAMP(\'2024-01-01 00:00:00\'))'
    )
    conn.close()
    src = JdbcSource(
        spark, host="unused",
        driver="org.apache.derby.jdbc.EmbeddedDriver", jdbc_url=url,
        partition_spec={"t": ("id", 4)},
    )
    addr = resolve_table("t", task="x")
    # increment beyond all data -> empty -> bounds probe returns NULL
    df = src.read_increment("pdb", addr, ["createddate"], "2030-01-01 00:00:00")
    assert df.count() == 0
    # non-empty partitioned read still works (bounds resolved)
    assert src.read_table("pdb", addr).count() == 1


def test_fingerprint_compare_tristate(tmp_path, monkeypatch):
    """ADVICE r5: 'not compared' must be distinguishable from 'verified
    unchanged' — compare() returns None when no baseline exists for the
    sf-dir, True/False only after a real comparison."""
    import json

    from bigdataingestion_spark.plans import fingerprint as fp

    base = tmp_path / "plans_baseline.json"
    monkeypatch.setattr(fp, "BASELINE_PATH", base)
    # no baseline at all -> None (not-checked), no changed names
    assert fp.compare({"q": "abc"}, "/sf0.1") == (None, [])
    # baseline for a DIFFERENT sf-dir -> also not-checked
    base.write_text(json.dumps({"sf_dir": "/sf0.01", "plans": {"q": "abc"}}))
    assert fp.compare({"q": "zzz"}, "/sf0.1") == (None, [])
    # matching sf-dir: real comparison, both outcomes
    base.write_text(json.dumps({"sf_dir": "/sf0.1", "plans": {"q": "abc"}}))
    assert fp.compare({"q": "abc"}, "/sf0.1") == (True, [])
    assert fp.compare({"q": "zzz"}, "/sf0.1") == (False, ["q"])
