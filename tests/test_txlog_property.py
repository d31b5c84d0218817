"""Model-based property test for the txlog table format: an arbitrary
sequence of append / overwrite / source-wins-merge / latest-wins-merge /
key-set delete / compact / delete / update / restore / replace_where /
column-mapping operations must leave the table equal to a plain-Python model of the same
semantics, and every intermediate version must remain time-travelable to
exactly the rows the model held at that point. Hypothesis drives the op
sequence; Spark jobs are tiny, so examples are capped for runtime."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from bigdataingestion_spark.sinks.txlog import TxLogTable

# an operation: (kind, rows) where rows are (key, value) tuples; the test
# assigns a globally unique, increasing ord to every row so latest-wins
# merges are tie-free and deterministic in both the model and the engine
_row = st.tuples(
    st.integers(min_value=1, max_value=6),    # key — collisions likely
    st.sampled_from(["a", "b", "c", "d"]),    # value
)
_op = st.one_of(
    st.tuples(
        st.sampled_from(
            ["append", "overwrite", "merge", "merge_latest", "delete_keys", "compact"]
        ),
        st.lists(_row, min_size=1, max_size=4),
    ),
    # row-level DML / restore / property flip / column mapping: payload
    # is a key (restore: an index seed; the toggles and mapping arms
    # ignore it; replace_where: the replaced key AND the new rows' key)
    st.tuples(
        st.sampled_from(
            [
                "delete",
                "delete_dv",
                "update",
                "restore",
                "cdf_toggle",
                "bloom_toggle",
                "replace_where",
                "mapping_enable",
                "rename_roundtrip",
            ]
        ),
        st.integers(min_value=1, max_value=6),
    ),
)


def _commit_rewrites(t: TxLogTable, version: int) -> bool:
    """True when the commit removed or masked files — only those DML
    commits need materialized change rows; an insert-only DML (merge or
    replace_where that touched nothing) is synthesized from its adds by
    read_cdf even with the feed off."""
    es = t.commits_between(version - 1, version)
    return bool(es and (es[0]["remove"] or es[0].get("dv")))


def _apply_model(model: list, op: str, rows: list) -> list:
    """The reference semantics in plain Python over (k, v, ord) tuples."""
    if op == "compact":  # layout-only: content is invariant
        return model
    if op == "append":
        return model + rows
    if op == "overwrite":
        return list(rows)
    if op == "merge":  # source wins: drop ALL target rows for source keys
        skeys = {r[0] for r in rows}
        return [r for r in model if r[0] not in skeys] + rows
    if op == "delete_keys":  # key-set delete: the merge with no replacement
        keys = {r[0] for r in rows}
        return [r for r in model if r[0] not in keys]
    # merge_latest: MERGE touches ONLY keys the source carries — one
    # survivor per source key, greatest ord among target+source copies;
    # rows of other keys (even pre-existing duplicates) are untouched.
    # Deduping the whole table would make the result depend on which
    # files the pruned finding pass happened to rewrite.
    skeys = {r[0] for r in rows}
    best: dict = {}
    for r in [m for m in model if m[0] in skeys] + rows:
        if r[0] not in best or r[2] > best[r[0]][2]:
            best[r[0]] = r
    return [r for r in model if r[0] not in skeys] + list(best.values())


@settings(max_examples=8, deadline=None)
@given(st.lists(_op, min_size=1, max_size=5))
def test_txlog_matches_model_at_every_version(spark, tmp_path_factory, ops):
    tmp = tmp_path_factory.mktemp("txprop")
    t = TxLogTable(str(tmp / "t"))
    model: list = []
    snapshots: list[tuple[int, list]] = []
    by_version: dict[int, list] = {}
    ordc = 0
    # CDF co-testing state: which DML commits landed while the feed was
    # off (read_cdf must refuse those ranges), and where restores sit
    # (read_cdf refuses them — reconstruction stops short)
    cdf_on = False
    bloom_on = False
    dml_off: list[int] = []
    restore_versions: list[int] = []
    for op, payload in ops:
        if op == "compact":
            version = t.compact(spark)
            if version >= 0:  # no-op on a never-written table
                snapshots.append((version, sorted(model)))
                by_version[version] = sorted(model)
            continue
        if op == "bloom_toggle":
            # flips per-file bloom indexing mid-sequence: later staged
            # files gain sidecars, and every DML path must stay
            # model-exact whether its finding pass consulted blooms,
            # ranges, or nothing
            bloom_on = not bloom_on
            version = t.alter_properties(
                {"bloom.columns": "k" if bloom_on else ""}
            )
            snapshots.append((version, sorted(model)))
            by_version[version] = sorted(model)
            continue
        if op == "cdf_toggle":
            cdf_on = not cdf_on
            version = t.alter_properties(
                {"cdf.enabled": "true" if cdf_on else "false"}
            )
            snapshots.append((version, sorted(model)))
            by_version[version] = sorted(model)
            continue
        if op == "mapping_enable":
            # column mapping mid-sequence: later appends/merges stage
            # under physical names, every read/DML arm must stay
            # model-exact, and restore may later cross the enable
            # boundary (enable_column_mapping re-freezes idempotently)
            if t.version() < 0:
                continue
            version = t.enable_column_mapping()
            snapshots.append((version, sorted(model)))
            by_version[version] = sorted(model)
            continue
        if op == "rename_roundtrip":
            # metadata-only rename v->w->v: content invariant at BOTH
            # intermediate versions (collect() tuples are positional),
            # and no DML lands between the two renames so the CDF
            # reconstruction never sees the transient schema
            if t.version() < 0:
                continue
            try:
                v1 = t.rename_column("v", "w")
            except ValueError:
                continue  # unmapped (or restored pre-mapping): arm no-ops
            # the transient "w" version is time-travel-checked but NOT a
            # restore target (by_version) — restoring into the middle of
            # the roundtrip would leave the model's column names stale
            snapshots.append((v1, sorted(model)))
            v2 = t.rename_column("w", "v")
            snapshots.append((v2, sorted(model)))
            by_version[v2] = sorted(model)
            continue
        if op == "replace_where":
            if t.version() < 0:
                continue
            stamped = [(payload, "r", ordc)]
            ordc += 1
            df = spark.createDataFrame(stamped, ["k", "v", "ord"])
            version = t.replace_where(spark, df, f"k = {payload}")
            model = [r for r in model if r[0] != payload] + stamped
            if not cdf_on and _commit_rewrites(t, version):
                dml_off.append(version)
            snapshots.append((version, sorted(model)))
            by_version[version] = sorted(model)
            continue
        if op in ("delete", "delete_dv", "update", "restore"):
            if t.version() < 0:
                continue  # DML on a never-written table: nothing to do
            pv = t.version()
            if op == "delete":
                version = t.delete(spark, f"k = {payload}")
                model = [r for r in model if r[0] != payload]
            elif op == "delete_dv":
                # merge-on-read DELETE: visible state identical to the
                # copy-on-write path, only the physical strategy differs
                version = t.delete(
                    spark, f"k = {payload}", deletion_vectors=True
                )
                model = [r for r in model if r[0] != payload]
            elif op == "update":
                version = t.update(spark, f"k = {payload}", {"v": "'z'"})
                model = [
                    (k, "z" if k == payload else v, o) for k, v, o in model
                ]
            else:  # restore to a committed version chosen by the seed
                versions = sorted(by_version)
                target = versions[payload % len(versions)]
                version = t.restore(target)
                model = list(by_version[target])
            if version > pv:
                if op == "restore":
                    restore_versions.append(version)
                elif not cdf_on:
                    dml_off.append(version)
            snapshots.append((version, sorted(model)))
            by_version[version] = sorted(model)
            continue
        stamped = []
        for k, v in payload:
            stamped.append((k, v, ordc))
            ordc += 1
        df = spark.createDataFrame(stamped, ["k", "v", "ord"])
        if op == "append":
            version = t.append(df)
        elif op == "overwrite":
            version = t.overwrite(df)
        elif op == "merge":
            version = t.merge_upsert(spark, df, keys=["k"])
        elif op == "delete_keys":
            if t.version() < 0:
                continue  # DML on a never-written table: nothing to do
            version = t.delete_matching(spark, df.select("k"), keys=["k"])
        else:
            version = t.merge_upsert(spark, df, keys=["k"], order_cols=["ord"])
        if (
            op in ("merge", "merge_latest", "delete_keys")
            and not cdf_on
            and _commit_rewrites(t, version)
        ):
            dml_off.append(version)
        model = _apply_model(model, op, stamped)
        snapshots.append((version, sorted(model)))
        by_version[version] = sorted(model)

    # every committed version (not just the last) must time-travel to the
    # model's state at that point
    for version, expect in snapshots:
        got = sorted(tuple(r) for r in t.read(spark, version=version).collect())
        assert got == expect, (version, got, expect)

    # CDF-reconstruction invariant (DV deletes, cdf flips, and every other
    # arm co-tested): replaying the change feed from v0 must rebuild each
    # committed snapshot. read_cdf refuses restores — reconstruct up to
    # just before the first one — and refuses ranges holding a DML commit
    # made while the feed was off.
    last = t.version()
    hi = min(restore_versions) - 1 if restore_versions else last
    if hi < 0:
        return
    if any(v <= hi for v in dml_off):
        import pytest

        with pytest.raises(ValueError, match="no change data"):
            t.read_cdf(spark, -1, hi).collect()
        return
    by_commit: dict[int, list] = {}
    for r in t.read_cdf(spark, -1, hi).collect():
        if r["_commit_version"] is not None:  # empty-feed sentinel frame
            by_commit.setdefault(int(r["_commit_version"]), []).append(r)
    state: set = set()
    for version in sorted(v for v in by_version if v <= hi):
        for r in by_commit.get(version, []):
            row = (r["k"], r["v"], r["ord"])
            if r["_change_type"] in ("insert", "update_postimage"):
                state.add(row)
            else:  # delete / update_preimage
                state.discard(row)
        assert sorted(state) == by_version[version], (
            version,
            sorted(state),
            by_version[version],
        )


_prow = st.tuples(
    st.integers(min_value=1, max_value=5),          # id
    st.sampled_from(["2024", "2025", "2026"]),      # partition value
    st.sampled_from(["a", "b"]),                    # payload
)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(_prow, min_size=1, max_size=4), min_size=1, max_size=4))
def test_partitioned_overwrite_matches_model(spark, tmp_path_factory, batches):
    """Dynamic-partition overwrite semantics vs a dict-of-partitions model:
    each batch replaces exactly the partitions it contains, at every
    committed version."""
    tmp = tmp_path_factory.mktemp("txpart")
    t = TxLogTable(str(tmp / "t"))
    model: dict[str, list] = {}
    snapshots = []
    for rows in batches:
        df = spark.createDataFrame(rows, ["id", "yr", "v"])
        version = t.overwrite_partitions(df, ["yr"])
        touched = {r[1] for r in rows}
        for yr in touched:
            model[yr] = [r for r in rows if r[1] == yr]
        flat = sorted(r for rs in model.values() for r in rs)
        snapshots.append((version, flat))
    # compaction preserves the partitioned layout and every partition's rows
    snapshots.append((t.compact(spark), snapshots[-1][1]))
    for version, expect in snapshots:
        got = sorted(
            (r["id"], r["yr"], r["v"])
            for r in t.read(spark, version=version).collect()
        )
        assert got == expect, (version, got, expect)
