"""Streaming dead-letter quality gate: per-micro-batch expectation checks
routing clean rows to the lake and violations to a quarantine sink.

The batch pipeline alerts-and-continues on bad data (reference ING:432-437);
a 24/7 stream cannot stop to triage, so the production pattern is a
dead-letter queue: every micro-batch is split by the SAME declarative
expectations the batch gate uses (``pipeline.quality.Expectation``), clean
rows append to the lake, violating rows append — WITH the rule names that
rejected them — to a quarantine table for replay after the upstream fix.

Scale shape: the expectations compose into one boolean column evaluated in
whole-stage codegen; the batch is cached once per trigger (two outputs, one
parse). ``foreachBatch`` is the seam because a single streaming query
cannot have two file sinks.

Exactly-once: ``foreachBatch`` alone is at-least-once — if the quarantine
write fails after the clean write succeeded, restart replays the whole
batch. Both sinks are therefore txlog tables and each half appends as ONE
atomic commit under the txn id ``f"{scope}:{batch_id}"``: on a replay the
already-committed side no-ops on its txn id and the other side commits,
so each sink holds every batch exactly once. Readers get snapshot
isolation and time travel over the gate output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdataingestion_spark.pipeline.quality import Expectation
from bigdataingestion_spark.sinks.txlog import TxLogTable


def _violation_labels(expectations: list[Expectation]):
    """array of names of the rules the row violates (NULL predicate = pass,
    matching the batch gate's CASE semantics)."""
    return F.array_compact(
        F.array(
            *[
                F.when(~e.predicate, F.lit(e.name))
                for e in expectations
            ]
        )
    )


def gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    target: TxLogTable,
    quarantine: TxLogTable,
    expectations: list[Expectation],
    scope: str,
) -> None:
    """Split one micro-batch: clean rows append to ``target``, rule-tagged
    violations to ``quarantine``, each as ONE atomic commit under
    ``txn_id=f"{scope}:{batch_id}"``. Module-level (not a closure) so the
    replay contract is directly testable: calling this twice with the same
    ``batch_id`` must leave the same rows in both tables as calling it
    once."""
    if batch_df.isEmpty():
        return
    tagged = batch_df.withColumn(
        "_violations", _violation_labels(expectations)
    ).cache()
    try:
        clean = tagged.filter(F.size("_violations") == 0).drop("_violations")
        bad = tagged.filter(F.size("_violations") > 0).withColumn(
            "_violations", F.concat_ws(",", "_violations")
        )
        txn = f"{scope}:{batch_id}"
        if not clean.isEmpty():
            target.append(clean, txn_id=txn)
        if not bad.isEmpty():
            quarantine.append(bad, txn_id=txn)
    finally:
        tagged.unpersist()


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    expectations: list[Expectation],
    fmt: str = "parquet",
    max_files_per_trigger: int = 64,
    app_id: str | None = None,
) -> StreamingQuery:
    """File-landing-zone -> (lake, dead-letter) streaming split into two
    txlog tables. The txn scope hashes the checkpoint's absolute path
    (the ``stream_txlog_ingest`` rule); deleting the checkpoint to
    reprocess requires a fresh ``app_id``."""
    from bigdataingestion_spark.streaming.ingest import (
        _open_file_stream,
        path_txn_scope,
    )

    _probe, stream = _open_file_stream(spark, source_dir, fmt, max_files_per_trigger)
    target = TxLogTable(target_dir)
    quarantine = TxLogTable(quarantine_dir)
    scope = app_id or path_txn_scope(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        gate_batch(batch_df, batch_id, target, quarantine, expectations, scope)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
