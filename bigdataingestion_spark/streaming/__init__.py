from bigdataingestion_spark.streaming.ingest import (
    stream_cdc_upsert,
    stream_file_ingest,
    stream_static_enrich,
    stream_stream_join,
    stream_windowed_counts,
)
from bigdataingestion_spark.streaming.listener import AuditStreamingListener
from bigdataingestion_spark.streaming.quality_gate import stream_quality_gate
from bigdataingestion_spark.streaming.stateful import streaming_sessionize

__all__ = [
    "AuditStreamingListener",
    "stream_cdc_upsert",
    "stream_file_ingest",
    "stream_quality_gate",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_windowed_counts",
    "streaming_sessionize",
]
