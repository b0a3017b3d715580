"""The pcap pipeline as a Structured Streaming job (SURVEY §2.9).

The reference's hand-rolled micro-batch executor — accumulate
chunk_size packets, process, write ``data_<N>.parquet``, reset state
(BytesProcessor.py:62-94) — is exactly Structured Streaming's
micro-batch model.  Here a landing directory of pcap files is the
stream: each newly arrived file becomes (part of) a micro-batch, runs
the same parse -> filter -> label -> featurize dataflow, and appends
to the output with exactly-once file-sink semantics (checkpointed —
the reference restarts from scratch on failure).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH
from bytesprocessor_spark.operators.labeling import AttackSpec, extract_ranges, label_attacks
from bytesprocessor_spark.sources.pcap import FEATURED_SCHEMA, iter_pcap_records, record_batches


def stream_pcap_directory(
    spark: SparkSession,
    landing_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    attacks: Sequence[AttackSpec] = (),
    ranges: Sequence[tuple[float, float]] = (),
    feature_width: int = FEATURE_WIDTH,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Start the streaming pipeline; returns the StreamingQuery.

    ``maxFilesPerTrigger`` bounds micro-batch size the way chunk_size
    bounds the reference's loop (BytesProcessor.py:39) — backpressure
    by construction.  The landing directory is read with ``binaryFile``
    (file-arrival semantics); each new ``*.pcap`` / ``*.pcapng`` file
    goes through the batch reader's :func:`record_batches`, range
    filter and features fused in.
    """
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.{pcap,pcapng}")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
    )

    def parse_files(batches):
        records = (
            rec
            for b in batches
            for content in b.column("content").to_pylist()
            for rec in iter_pcap_records(content)
        )
        return record_batches(records, ranges=ranges, features=True, width=feature_width)

    packets = files.select("content").mapInArrow(parse_files, FEATURED_SCHEMA)
    feats = label_attacks(extract_ranges(packets, ranges), attacks).drop("payload")

    return (
        feats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
