"""Spark 4 Python DataSource for pcap files (SURVEY §7 step 8).

Exposes the pcap reader as a first-class source:

    spark.dataSource.register(PcapDataSource)
    df = spark.read.format("pcap").option("split_packets", 50000).load(path)

It is a thin caller of the reader in
:mod:`bytesprocessor_spark.sources.pcap`:

  * ``partitions()`` (driver): :func:`plan_chunks` — one InputPartition
    per ~``split_packets``-record byte range (default
    ``SPLIT_PACKETS``), from a header walk that never loads a payload.
  * ``read(partition)`` (executor): :func:`read_chunk` range-reads the
    chunk and :func:`record_batches` parses it into Arrow batches.

Object-storage posture: both the header walk and the range read only
need ``open() -> seek/read`` semantics, i.e. exactly what an S3-style
ranged GET provides; the seam is ``read_chunk``.

The reference reads captures serially in chunked batches
(BytesProcessor.py:62-81, 196-205); this source is the distributed
equivalent with no duplicate-tail bug (SURVEY §3.4.4).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from bytesprocessor_spark.sources.pcap import (
    PACKET_SCHEMA,
    SPLIT_PACKETS,
    plan_chunks,
    read_chunk,
    record_batches,
)


class PcapReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pcap source requires a path: .load('/data/*.pcap')")
        self.split_packets = int(options.get("split_packets", SPLIT_PACKETS))
        # opt-in extended protocol parse (ICMP/ICMPv6/SCTP/IPv6)
        self.extended = str(options.get("extended", "false")).lower() == "true"

    def partitions(self) -> Sequence[InputPartition]:
        parts = [InputPartition(chunk) for chunk in plan_chunks(self.path, self.split_packets)]
        # Spark requires >= 1 partition; an empty capture yields no rows.
        return parts or [InputPartition((self.path, 0, 0, "<", 1e6, ""))]

    def read(self, partition: InputPartition) -> Iterator:
        return record_batches(read_chunk(*partition.value), self.extended)


class PcapDataSource(DataSource):
    """``spark.read.format("pcap")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self):
        return PACKET_SCHEMA

    def reader(self, schema) -> PcapReader:
        return PcapReader(self.options)
