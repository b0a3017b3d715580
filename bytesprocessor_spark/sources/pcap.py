"""Pcap source (SURVEY §2.1 S1-S2, §2.2 P1-P2).

A self-contained libpcap/pcapng reader + Ethernet/IPv4/TCP/UDP decoder
(plain ``struct``; the runtime has no packet library).  Every read goes
through one chunk plan and one batch builder:

  * plan (driver, :func:`plan_chunks`): resolve the path (a directory
    gives its ``*.pcap`` and ``*.pcapng`` files, nothing else), then
    walk each file's record headers into byte-range chunks of
    ``split_packets`` records — a serial walk of ~1.3 µs per record
    that never reads a payload;
  * parse (executor, :func:`record_batches`): range-read one chunk,
    parse each frame, apply the range predicate and emit Arrow batches
    of <= 4,096 rows, with the feature vector fused in on request.

:func:`read_pcap` runs the plan as a local table feeding one
``mapInArrow`` (no index job, no exchange); the ``format("pcap")``
DataSource and the streaming pipeline call the same two functions.

Parity with the reference parser (BytesProcessor.py:211-268):
  * non-IP frames dropped (BP:222-223), non-TCP/UDP dropped
    (BP:238-239), malformed packets skipped per-row (BP:251-253);
  * ``protocol`` is the string "6"/"17" (BP:229,234), timestamp a
    float-seconds double (BP:227,345), label starts "benign" (BP:249);
  * anonymization zeroes ip.src/ip.dst and the TCP/UDP ports in the
    serialized IP layer and keeps the original (now stale) checksums —
    byte-for-byte what dpkt emits when fields are reassigned and the
    stored checksum is non-zero (BP:258-268).
"""

from __future__ import annotations

import glob
import os
import struct
from collections.abc import Iterable, Iterator
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH

# Output schema of the parse step (SURVEY §1.2).
PACKET_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.DoubleType(), False),
        T.StructField("src_ip", T.StringType(), False),
        T.StructField("dst_ip", T.StringType(), False),
        T.StructField("src_port", T.IntegerType(), False),
        T.StructField("dst_port", T.IntegerType(), False),
        T.StructField("protocol", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

_MAGIC_US_LE = 0xA1B2C3D4
_MAGIC_US_BE = 0xD4C3B2A1
_MAGIC_NS_LE = 0xA1B23C4D
_MAGIC_NS_BE = 0x4D3CB2A1

ETH_TYPE_IP = 0x0800
ETH_TYPE_IP6 = 0x86DD
ETH_TYPE_VLAN = 0x8100
PROTO_ICMP = 1
PROTO_TCP = 6
PROTO_UDP = 17
PROTO_ICMP6 = 58
PROTO_SCTP = 132
# IPv6 extension headers walked (not terminal): hop-by-hop, routing,
# destination options, mobility.  Fragment (44) is handled specially.
_IP6_EXT = frozenset({0, 43, 60, 135})
_IP6_FRAG = 44


def _pcap_format(magic: int) -> tuple[str, float]:
    """(struct endianness, fractional-part divisor) for a pcap magic."""
    if magic in (_MAGIC_US_LE, _MAGIC_NS_LE):
        return "<", 1e6 if magic == _MAGIC_US_LE else 1e9
    if magic in (_MAGIC_US_BE, _MAGIC_NS_BE):
        return ">", 1e6 if magic == _MAGIC_US_BE else 1e9
    raise ValueError(f"not a capture file (magic {magic:#x} is neither pcap nor pcapng)")


def _iter_records(data: bytes, off: int, endian: str, frac_div: float) -> Iterator[tuple[float, bytes]]:
    """Walk packet records in ``data`` starting at ``off``; a truncated
    trailing record ends iteration silently (the reference flushes on
    EOFError the same way, BytesProcessor.py:96-104)."""
    rec_hdr = struct.Struct(endian + "IIII")
    n = len(data)
    while off + 16 <= n:
        ts_sec, ts_frac, incl_len, _orig_len = rec_hdr.unpack_from(data, off)
        off += 16
        if off + incl_len > n:
            return
        yield ts_sec + ts_frac / frac_div, data[off : off + incl_len]
        off += incl_len


_PCAPNG_MAGIC = 0x0A0D0D0A  # SHB block type; same bytes either endianness


def iter_pcap_records(data: bytes) -> Iterator[tuple[float, bytes]]:
    """Yield (timestamp_seconds, frame_bytes) from raw capture bytes.
    Handles classic pcap (both endiannesses, µs/ns magics) and pcapng
    (dispatched on the Section Header Block magic) — the format the
    reference's roadmap asks for (CONTRIBUTING.md:25) but never got."""
    if len(data) < 24:
        return
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic == _PCAPNG_MAGIC:
        from bytesprocessor_spark.sources.pcapng import iter_pcapng_records

        yield from iter_pcapng_records(data)
        return
    endian, frac_div = _pcap_format(magic)
    yield from _iter_records(data, 24, endian, frac_div)


def write_pcap(path: str, packets: Iterable[tuple[float, bytes]]) -> None:
    """Write a µs-precision little-endian pcap (test fixtures, bench
    data generation)."""
    with open(path, "wb") as f:
        f.write(struct.pack("<IHHiIII", _MAGIC_US_LE, 2, 4, 0, 0, 65535, 1))
        for ts, buf in packets:
            sec = int(ts)
            usec = int(round((ts - sec) * 1e6))
            if usec >= 1_000_000:  # fraction rounded up to a full second
                sec, usec = sec + 1, 0
            f.write(struct.pack("<IIII", sec, usec, len(buf), len(buf)))
            f.write(buf)


def parse_frame(ts: float, frame: bytes, extended: bool = False) -> dict | None:
    """Ethernet -> IPv4 -> TCP/UDP decode of one frame; None for frames
    the reference drops (non-IP, non-TCP/UDP) and for malformed input
    (caller wraps in try/except for full parity with BP:251-253).

    ``extended=True`` opts into the reference roadmap's "Extended
    Protocol Support" (CONTRIBUTING.md:27): IPv6 frames (with
    extension-header walk), ICMP/ICMPv6 (type/code carried in
    src_port/dst_port — documented encoding; there are no ports), and
    SCTP.  Default False == exact dpkt-parity drop set.
    """
    if len(frame) < 14:
        return None
    eth_type = (frame[12] << 8) | frame[13]
    l3_off = 14
    while eth_type == ETH_TYPE_VLAN:  # 802.1Q tag(s)
        if len(frame) < l3_off + 4:
            return None
        eth_type = (frame[l3_off + 2] << 8) | frame[l3_off + 3]
        l3_off += 4
    if eth_type == ETH_TYPE_IP6:
        return _parse_ip6(ts, frame[l3_off:]) if extended else None
    if eth_type != ETH_TYPE_IP:
        return None  # not IPv4 (BP:222-223; dpkt.ip.IP is v4-only)

    ip = frame[l3_off:]
    if len(ip) < 20 or (ip[0] >> 4) != 4:
        return None
    ihl = (ip[0] & 0x0F) * 4
    if ihl < 20 or len(ip) < ihl:
        return None
    total_len = (ip[2] << 8) | ip[3]
    # dpkt trusts total_length when the capture is complete; clamp to
    # what was actually captured so truncated snaplens still parse.
    total_len = min(total_len, len(ip)) if total_len >= ihl else len(ip)
    ip = ip[:total_len]
    proto = ip[9]
    if proto not in (PROTO_TCP, PROTO_UDP) and not (
        extended and proto in (PROTO_ICMP, PROTO_SCTP)
    ):
        return None  # BP:238-239
    # dpkt parity: for fragmented packets (MF flag or non-zero offset)
    # dpkt leaves ip.data as raw bytes, so the reference's
    # isinstance(ip.data, TCP/UDP) check (BP:238) drops them — a
    # non-first fragment's first 4 payload bytes are NOT ports.
    frag = (ip[6] << 8) | ip[7]
    if frag & 0x3FFF:  # MF | fragment-offset bits
        return None
    src_ip = ".".join(str(b) for b in ip[12:16])
    dst_ip = ".".join(str(b) for b in ip[16:20])
    l4 = ip[ihl:]
    # dpkt parity: TCP/UDP unpack needs the full fixed header (20/8
    # bytes; TCP also its options per data-offset) or dpkt raises
    # NeedData and the reference's per-packet except drops the row.
    if proto == PROTO_TCP:
        if len(l4) < 20:
            return None
        doff = (l4[12] >> 4) * 4
        if doff < 20 or len(l4) < doff:
            return None
    elif proto == PROTO_UDP:
        if len(l4) < 8:
            return None
    elif proto == PROTO_ICMP:
        if len(l4) < 4:
            return None
    elif proto == PROTO_SCTP:
        if len(l4) < 12:
            return None
    if proto == PROTO_ICMP:
        src_port, dst_port = l4[0], l4[1]  # type, code — no ports in ICMP
    else:
        src_port = (l4[0] << 8) | l4[1]
        dst_port = (l4[2] << 8) | l4[3]

    # Anonymize IN the serialized bytes (BP:258-268): zero addresses
    # and ports, keep stale checksums.  Documented divergence: when a
    # capture stores a checksum of 0 (checksum offload), dpkt
    # RE-COMPUTES it on re-serialize while we keep the 0 — affects
    # only those bytes of such packets, never the parsed columns
    # (see SURVEY §3.4).
    anon = bytearray(ip)
    anon[12:20] = b"\x00" * 8
    if proto != PROTO_ICMP:  # ICMP has no ports; keep type/code bytes
        anon[ihl : ihl + 4] = b"\x00" * 4

    return {
        "timestamp": float(ts),
        "src_ip": src_ip,
        "dst_ip": dst_ip,
        "src_port": src_port,
        "dst_port": dst_port,
        "protocol": str(proto),
        "payload": bytes(anon),
        "label": "benign",
    }


def _ip6_str(b: bytes) -> str:
    """16 address bytes -> full (uncompressed) lowercase colon-hex —
    deterministic across engines, no zero-run compression ambiguity."""
    return ":".join(f"{(b[i] << 8) | b[i + 1]:x}" for i in range(0, 16, 2))


def _parse_ip6(ts: float, ip6: bytes) -> dict | None:
    """IPv6 decode for extended mode: fixed header + extension-header
    walk to a terminal TCP/UDP/SCTP/ICMPv6; non-first fragments are
    dropped (their L4 slice has no transport header)."""
    if len(ip6) < 40 or (ip6[0] >> 4) != 6:
        return None
    nxt = ip6[6]
    src_ip = _ip6_str(ip6[8:24])
    dst_ip = _ip6_str(ip6[24:40])
    payload_len = (ip6[4] << 8) | ip6[5]
    end = min(40 + payload_len, len(ip6))
    off = 40
    while True:
        if nxt in _IP6_EXT:
            if off + 8 > end:
                return None
            nxt, hel = ip6[off], ip6[off + 1]
            off += (hel + 1) * 8
        elif nxt == _IP6_FRAG:
            if off + 8 > end:
                return None
            frag_off_flags = (ip6[off + 2] << 8) | ip6[off + 3]
            if frag_off_flags & 0xFFF8:  # non-first fragment: no L4 header
                return None
            nxt = ip6[off]
            off += 8
        else:
            break
    l4 = ip6[off:end]
    if nxt == PROTO_TCP:
        if len(l4) < 20 or (l4[12] >> 4) * 4 < 20 or len(l4) < (l4[12] >> 4) * 4:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_UDP:
        if len(l4) < 8:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_SCTP:
        if len(l4) < 12:
            return None
        src_port, dst_port = (l4[0] << 8) | l4[1], (l4[2] << 8) | l4[3]
    elif nxt == PROTO_ICMP6:
        if len(l4) < 4:
            return None
        src_port, dst_port = l4[0], l4[1]  # type, code
    else:
        return None

    anon = bytearray(ip6[:end])
    anon[8:40] = b"\x00" * 32
    if nxt != PROTO_ICMP6:
        anon[off : off + 4] = b"\x00" * 4
    return {
        "timestamp": float(ts),
        "src_ip": src_ip,
        "dst_ip": dst_ip,
        "src_port": src_port,
        "dst_port": dst_port,
        "protocol": str(nxt),
        "payload": bytes(anon),
        "label": "benign",
    }


def parse_records(
    records: Iterable[tuple[float, bytes]], extended: bool = False
) -> Iterator[dict]:
    """Parsed packet dicts of (timestamp, frame) records; per-packet
    errors are swallowed (BP:251-253).  Every read path parses here."""
    for ts, frame in records:
        try:
            row = parse_frame(ts, frame, extended)
        except Exception:
            continue
        if row is not None:
            yield row


def parse_pcap_bytes(data: bytes, extended: bool = False) -> Iterator[dict]:
    """All parsed packet dicts from one capture file's bytes, in
    process — the reference the Spark reader is tested against."""
    return parse_records(iter_pcap_records(data), extended)


_COLS = [f.name for f in PACKET_SCHEMA.fields]

# PACKET_SCHEMA + the fused feature vector (read_pcap(features=True)).
FEATURED_SCHEMA = T.StructType(
    list(PACKET_SCHEMA.fields)
    + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
)

# Records per planned chunk: the reference's chunk_size
# (BytesProcessor.py:16) and the CLI's --chunk-size default.
SPLIT_PACKETS = 20_000
# Rows per Arrow batch out of the parse worker.
BATCH_ROWS = 4096


def _range_predicate(ranges):
    """Python-side mirror of extract_ranges' inclusive OR-of-between
    (labeling.py / BP:339-354) so the source can drop out-of-range
    packets before they ever cross the Arrow boundary."""
    if not ranges:
        return None
    rs = [(float(lo), float(hi)) for lo, hi in ranges]
    return lambda row: any(lo <= row["timestamp"] <= hi for lo, hi in rs)


def record_batches(
    records: Iterable[tuple[float, bytes]],
    extended: bool = False,
    ranges=None,
    features: bool = False,
    width: int = FEATURE_WIDTH,
):
    """The batch builder: (timestamp, frame) records -> parse -> range
    filter -> ``pyarrow.RecordBatch`` of <= BATCH_ROWS rows in
    PACKET_SCHEMA (FEATURED_SCHEMA with ``features``).  The feature
    column is a list array over the flat float32 matrix of
    ``features_matrix``: no per-row Python objects."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from bytesprocessor_spark.functions.bytes import features_matrix

    schema = to_arrow_schema(FEATURED_SCHEMA if features else PACKET_SCHEMA)
    rows = parse_records(records, extended)
    in_range = _range_predicate(ranges)
    if in_range is not None:
        rows = filter(in_range, rows)
    while batch := list(islice(rows, BATCH_ROWS)):
        cols = [pa.array([r[c] for r in batch], f.type) for c, f in zip(_COLS, schema)]
        if features:
            mat = features_matrix([r["payload"] for r in batch], width)
            offsets = np.arange(0, mat.size + 1, width, dtype=np.int32)
            cols.append(pa.ListArray.from_arrays(offsets, mat.ravel()))
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


_CHUNK_SCHEMA = (
    "path string, offset long, length long, endian string, frac_div double, meta string"
)


def plan_chunks(path: str, split_packets: int = SPLIT_PACKETS) -> list[tuple]:
    """The chunk plan, built on the driver: ``path`` resolves to a
    directory's ``*.pcap`` and ``*.pcapng`` files, else to the glob's
    matches, else to itself; each file's record headers are walked
    into ``split_packets``-record byte-range chunks (~1.3 µs per
    record, payloads never read)."""
    if os.path.isdir(path):
        paths = sorted(
            glob.glob(os.path.join(path, "*.pcap")) + glob.glob(os.path.join(path, "*.pcapng"))
        )
    else:
        paths = sorted(glob.glob(path)) or [path]
    return [chunk for p in paths for chunk in index_capture_chunks(p, split_packets)]


def read_chunk(
    path: str, offset: int, length: int, endian: str, frac_div: float, meta: str
) -> Iterator[tuple[float, bytes]]:
    """Records of one planned chunk from a bounded range read — the
    single seam to replace with an object-store ranged GET (fsspec:
    ``fs.cat_file(path, offset, offset + length)``); no task ever holds
    a whole capture in memory."""
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    return iter_chunk_records(data, endian, frac_div, meta)


def read_pcap(
    spark: SparkSession,
    path: str,
    split_packets: int = SPLIT_PACKETS,
    extended: bool = False,
    ranges=None,
    features: bool = False,
    feature_width: int = FEATURE_WIDTH,
) -> DataFrame:
    """Pcap scan (S1): the driver-built chunk plan (:func:`plan_chunks`)
    as a local table, one ``mapInArrow`` task per chunk (up to
    ``defaultParallelism`` tasks) running :func:`record_batches` — no
    index job, no exchange.  The scalable replacement for the
    reference's serial chunk loop (BytesProcessor.py:62-65) and its
    duplicate-emitting sub-chunk splitter (BP:196-205, SURVEY §3.4.4).

    ``ranges``/``features``: source-fused filter + featurize.  The
    range predicate drops out-of-range packets inside the parse worker
    (they never cross the Arrow boundary — the reference's "filter
    before payload work", BP:144-145) and the float vector is computed
    on the same Arrow batch as the parse: one Python crossing for the
    whole parse→filter→featurize pipeline.
    """
    chunks = spark.createDataFrame(plan_chunks(path, split_packets), _CHUNK_SCHEMA)

    def parse_chunks(batches):
        records = (
            rec for b in batches for chunk in b.to_pylist() for rec in read_chunk(**chunk)
        )
        return record_batches(records, extended, ranges, features, feature_width)

    return chunks.mapInArrow(parse_chunks, FEATURED_SCHEMA if features else PACKET_SCHEMA)


def index_capture_chunks(
    path: str, split_packets: int
) -> Iterator[tuple[str, int, int, str, float, str]]:
    """Format-dispatching chunk indexer: classic pcap gets record-offset
    chunks (meta=""), pcapng gets block-boundary chunks whose meta
    carries the section state (see pcapng.index_pcapng_chunks)."""
    with open(path, "rb") as f:
        head = f.read(4)
    if len(head) < 4:
        return
    (magic,) = struct.unpack_from("<I", head, 0)
    if magic == _PCAPNG_MAGIC:
        from bytesprocessor_spark.sources.pcapng import index_pcapng_chunks

        yield from index_pcapng_chunks(path, split_packets)
        return
    yield from index_pcap_chunks(path, split_packets)


def index_pcap_chunks(path: str, split_packets: int) -> Iterator[tuple[str, int, int, str, float, str]]:
    """Stream-walk one pcap's record headers (seek past payloads, read
    16 bytes per record) and emit (path, offset, length, endian,
    frac_div) byte-range chunks of ``split_packets`` records each.
    Never materializes the file — the index pass is pure I/O.  A record
    whose ``incl_len`` runs past the end of the file ends the walk, as
    it ends :func:`_iter_records`."""
    with open(path, "rb") as f:
        head = f.read(24)
        if len(head) < 24:
            return
        (magic,) = struct.unpack_from("<I", head, 0)
        endian, frac_div = _pcap_format(magic)
        rec_hdr = struct.Struct(endian + "IIII")
        size = os.fstat(f.fileno()).st_size
        chunk_start = 24
        n_in_chunk = 0
        off = 24
        while True:
            hdr = f.read(16)
            if len(hdr) < 16:
                break
            _sec, _frac, incl_len, _orig = rec_hdr.unpack(hdr)
            nxt = off + 16 + incl_len
            if nxt > size:
                break
            f.seek(incl_len, 1)
            off = nxt
            n_in_chunk += 1
            if n_in_chunk >= split_packets:
                yield (path, chunk_start, off - chunk_start, endian, frac_div, "")
                chunk_start = off
                n_in_chunk = 0
        if n_in_chunk > 0:
            yield (path, chunk_start, off - chunk_start, endian, frac_div, "")


def iter_chunk_records(
    data: bytes, endian: str, frac_div: float, meta: str
) -> Iterator[tuple[float, bytes]]:
    """Record stream for one indexed chunk's bytes; ``meta`` selects the
    container format (classic pcap: "", pcapng: "ng:<divisors>")."""
    if meta.startswith("ng:"):
        from bytesprocessor_spark.sources.pcapng import iter_ng_records

        divisors = [float(x) for x in meta[3:].split(",") if x]
        yield from iter_ng_records(data, 0, endian, divisors)
        return
    yield from _iter_records(data, 0, endian, frac_div)
