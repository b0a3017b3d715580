"""Seeded input generators: pcap captures and the sf0.01-shaped corpus.

Everything here is the benchmark's own code.  The engine only ever
reads the files these functions write, and the same seed always gives
byte-identical files, so two runs with one seed do identical work.

The capture writer also returns what a correct pcap -> labeled-Parquet
pipeline must produce from the file (row counts, per-label counts,
forward rows and a digest of sampled feature rows), so the benchmark
checks the engine's output against the generator instead of against
the engine itself.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURE_WIDTH = 1525
BASE_US = 1_500_000_000 * 1_000_000
ATTACKERS = ("172.16.0.1", "172.16.0.2")
VICTIMS = ("192.168.10.50", "192.168.10.51")
ATTACK_LABELS = ("PortScan", "Bruteforce")
SAMPLE_EVERY = 37  # every 37th kept packet goes into the feature digest


@dataclass(frozen=True)
class Attack:
    ts_start: float
    ts_end: float
    label: str
    attacker_ips: tuple[str, ...]
    victim_ips: tuple[str, ...]


@dataclass
class Expected:
    """What the pipeline must write for one capture and one range set."""

    rows: int = 0
    forward: int = 0
    labels: dict[str, int] = field(default_factory=dict)
    sample_ts_us: list[int] = field(default_factory=list)
    digest: str = ""


@dataclass
class Capture:
    path: str
    n_packets: int
    attacks: tuple[Attack, ...]
    whole: Expected
    window: Expected

    @property
    def ranges(self) -> tuple[tuple[float, float], ...]:
        return tuple((a.ts_start, a.ts_end) for a in self.attacks)


def _ip(s: str) -> bytes:
    return bytes(int(x) for x in s.split("."))


def feature_digest(ts_us, feature_bytes) -> str:
    """sha256 over (timestamp, first FEATURE_WIDTH bytes zero-padded) of
    each sampled row, in timestamp order.  The Parquet side recovers the
    bytes from the float features as rint(f * 255)."""
    h = hashlib.sha256()
    for t, b in sorted(zip(ts_us, feature_bytes)):
        h.update(struct.pack("<q", int(t)))
        h.update(bytes(b[:FEATURE_WIDTH]).ljust(FEATURE_WIDTH, b"\0"))
    return h.hexdigest()


def write_capture(path: str, n_packets: int, seed: int) -> Capture:
    """Write a little-endian microsecond pcap of ``n_packets`` Ethernet
    frames and return the pipeline's expected output.

    Payload sizes are uniform over 40-1,400 bytes, as in the
    repository's own bench capture (``bench.make_bench_pcap``).  The
    protocol mix is this benchmark's choice, not a measurement of any
    real trace: ~82% IPv4 TCP (the bulk, as in the bench capture, which
    is all TCP), ~12% IPv4 UDP, and ~6% frames the parser must drop
    (ARP, IPv6, non-first IPv4 fragments), so every branch of the
    default parse and of its drop set carries traffic in every capture.
    Two attack windows of 5% of the time span each carry
    attacker<->victim traffic in both directions; together they are the
    ~10% that a window op extracts.
    """
    rng = np.random.default_rng([seed, n_packets])
    gaps = rng.integers(200, 1800, n_packets)
    us = BASE_US + (int(seed) % 100_000) * 1_000_000 + np.cumsum(gaps)
    # Window edges sit halfway between two packets (>= 100 us from
    # either), so float rounding of timestamps cannot move a packet
    # across an edge.
    windows = [
        (int(us[a] + us[a + 1]) // 2, int(us[b] + us[b + 1]) // 2)
        for a, b in ((n_packets * 30 // 100, n_packets * 35 // 100),
                     (n_packets * 70 // 100, n_packets * 75 // 100))
    ]
    attacks = tuple(
        Attack(lo / 1e6, hi / 1e6, label, ATTACKERS, VICTIMS)
        for (lo, hi), label in zip(windows, ATTACK_LABELS)
    )
    kind = rng.choice(4, n_packets, p=[0.82, 0.12, 0.03, 0.03])  # tcp, udp, other, frag
    other_v6 = rng.random(n_packets) < 0.5
    attack_roll = rng.random(n_packets)
    direction = rng.random(n_packets) < 0.6  # True: attacker -> victim
    hosts = [f"10.{i // 250}.{(i * 7) % 250}.{i % 250 + 1}" for i in range(200)]
    src_h = rng.integers(0, len(hosts), n_packets)
    dst_h = rng.integers(0, len(hosts), n_packets)
    a_i = rng.integers(0, 2, n_packets)
    v_i = rng.integers(0, 2, n_packets)
    sport = rng.integers(1024, 65536, n_packets)
    dport = rng.choice([22, 53, 80, 443, 8080, 21, 3389], n_packets)
    sizes = rng.integers(40, 1401, n_packets)
    blob = rng.integers(0, 256, int(sizes.sum()) + 1, dtype=np.uint8).tobytes()

    eth_ip = b"\x02\x00\x00\x00\x00\x01" + b"\x02\x00\x00\x00\x00\x02" + b"\x08\x00"
    whole, window = Expected(), Expected()
    whole_samples: list[tuple[int, bytes]] = []
    window_samples: list[tuple[int, bytes]] = []
    out = bytearray(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))
    boff = 0
    for i in range(n_packets):
        t = int(us[i])
        size = int(sizes[i])
        payload = blob[boff : boff + size]
        boff += size
        in_win = None
        for w, (lo, hi) in enumerate(windows):
            if lo <= t <= hi:
                in_win = w
        k = int(kind[i])
        if k == 2:  # ARP or IPv6: no IPv4 header, dropped by the parser
            frame = b"\xff" * 6 + b"\x02" * 6 + (b"\x86\xdd" if other_v6[i] else b"\x08\x06")
            frame += payload[:60].ljust(40, b"\0")
        else:
            attack = in_win is not None and attack_roll[i] < 0.4
            if attack:
                a, v = ATTACKERS[a_i[i]], VICTIMS[v_i[i]]
                src, dst = (a, v) if direction[i] else (v, a)
            else:
                src, dst = hosts[src_h[i]], hosts[dst_h[i]]
            proto = 17 if k == 1 else 6
            if proto == 6:
                l4 = struct.pack(">HHIIBBHHH", sport[i], dport[i], i, 0, 0x50, 0x18, 8192, 0xCAFE, 0)
            else:
                l4 = struct.pack(">HHHH", sport[i], dport[i], 8 + size, 0xBEEF)
            body = l4 + payload
            frag = 0x0010 if k == 3 else 0x4000  # fragment offset 16 vs DF
            ip_hdr = struct.pack(
                ">BBHHHBBH4s4s", 0x45, 0, 20 + len(body), i & 0xFFFF, frag, 64, proto, 0xBEEF,
                _ip(src), _ip(dst),
            )
            frame = eth_ip + ip_hdr + body
            if k != 3:
                anon = ip_hdr[:12] + b"\0" * 8 + b"\0" * 4 + body[4:]
                label = "benign"
                fwd = False
                if attack:
                    label = ATTACK_LABELS[in_win]
                    fwd = src in ATTACKERS
                _count(whole, label, fwd)
                sampled = whole.rows % SAMPLE_EVERY == 1
                if sampled:
                    whole_samples.append((t, anon))
                if in_win is not None:
                    _count(window, label, fwd)
                    if sampled:
                        window_samples.append((t, anon))
        out += struct.pack("<IIII", t // 1_000_000, t % 1_000_000, len(frame), len(frame))
        out += frame
    with open(path, "wb") as f:
        f.write(out)
    for exp, samples in ((whole, whole_samples), (window, window_samples)):
        exp.sample_ts_us = [t for t, _ in samples]
        exp.digest = feature_digest(exp.sample_ts_us, [b for _, b in samples])
    return Capture(path, n_packets, attacks, whole, window)


def _count(exp: Expected, label: str, fwd: bool) -> None:
    exp.rows += 1
    exp.forward += fwd
    exp.labels[label] = exp.labels.get(label, 0) + 1


# ---------------------------------------------------------------------------
# Corpus tables
# ---------------------------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet", compression="snappy")


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """``documents`` (word-salad texts over a 30-word vocabulary, 5% of
    them near-duplicates of an earlier document) and ``embeddings``
    (64-dim unit vectors around ten class centres)."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 1, (10, 64))
    v = centres[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
