"""The two workloads: their seeded inputs, their fixed op sequences,
the untimed correctness check of every op, and the layer probes of a
traced run.

An op is one closed-loop call into the engine whose result is fully
consumed before it returns: ``process_pcap`` writing its two Parquet
sinks, or a registry entry collected to the driver with ``toPandas()``.
A check returns ``None`` when the op's output is right and a one-line
reason otherwise.
"""

from __future__ import annotations

import decimal
import itertools
import math
import os
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from spans import Recorder

@dataclass
class Op:
    name: str
    records: int  # input records the op reads
    run: Callable[[Any, Recorder | None], Any]
    check: Callable[[Any], str | None]


class Sequence:
    """A workload's fixed op sequence, run as passes: the cold pass is
    the first pass in the fresh session, then ``WARM_PASSES`` untimed
    passes, then ``PASSES`` timed passes, always the same ops in the
    same order."""

    WARM_PASSES = 0
    PASSES = 1

    def one_pass(self) -> list[Op]:
        raise NotImplementedError

    def cold_ops(self) -> list[Op]:
        return self.one_pass()

    def warm_ops(self) -> list[Op]:
        return [op for _ in range(self.WARM_PASSES) for op in self.one_pass()]

    def timed_ops(self) -> list[Op]:
        return [op for _ in range(self.PASSES) for op in self.one_pass()]


def _span(rec: Recorder | None, name: str):
    return rec.span(name) if rec is not None else nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# pcap_etl
# ---------------------------------------------------------------------------

def _engine_attacks(cap: inputs.Capture):
    from bytesprocessor_spark.operators.labeling import AttackSpec

    return tuple(
        AttackSpec(a.ts_start, a.ts_end, a.label, a.attacker_ips, a.victim_ips)
        for a in cap.attacks
    )


def check_pcap_output(out: str, exp: inputs.Expected) -> str | None:
    data = pq.read_table(f"{out}/data", columns=["timestamp", "label", "is_forward", "features"])
    if data.num_rows != exp.rows:
        return f"data rows {data.num_rows} != {exp.rows}"
    labels = {d["values"]: d["counts"] for d in pc.value_counts(data["label"]).to_pylist()}
    if labels != exp.labels:
        return f"labels {labels} != {exp.labels}"
    forward = pc.sum(data["is_forward"]).as_py() or 0
    adv = pq.read_table(f"{out}/adversarial", columns=["is_forward"])
    if forward != exp.forward or adv.num_rows != exp.forward:
        return f"forward {forward}, adversarial {adv.num_rows} != {exp.forward}"
    if not pc.all(adv["is_forward"]).as_py() and adv.num_rows:
        return "adversarial sink holds non-forward rows"
    ts_us = np.rint(data["timestamp"].to_numpy() * 1e6).astype(np.int64)
    keep = np.isin(ts_us, exp.sample_ts_us)
    if int(keep.sum()) != len(exp.sample_ts_us):
        return f"sampled rows {int(keep.sum())} != {len(exp.sample_ts_us)}"
    feats = data["features"].filter(keep)
    mat = pc.list_flatten(feats).to_numpy().reshape(-1, inputs.FEATURE_WIDTH)
    as_bytes = np.rint(mat.astype(np.float64) * 255).astype(np.uint8)
    digest = inputs.feature_digest(ts_us[keep], [r.tobytes() for r in as_bytes])
    if digest != exp.digest:
        return "sampled feature rows differ from the generated payloads"
    return None


class PcapEtl(Sequence):
    """``process_pcap`` as the CLI's defaults call it, on seeded captures.
    A pass runs a whole-capture op on every size in ``WHOLE``, then an
    attack-window op on every size in ``WINDOW``.  The split reader cuts
    the largest capture into several chunks, parsed in parallel."""

    name = "pcap_etl"
    SPLIT_PACKETS = 20_000  # the CLI's --chunk-size default
    WHOLE = (2_500, 10_000)
    WINDOW = (10_000, 60_000)

    def generate(self, in_dir: str, out_dir: str, seed: int) -> None:
        self.out_dir = out_dir
        self.caps = {
            n: inputs.write_capture(f"{in_dir}/cap{n}.pcap", n, seed)
            for n in sorted({*self.WHOLE, *self.WINDOW})
        }
        self._seq = itertools.count()

    def import_engine(self) -> None:
        import bytesprocessor_spark.pipeline  # noqa: F401

    def _op(self, n: int, kind: str) -> Op:
        cap = self.caps[n]

        def run(spark, rec):
            from bytesprocessor_spark.pipeline import process_pcap

            out = f"{self.out_dir}/{kind}{n}-{next(self._seq)}"
            with _span(rec, "process_pcap"):
                process_pcap(
                    spark, cap.path, out, attacks=_engine_attacks(cap),
                    ranges=() if kind == "whole" else cap.ranges,
                    check_quality=True, split_packets=self.SPLIT_PACKETS,
                )
            return out

        exp = cap.whole if kind == "whole" else cap.window
        return Op(f"{kind}_{n}", n, run, lambda out: check_pcap_output(out, exp))

    def one_pass(self) -> list[Op]:
        return [self._op(n, "whole") for n in self.WHOLE] + [
            self._op(n, "window") for n in self.WINDOW
        ]

    def probe(self, spark, rec: Recorder) -> dict[str, float]:
        """Each pcap-path layer timed on its own, on the largest
        whole-capture size."""
        from bytesprocessor_spark.functions.bytes import FEATURE_WIDTH, features_matrix
        from bytesprocessor_spark.operators.labeling import extract_ranges, label_attacks
        from bytesprocessor_spark.operators.quality import assert_no_nulls
        from bytesprocessor_spark.sources.pcap import (
            index_capture_chunks, parse_pcap_bytes, read_pcap,
        )

        cap = self.caps[max(self.WHOLE)]
        split = self.SPLIT_PACKETS
        attacks = _engine_attacks(cap)
        out = f"{self.out_dir}/probe"
        m: dict[str, float] = {}
        with rec.span("probe", op="probe:pcap"):
            with rec.span("pcap.index") as s:
                list(index_capture_chunks(cap.path, split))
            m["pcap.index_s"] = s.end - s.start
            with open(cap.path, "rb") as f:
                data = f.read()
            with rec.span("pcap.parse_1core") as s:
                rows = list(parse_pcap_bytes(data))
            m["pcap.parse_pkts_per_s_1core"] = cap.n_packets / (s.end - s.start)
            with rec.span("bytes.featurize") as s:
                features_matrix([r["payload"] for r in rows], FEATURE_WIDTH)
            m["bytes.featurize_s"] = s.end - s.start
            with rec.span("pcap.read") as s:
                _noop(read_pcap(spark, cap.path, split_packets=split))
            m["pcap.read_s"] = s.end - s.start
            with rec.span("pcap.read_features") as s:
                _noop(read_pcap(spark, cap.path, split_packets=split, features=True))
            m["bytes.arrow_s"] = (s.end - s.start) - m["pcap.read_s"]
            with rec.span("checkpoint"):
                frame = read_pcap(
                    spark, cap.path, split_packets=split, features=True
                ).localCheckpoint(eager=True)
            with rec.span("labeling.label") as s:
                _noop(label_attacks(extract_ranges(frame, cap.ranges), attacks))
            m["labeling.label_s"] = s.end - s.start
            labeled = label_attacks(frame, attacks).drop("payload")
            with rec.span("pipeline.write") as s:
                labeled.write.mode("overwrite").parquet(f"{out}/data")
            m["pipeline.write_s"] = s.end - s.start
            m["pipeline.bytes_per_row"] = _dir_bytes(f"{out}/data") / cap.whole.rows
            written = spark.read.parquet(f"{out}/data")
            with rec.span("pipeline.adv") as s:
                written.filter("is_forward").write.mode("overwrite").parquet(f"{out}/adversarial")
            m["pipeline.adv_s"] = s.end - s.start
            scalar = [f.name for f in written.schema.fields if f.name != "features"]
            with rec.span("quality.check") as s:
                assert_no_nulls(written, scalar, context="probe")
            m["quality.check_s"] = s.end - s.start
        frame.unpersist()
        return m


# ---------------------------------------------------------------------------
# llm_curation: registry entries checked against their DuckDB oracle
# ---------------------------------------------------------------------------

def _canon_cell(v):
    """Type-tagged cell, so 68 (integer) and 68.0 (double) differ."""
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, bytes):
        return ("x", v.hex())
    if repr(v) in ("NaT", "<NA>"):
        return None
    return ("s", str(v))


def canon_frame(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows sorted by repr) of a pandas frame;
    row order never matters, column order never matters."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


class Oracle:
    """Each entry's DuckDB ``ORACLE`` SQL over the same Parquet files."""

    def __init__(self, table_dir: str, tables: tuple[str, ...]) -> None:
        self.table_dir, self.tables = table_dir, tables
        self._con = None
        self._want: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple:
        if name not in self._want:
            import duckdb

            from bytesprocessor_spark.queries import ORACLE

            if self._con is None:
                self._con = duckdb.connect()
                for t in self.tables:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.table_dir}/{t}.parquet')"
                    )
            self._want[name] = canon_frame(self._con.execute(ORACLE[name]).fetchdf())
        return self._want[name]

    def compare(self, name: str, pdf) -> str | None:
        want_cols, want_rows = self.expected(name)
        cols, rows = canon_frame(pdf)
        if cols != want_cols:
            return f"columns {cols} != {want_cols}"
        if len(rows) != len(want_rows):
            return f"rows {len(rows)} != {len(want_rows)}"
        if rows != want_rows:
            bad = sum(a != b for a, b in zip(rows, want_rows))
            return f"{bad} of {len(rows)} rows differ from the oracle"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class QueryWorkload(Sequence):
    """Registry entries collected with ``toPandas()``; a pass runs every
    entry once."""

    name = ""
    ENTRIES: dict[str, tuple[str, ...]] = {}  # entry -> tables it reads

    def generate(self, in_dir: str, out_dir: str, seed: int) -> None:
        self.table_dir = in_dir
        self.tables = tuple(sorted({t for ts in self.ENTRIES.values() for t in ts}))
        self._rows = {t: pq.read_metadata(f"{in_dir}/{t}.parquet").num_rows for t in self.tables}
        self.oracle = Oracle(in_dir, self.tables)

    def import_engine(self) -> None:
        import bytesprocessor_spark.queries  # noqa: F401

    def _op(self, name: str) -> Op:
        def run(spark, rec):
            from bytesprocessor_spark.queries import QUERIES

            with _span(rec, "construct"):
                df = QUERIES[name](spark, self.table_dir)
            with _span(rec, "execute"):
                return df.toPandas()

        records = sum(self._rows[t] for t in self.ENTRIES[name])
        return Op(name, records, run, lambda pdf: self.oracle.compare(name, pdf))

    def one_pass(self) -> list[Op]:
        return [self._op(n) for n in self.ENTRIES]

    def probe(self, spark, rec: Recorder) -> dict[str, float]:
        """Every input table scanned on its own into the noop sink."""
        from bytesprocessor_spark.sources.tables import load_table

        with rec.span("probe", op="probe:tables"):
            with rec.span("tables.scan") as s:
                for t in self.tables:
                    _noop(load_table(spark, self.table_dir, t))
        scan_s = s.end - s.start
        mb = sum(os.path.getsize(f"{self.table_dir}/{t}.parquet") for t in self.tables) / 1e6
        return {"tables.scan_s": scan_s, "tables.scan_mb_per_s": mb / scan_s}


class LlmCuration(QueryWorkload):
    name = "llm_curation"
    WARM_PASSES = 2
    PASSES = 1
    N_DOCS, N_VECS = 500, 500  # sf0.01-shaped
    ENTRIES = {
        "dedup_minhash_verified": ("documents",),
        "dedup_minhash_incremental": ("documents",),
        "dedup_jaccard_pairs": ("documents",),
        "dedup_cluster_keep": ("documents",),
        "text_bpe_encode": ("documents",),
        "similarity_topk": ("embeddings",),
        "text_tfidf_topterms": ("documents",),
        "text_quality": ("documents",),
    }

    def generate(self, in_dir: str, out_dir: str, seed: int) -> None:
        inputs.write_corpus(in_dir, self.N_DOCS, self.N_VECS, seed)
        super().generate(in_dir, out_dir, seed)


WORKLOADS = {w.name: w for w in (PcapEtl, LlmCuration)}
