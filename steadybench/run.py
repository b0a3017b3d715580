"""Run one benchmark workload and print its metrics.

    python3 steadybench/run.py --workload pcap_etl --seed 1 --seconds 40 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.steadybench/``, starts one SparkSession with the
engine's ``get_spark`` on ``local[<cores>]``, and drives it from one
client thread in a closed loop: a cold pass over every op type, untimed
warm-up ops, then a fixed sequence of timed ops.  Every op's output is
then checked, untimed.  Reported times are wall times less the delay
the hypervisor's steal caused meanwhile (see ``steal_adjusted``).  The
last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
run metadata (generation time, raw per-op wall, CPU and steal times).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same ops with spans, Spark job-group accounting and /proc sampling
around them, then times each layer's public functions on the run's
inputs, reports the per-layer metrics, and writes the spans to
``.steadybench/spans-<workload>-<seed>.json``.

The op sequence never depends on ``--seconds``: every run does the same
work, so a faster engine is not handed more warm ops.  ``--seconds`` is
accepted for the harness and recorded in the metadata.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Any

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "ops_per_s": "1/s",
    "records_per_s": "1/s",
    "op_s_p50": "s",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.first_job_s": "s",
    "pcap.index_s": "s",
    "pcap.parse_pkts_per_s_1core": "1/s",
    "pcap.read_s": "s",
    "bytes.featurize_s": "s",
    "bytes.arrow_s": "s",
    "labeling.label_s": "s",
    "pipeline.write_s": "s",
    "pipeline.adv_s": "s",
    "pipeline.bytes_per_row": "B/row",
    "quality.check_s": "s",
    "queries.construct_s": "s",
    "queries.execute_s": "s",
    "caching.builds_cold": "count",
    "caching.build_s": "s",
    "caching.builds_warm": "count",
    "dedup.execute_s": "s",
    "similarity.execute_s": "s",
    "text.execute_s": "s",
    "tables.scan_s": "s",
    "tables.scan_mb_per_s": "MB/s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.py_peak_rss_mb": "MB",
    "mem.py_workers": "count",
    "cpu.cold_s": "s",
    "cpu.timed_s": "s",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# /proc and Spark status probes used by the traced run
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, CPU ticks) for every visible process.  The
    ticks are user + system time of the process and of its children
    that have already been reaped."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rp = s.rindex(")")
        fields = s[rp + 2 :].split()
        out[int(d)] = (int(fields[1]), s[s.index("(") + 1 : rp], sum(map(int, fields[11:15])))
    return out


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started (the JVM, its Python workers), reaped ones included."""
    table = _proc_table()
    me = os.getpid()
    ticks = sum(table[p][2] for p in [me] + _descendants(me, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def _descendants(root: int, table: dict[int, tuple[int, str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class SparkTrace:
    """Per-op job-group accounting from ``statusTracker`` and peak RSS of
    the JVM and its Python workers from /proc.  Its own cost is summed
    into ``overhead_s``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.overhead_s = 0.0
        self.per_op: list[tuple[int, int, int, int]] = []
        self.jvm_mb = self.py_mb = 0.0
        self.py_workers = 0

    def before(self, op_id: str) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(op_id, op_id)
        self.overhead_s += time.perf_counter() - t0

    def after(self, op_id: str, timed: bool) -> None:
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
                failed += info.numFailedTasks
        if timed:
            self.per_op.append((len(jobs), stages, tasks, failed))
        self.sample_memory()
        self.overhead_s += time.perf_counter() - t0

    def sample_memory(self) -> None:
        table = _proc_table()
        java = [p for p in _descendants(os.getpid(), table) if table[p][1] == "java"]
        for jvm in java:
            self.jvm_mb = max(self.jvm_mb, _hwm_mb(jvm))
            py = [p for p in _descendants(jvm, table) if table[p][1].startswith("python")]
            self.py_workers = max(self.py_workers, len(py))
            self.py_mb = max(self.py_mb, sum(_hwm_mb(p) for p in py))

    def metrics(self) -> dict[str, float]:
        n = max(len(self.per_op), 1)
        return {
            "spark.jobs_per_op": sum(r[0] for r in self.per_op) / n,
            "spark.stages_per_op": sum(r[1] for r in self.per_op) / n,
            "spark.tasks_per_op": sum(r[2] for r in self.per_op) / n,
            "spark.failed_tasks": sum(r[3] for r in self.per_op),
            "mem.jvm_peak_rss_mb": self.jvm_mb,
            "mem.py_peak_rss_mb": self.py_mb,
            "mem.py_workers": self.py_workers,
            "trace.overhead_s": self.overhead_s,
        }


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _memo_snapshot() -> dict[str, float]:
    from bytesprocessor_spark.operators.caching import MEMO_BUILD_SEC

    return dict(MEMO_BUILD_SEC)


def _memo_builds(before: dict[str, float], after: dict[str, float]) -> tuple[int, float]:
    """Builds between two snapshots of ``MEMO_BUILD_SEC``: keys that are
    new or whose recorded build time changed."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return len(new), sum(new)


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------

def _configure_env(work: Path) -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout,
    and let the workers import the engine from it."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData' pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def _stop(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    JVM started."""
    from pyspark import SparkContext

    table = _proc_table()
    started = _descendants(os.getpid(), table)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


@dataclass
class Done:
    """One op as it ran: wall time, and the CPU time of the process tree
    and the hypervisor steal summed over all vCPUs during it."""

    phase: str
    op: Any
    wall_s: float
    cpu_s: float
    steal_s: float
    out: Any = None
    error: str | None = None

    @property
    def s(self) -> float:
        return steal_adjusted(self.wall_s, self.cpu_s, self.steal_s)


def steal_adjusted(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time less the delay the hypervisor's steal caused.

    Steal accrues only on vCPUs that wanted to run, and it is summed
    over them.  An interval that kept ``p`` vCPUs busy, ``p`` = (CPU
    time received + CPU time stolen) / wall, lost about ``steal_s / p``
    of wall time, so that is what is taken off; ``p`` is never taken
    below 1.  With no steal the result is the wall time."""
    if steal_s <= 0:
        return wall_s
    busy = max(1.0, (cpu_s + steal_s) / wall_s)
    return wall_s - steal_s / busy


def run(workload: str, seed: int, seconds: int, trace: bool, work: Path) -> tuple[dict, dict]:
    from spans import Recorder
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    steal0 = _steal_s()
    t0 = time.perf_counter()
    (work / "in").mkdir()
    (work / "out").mkdir()
    wl.generate(str(work / "in"), str(work / "out"), seed)
    os.sync()  # the inputs' writeback must not overlap set-up
    gen_s = time.perf_counter() - t0

    cpu, st = _tree_cpu_s(), _steal_s()
    t0 = time.perf_counter()
    from bytesprocessor_spark.session import get_spark

    wl.import_engine()
    t1 = time.perf_counter()
    spark = get_spark("steadybench")
    t2 = time.perf_counter()
    done: list[Done] = []
    layers, probe_err = {}, None
    try:
        spark.range(1000).count()
        t3 = time.perf_counter()
        setup = {"session.import_s": t1 - t0, "session.start_s": t2 - t1, "session.first_job_s": t3 - t2}
        setup_s = steal_adjusted(t3 - t0, _tree_cpu_s() - cpu, _steal_s() - st)

        rec = Recorder() if trace else None
        tr = SparkTrace(spark) if trace else None
        memo = [_memo_snapshot()]
        phases = (("cold", wl.cold_ops()), ("warm", wl.warm_ops()), ("timed", wl.timed_ops()))
        for phase, ops in phases:
            for i, op in enumerate(ops):
                op_id = f"{phase}:{i}:{op.name}"
                if tr:
                    tr.before(op_id)
                cpu, st = _tree_cpu_s(), _steal_s()
                t = time.perf_counter()
                out = err = None
                try:
                    if rec is not None:
                        with rec.span("op", op=op_id):
                            out = op.run(spark, rec)
                    else:
                        out = op.run(spark, None)
                except Exception as e:  # counted in `failed`, never raised
                    traceback.print_exc(file=sys.stderr)
                    err = f"{type(e).__name__}: {e}"
                wall = time.perf_counter() - t
                done.append(Done(phase, op, wall, _tree_cpu_s() - cpu, _steal_s() - st, out, err))
                if tr:
                    tr.after(op_id, phase == "timed")
            memo.append(_memo_snapshot())

        if trace:
            try:
                layers = wl.probe(spark, rec)
            except Exception as e:  # counted in `failed`, never raised
                traceback.print_exc(file=sys.stderr)
                probe_err = f"{type(e).__name__}: {e}"
    finally:
        t0 = time.perf_counter()
        _stop(spark)
        stop_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    for d in done:  # the untimed correctness check
        if d.error is None:
            try:
                d.error = d.op.check(d.out)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                d.error = f"check raised {type(e).__name__}: {e}"
        if d.error is not None:
            print(f"FAILED {d.phase} {d.op.name}: {d.error}", file=sys.stderr)
    if hasattr(wl, "oracle"):
        wl.oracle.close()
    check_s = time.perf_counter() - t0

    cold = [d for d in done if d.phase == "cold"]
    warm = [d for d in done if d.phase == "warm"]
    timed = [d for d in done if d.phase == "timed"]
    ok = [d for d in timed if d.error is None]
    timed_s = sum(d.s for d in timed)
    failed = sum(d.error is not None for d in done) + (probe_err is not None)
    meta = {
        "workload": workload,
        "seed": seed,
        "seconds_arg": seconds,
        "gen_s": gen_s,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "steal_s": _steal_s() - steal0,
        "setup_wall_s": sum(setup.values()),
        "warm_s": sum(d.s for d in warm),
        "stop_s": stop_s,
        "check_s": check_s,
        "ops": [
            {"phase": d.phase, "name": d.op.name, "wall_s": d.wall_s, "s": d.s,
             "cpu_s": d.cpu_s, "steal_s": d.steal_s, "error": d.error}
            for d in done
        ],
    }
    if probe_err is not None:
        meta["probe_error"] = probe_err
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": sum(d.s for d in cold),
            "ops_per_s": len(ok) / timed_s,
            "records_per_s": sum(d.op.records for d in ok) / timed_s,
            "op_s_p50": statistics.median(d.s for d in timed),
        }
        units = END_TO_END
    else:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(setup)
        metrics.update(layers)
        metrics.update(tr.metrics())
        cold_n, cold_s = _memo_builds(memo[0], memo[1])
        metrics["caching.builds_cold"] = cold_n
        metrics["caching.build_s"] = cold_s
        metrics["caching.builds_warm"] = _memo_builds(memo[1], memo[3])[0]
        metrics["cpu.cold_s"] = sum(d.cpu_s for d in cold)
        metrics["cpu.timed_s"] = sum(d.cpu_s for d in timed)
        timed_ids = {f"timed:{i}:{d.op.name}" for i, d in enumerate(timed)}
        for s in rec.spans:
            if s.op not in timed_ids:
                continue
            dur = s.end - s.start
            if s.name in ("construct", "execute"):
                metrics[f"queries.{s.name}_s"] += dur
            elif s.name == "op":
                family = s.op.split(":")[2].split("_")[0]
                if f"{family}.execute_s" in metrics:
                    metrics[f"{family}.execute_s"] += dur
        spans_path = ROOT / ".steadybench" / f"spans-{workload}-{seed}.json"
        rec.dump(str(spans_path))
        meta["spans"] = str(spans_path.relative_to(ROOT))
        units = PER_LAYER
    result = {
        "correct": failed == 0,
        "attempted": len(done) + trace,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return meta, result


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "bytesprocessor_spark" / "__init__.py").is_file():
        print(f"engine package bytesprocessor_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".steadybench" / f"run-{args.workload}-{os.getpid()}"
    try:
        _configure_env(work)
        meta, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
