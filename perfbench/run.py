#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client drives one seeded
workload through the engine and prints its metrics.

    python3 perfbench/run.py --workload shuffle_sort --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One run does this:

1. Set-up (``setup_s``). Start a session pinned to ``local[n]`` with n
   shuffle partitions, n being the usable core count. Write the seeded
   inputs and compute their references outside the engine. Then run a
   fixed number of warm-up cycles, which the workload sized so that job
   times have levelled off.
2. Measure. Run a fixed sequence of jobs, one at a time (a closed loop
   with one client). Its length is ``--seconds`` divided by the
   workload's nominal cycle time, and at least ``MIN_CYCLES`` cycles.
   After every job the drain frees what the job left behind. Each output
   is checked against the reference after the job's timers stop.

   ``run_s`` and ``cpu_s`` cover the jobs and their drains, so garbage a
   job leaves still counts: per kind, the median over its measured jobs,
   summed over the kinds and times the cycle count. ``cpu_s`` is the CPU
   time of this process and all its descendants (the JVM, with its JIT
   compiler threads, and the Python workers), read from ``/proc``. ``peak_mem_mb`` is the largest, over the jobs, of the memory
   one job used: the peak resident size of the Python processes (this
   client and the engine's Python workers) plus the JVM heap the job kept
   beyond the young generation (see ``harness.HeapPeak``). The details
   line has, per job kind, the median wall and CPU time (drain excluded)
   and memory with their sample counts. They are not gated metrics: on a
   4-vCPU VM their run-to-run spread reached 0.2-0.3 of the median.
3. Print one line of run details (core counts, load average, per-kind
   medians with sample counts, warm-up times, drain figures), then the
   result line. With ``--trace 0`` the result holds the end-to-end
   metrics. With ``--trace 1`` half of the measured cycles run traced,
   interleaved with the untraced half. The result then holds the
   per-layer totals of the traced jobs and the tracing overhead (traced
   ``run_s`` minus untraced ``run_s``). The details add, per job kind,
   the share of its span time inside Spark stages and inside stages that
   move shuffle data, and its CPU split between this client, the JVM and
   the Python workers. The spans are written once, at exit, to
   ``.perfbench_out/``.

Scratch files go to ``.perfbench_work/`` in the checkout. They are removed
at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import fnmatch  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import harness  # noqa: E402
from workloads import HEADLINE_SUBSET, WORKLOADS  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("run_s", "s"),
    ("cpu_s", "s"),
    ("peak_mem_mb", "MB"),
)
_ALL = tuple(field for field, _ in harness.SPAN_FIELDS)
_COUNTERS = _ALL[1:]
# (span, fields) per layer call, only the fields that move on the
# workloads: a lazy call whose action runs in a later span gets self_s
# alone, and so does the unpersist, which runs no Spark job.
LAYER_SPANS = (
    ("sort.total_order_sort", _ALL),
    ("sort.validate_sorted", _ALL),
    ("kv.partition_and_merge", ("self_s",)),
    ("kv.reduce_merged", _ALL),
    ("workloads.wordcount", _ALL),
    ("sources.load_table", ("self_s", "jobs", "stages", "tasks")),
    ("dedup.minhash_near_dup_pairs", _ALL),
    ("dedup.connected_components", _ALL),
    ("similarity.semdedup_coarse_quantizer", _ALL),
    ("similarity.knn_bruteforce", _ALL),
    ("cache.release_persisted", ("self_s",)),
)
# Query spans are ``queries.<name>.build`` (the query function returns its
# DataFrame) and ``queries.<name>.execute`` (its action). Each has its own
# self_s; their Spark counters are summed over the queries.
QUERY_SPANS = tuple(
    (f"queries.{name}.{part}", ("self_s",)) for name in HEADLINE_SUBSET for part in ("build", "execute")
)
QUERY_TOTALS = (("queries.execute", "queries.*.execute", _COUNTERS),)
RUN_LAYER = (
    ("cache.drain_s", "s"),
    ("plans.count_exchanges", "count"),
    ("shuffle_amp", "ratio"),
    ("trace.overhead_s", "s"),
)
_UNITS = dict(harness.SPAN_FIELDS)
PER_LAYER = (
    tuple((f"{span}.{f}", _UNITS[f]) for span, fields in LAYER_SPANS + QUERY_SPANS for f in fields)
    + tuple((f"{name}.{f}", _UNITS[f]) for name, _, fields in QUERY_TOTALS for f in fields)
    + RUN_LAYER
)


# Every kind gets at least this many measured jobs.
MIN_CYCLES = 2


class Client:
    """Runs jobs one at a time and records, per job, its wall time and the
    process tree's CPU time, both including the drain, and the memory the
    job used."""

    def __init__(self, spark, workload, tracer):
        self.spark, self.workload, self.tracer = spark, workload, tracer
        self.heap = harness.HeapPeak(spark)
        self.records: list[dict] = []

    def job(self, kind: str, n: int, phase: str) -> dict:
        """Run the ``n``-th job of ``kind`` (n counts from 0 per phase)."""
        w, tracer = self.workload, self.tracer
        tracer.job = len(self.records)
        failed_with = None
        pids = harness.tree_pids()
        harness.reset_hwm(harness.python_pids(pids))
        self.heap.reset()
        cpu0 = harness.tree_cpu_split(pids)
        jit0 = harness.jvm_busy_s(self.spark)["jit_s"]
        t0 = time.perf_counter()
        try:
            output = w.run(kind, n, tracer)
        except Exception:  # the loop must go on: count it and keep the traceback
            output, failed_with = None, traceback.format_exc()
        t1 = time.perf_counter()
        pids = harness.tree_pids()
        cpu1 = harness.tree_cpu_split(pids)
        # untimed: memory peaks, and the status store read before the drain
        # frees the plans
        heap_mb = self.heap.read_mb()
        python_mb = harness.tree_hwm_mb(harness.python_pids(pids))
        tracer.collect()
        exchanges = tracer.exchanges
        t2 = time.perf_counter()
        forced = harness.drain(self.spark, tracer)
        t3 = time.perf_counter()
        cpu = harness.tree_cpu_split()
        jit_s = harness.jvm_busy_s(self.spark)["jit_s"] - jit0
        tracer.collect()  # the drain's span
        if failed_with is None:
            try:
                ok = bool(w.check(kind, n, output))
            except Exception:
                ok, failed_with = False, traceback.format_exc()
        else:
            ok = False
        if failed_with:
            print(f"perfbench: {phase} {kind} job {n} failed:\n{failed_with}", file=sys.stderr)
        elif not ok:
            print(f"perfbench: {phase} {kind} job {n} output differs from the reference", file=sys.stderr)
        rec = {
            "kind": kind,
            "n": n,
            "phase": phase,
            "traced": tracer.enabled,
            "job_s": t1 - t0,
            "job_cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
            "drain_s": t3 - t2,
            "wall_s": (t1 - t0) + (t3 - t2),
            "cpu_s": sum(cpu.values()) - sum(cpu0.values()),
            "cpu_split": {part: cpu1[part] - cpu0[part] for part in cpu0},
            "mem_mb": heap_mb + python_mb,
            "heap_kept_mb": heap_mb,
            "python_rss_mb": python_mb,
            "jit_s": jit_s,
            "drain_forced": forced,
            "ok": ok,
            "exchanges": exchanges if tracer.enabled else None,
            "input_bytes": w.input_bytes(kind),
        }
        self.records.append(rec)
        return rec


def job_sequence(workload, cycles: int) -> list[tuple[str, int]]:
    """``cycles`` cycles of every kind: (kind, n-th job of that kind)."""
    return [(kind, c) for c in range(cycles) for kind in workload.kinds]


def kind_medians(workload, recs: list[dict], field: str) -> dict[str, tuple[float, int]]:
    """Per kind, the median of a job record field and its sample count."""
    out = {}
    for kind in workload.kinds:
        values = [r[field] for r in recs if r["kind"] == kind]
        out[kind] = (statistics.median(values), len(values))
    return out


def end_to_end(workload, setup_s: float, recs: list[dict]) -> dict:
    """The gated metrics. ``run_s`` and ``cpu_s`` are the cycle count times
    the sum over kinds of each kind's median job (drain included): the
    sequence's total, except that one slow job per kind cannot move it."""
    cycles = len(recs) / len(workload.kinds)
    return {
        "setup_s": setup_s,
        "run_s": cycles * sum(v for v, _ in kind_medians(workload, recs, "wall_s").values()),
        "cpu_s": cycles * sum(v for v, _ in kind_medians(workload, recs, "cpu_s").values()),
        "peak_mem_mb": max(r["mem_mb"] for r in recs),
    }


def per_layer(tracer, traced: list[dict], untraced: list[dict]) -> dict:
    totals = tracer.layer_totals()  # the traced client ran measured jobs only
    values = {}
    for span, fields in LAYER_SPANS + QUERY_SPANS:
        t = totals.get(span, {})
        for field in fields:
            values[f"{span}.{field}"] = t.get(field, 0.0)
    for name, pattern, fields in QUERY_TOTALS:
        matched = [t for span, t in totals.items() if fnmatch.fnmatchcase(span, pattern)]
        for field in fields:
            values[f"{name}.{field}"] = sum(t[field] for t in matched)
    shuffle_mb = sum(t["shuffle_write_mb"] for t in totals.values())
    input_mb = sum(r["input_bytes"] for r in traced) / (1024.0 * 1024.0)
    values["cache.drain_s"] = sum(r["drain_s"] for r in traced)
    values["plans.count_exchanges"] = statistics.mean(r["exchanges"] for r in traced)
    values["shuffle_amp"] = shuffle_mb / input_mb
    values["trace.overhead_s"] = sum(r["wall_s"] for r in traced) - sum(
        r["wall_s"] for r in untraced
    )
    return values


def kind_profile(workload, tracer, traced: list[dict]) -> dict:
    """Per job kind, where its traced time went: the share of span time
    inside Spark stages and inside stages that move shuffle data, and the
    CPU split between the client, the JVM and the Python workers."""
    kind_of = {i: r["kind"] for i, r in enumerate(traced)}
    totals = {k: dict.fromkeys(("self_s", "stage_s", "shuffle_stage_s"), 0.0) for k in workload.kinds}
    for span, t in tracer.layer_totals(by_job=True).items():
        job, _ = span
        for field in totals[kind_of[job]]:
            totals[kind_of[job]][field] += t[field]
    out = {}
    for kind, t in totals.items():
        recs = [r for r in traced if r["kind"] == kind]
        cpu = {part: sum(r["cpu_split"][part] for r in recs) for part in recs[0]["cpu_split"]}
        out[kind] = {
            "span_s": round(t["self_s"], 4),
            "stage_frac": round(t["stage_s"] / t["self_s"], 4),
            "shuffle_stage_frac": round(t["shuffle_stage_s"] / t["self_s"], 4),
            "cpu_s": {part: round(v, 3) for part, v in cpu.items()},
        }
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "uda_spark", "session.py")):
        print(f"perfbench: no uda_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{workload.name}-{os.getpid()}")
    harness.work_env(workdir)
    spark = None
    try:
        load_start = harness.load_average()
        t = time.perf_counter()
        spark = harness.start_session(workdir, cores)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        workload.generate(os.path.join(workdir, "tmp"), args.seed)
        workload.load(spark)
        inputs_s = time.perf_counter() - t

        client = Client(spark, workload, harness.Tracer(spark, enabled=False))
        warm = [client.job(k, n, "warmup") for k, n in job_sequence(workload, workload.warmup_cycles)]
        setup_s = time.perf_counter() - T0

        steal0 = harness.host_ticks()
        jvm0 = harness.jvm_busy_s(spark)
        cycles = max(MIN_CYCLES, round(args.seconds / workload.cycle_s))
        if args.trace:
            cycles += cycles % 2
        sequence = job_sequence(workload, cycles)
        if args.trace:
            traced_client = Client(spark, workload, harness.Tracer(spark, enabled=True))
            untraced, traced = [], []
            for kind, n in sequence:
                # cycles run untraced and traced as U T T U U T T U ..., so
                # drift cancels out of the overhead estimate
                if n % 4 in (1, 2):
                    traced.append(traced_client.job(kind, n, "measure"))
                else:
                    untraced.append(client.job(kind, n, "measure"))
            measured = untraced + traced
        else:
            measured = [client.job(k, n, "measure") for k, n in sequence]
            untraced = measured

        steal1 = harness.host_ticks()
        jvm1 = harness.jvm_busy_s(spark)
        all_recs = warm + measured
        failed = sum(not r["ok"] for r in all_recs)
        medians = kind_medians(workload, untraced, "job_s")
        cpu_medians = kind_medians(workload, untraced, "job_cpu_s")
        details = {
            "workload": workload.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "cores_used": cores,
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "loadavg_start": load_start,
            "loadavg_end": harness.load_average(),
            "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "measured_jvm_s": {k: round(jvm1[k] - jvm0[k], 3) for k in jvm0},
            "session_s": session_s,
            "inputs_s": inputs_s,
            "warmup_s": [round(r["wall_s"], 4) for r in warm],
            "measured_s": [round(r["wall_s"], 4) for r in untraced],
            "warmup_jit_s": [round(r["jit_s"], 3) for r in warm],
            "measured_jit_s": [round(r["jit_s"], 3) for r in untraced],
            "jobs": {f"{k}_p50_s": {"value": v, "n": n} for k, (v, n) in medians.items()},
            "jobs_cpu": {f"{k}_cpu_p50_s": {"value": v, "n": n} for k, (v, n) in cpu_medians.items()},
            "fail_frac": failed / len(all_recs),
            "drain_s_total": sum(r["drain_s"] for r in untraced),
            "wall_s_total": sum(r["wall_s"] for r in untraced),
            "cpu_s_total": sum(r["cpu_s"] for r in untraced),
            "drain_forced": sum(r["drain_forced"] for r in untraced),
            "heap_mb": harness.heap_max_mb(spark),
            "peak_heap_kept_mb": max(r["heap_kept_mb"] for r in untraced),
            "peak_python_rss_mb": max(r["python_rss_mb"] for r in untraced),
            "mem_mb": {k: {"value": v, "n": n} for k, (v, n) in kind_medians(workload, untraced, "mem_mb").items()},
        }
        if args.trace:
            metrics = per_layer(traced_client.tracer, traced, untraced)
            details["kinds"] = kind_profile(workload, traced_client.tracer, traced)
            units = dict(PER_LAYER)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = [
                {k: v for k, v in s.items() if k != "group"} for s in traced_client.tracer.spans
            ]
            path = os.path.join(out_dir, f"trace-{workload.name}-seed{args.seed}-{os.getpid()}.json")
            with open(path, "w") as f:
                json.dump({"details": details, "jobs": measured, "spans": spans}, f)
            details["trace_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = end_to_end(workload, setup_s, untraced)
            units = dict(END_TO_END)
        print(json.dumps({"details": details}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(all_recs),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run is still using it


if __name__ == "__main__":
    sys.exit(main())
