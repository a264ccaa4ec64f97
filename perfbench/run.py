#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload text_scan --seed 1 --seconds 25 --trace 0

``setup_s`` is one cold set-up, counted from process start less input
generation (which is cached by seed): importing the program, ``get_spark``
launching the JVM, loading the inputs and one warm-up pass over every
operation kind the measured phase runs. The measured phase is one client
in a closed loop over the workload's operation kinds for ``--seconds``;
every output is checked against the generated ground truth outside the
timed region. The gated times are net of the CPU time the hypervisor
stole while they ran (see :func:`stolen_share`); the printed workload
metrics and the record keep the times as measured.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs every
operation twice, untraced and traced, and prints the per-layer metrics,
including the tracing overhead between the two.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A record with host
context (and the spans, when traced) goes to ``perfbench/records/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

RECORDS = HERE / "records"

from perfbench.trace import RssSampler, Tracer  # noqa: E402

# The metric catalogue (names and units) is BENCHMARK.json. The layers are
# the package modules the benchmark calls into (session, sources, jobs,
# core, operators.dedup as ``dedup``, suite as ``query``) and the Spark
# engine under them (``spark``).
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# span name -> (duration metric, {count key: metric}) for the spans that
# feed one layer metric each; values are medians over the traced spans
SPAN_METRICS = {
    "sources.read_lines": ("sources.scan_s", {}),
    "sources.write_single_text_file": (
        "sources.write_s",
        {"bytes_written": "sources.bytes_written", "finder_lines": "jobs.finder_lines"},
    ),
    "jobs.letter_counter": ("jobs.letter_counter_s", {}),
    "jobs.word_finder": ("jobs.word_finder_s", {}),
    "core.run_mapreduce": (
        "core.run_mapreduce_s",
        {
            "map_partitions_reported": "core.map_partitions_reported",
            "tasks": "core.tasks",
            "processing_time_us": "core.processing_time_us",
        },
    ),
    "dedup.minhash_signatures_arrow": ("dedup.signatures_s", {}),
    "dedup.minhash_lsh_pairs": ("dedup.lsh_pairs_s", {"candidate_pairs": "dedup.candidate_pairs"}),
    "dedup.connected_components": ("dedup.cc_s", {"jobs": "dedup.cc_jobs", "clusters": "dedup.clusters"}),
    "query.build": ("query.build_s", {"jobs": "query.build_jobs"}),
    "query.plan": ("query.plan_s", {}),
    "query.exec": ("query.exec_s", {"jobs": "query.jobs"}),
}

SPARK_SUMS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
]


def _reason(e: Exception) -> str:
    return "".join(traceback.format_exception_only(e)).strip()[:300]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time the host's processes wanted between two
    :func:`cpu_ticks` readings that the hypervisor gave to other machines.
    On a shared host this swings from 0 to 0.2 within minutes and slows
    every operation by about that share; a time multiplied by one minus it
    depends much less on the neighbours' load."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (busy + steal) if busy + steal else 0.0


def host_context(seed: int, nproc: int) -> dict:
    import pyspark

    load1, load5, _ = os.getloadavg()
    return {
        "nproc": nproc, "load1": load1, "load5": load5, "seed": seed,
        "pyspark": pyspark.__version__, "python": platform.python_version(),
    }


class Runner:
    """One workload in one process: set-up, then the closed loop."""

    def __init__(self, workload, nproc: int):
        self.w = workload
        self.nproc = nproc
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.start_s = 0.0
        self.rss = RssSampler()

    def new_session(self):
        from map_reduce_implementation_spark.session import get_spark

        return get_spark(
            app_name=f"perfbench-{self.w.name}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )

    def fail(self, kind: str, reason: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{kind}: {reason}")

    def one_op(self, kind: str, tr) -> tuple[float, float]:
        """Run one operation; return its timed latency in seconds, as
        measured and net of stolen CPU time."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.w.before(kind, self.spark)
            # start from a drained event queue, as after a traced operation's
            # finish_op, so traced and untraced operations start alike
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            with tr.op(kind):
                k0 = cpu_ticks()
                t0 = time.perf_counter()
                out = self.w.run(kind, self.spark, tr)
                lat = time.perf_counter() - t0
                net = lat * (1 - stolen_share(k0, cpu_ticks()))
        except Exception as e:  # an operation that raises counts as failed
            self.fail(kind, _reason(e))
            lat = time.perf_counter() - t0
            return lat, lat
        try:
            tr.finish_op()
            reason = self.w.check(kind, out, tr)
        except Exception as e:  # a check that cannot run is a wrong output
            reason = _reason(e)
        if reason:
            self.fail(kind, reason)
        return lat, net

    def setup(self, prep_s: float, traced: bool) -> float:
        """The set-up time from process start, less input generation; the
        warm-up pass runs every kind the measured phase will run, so the
        untraced and the traced operations are all warm. Returns it as
        measured."""
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = self.new_session()
        self.start_s = time.perf_counter() - t0
        self.rss.start(SparkContext._gateway.proc.pid)
        self.tr = Tracer(self.spark, enabled=False)
        try:
            self.w.load(self.spark)
        except Exception as e:  # a missing input fails the operations too
            self.fail("load", _reason(e))
        for kind in self.w.kinds + (self.w.traced_kinds if traced else []):
            self.one_op(kind, self.tr)
        return time.perf_counter() - T_START - prep_s

    def loop(self, seconds: float, traced: bool) -> tuple[list, list]:
        """Round robin over the operation kinds until ``seconds`` have
        passed and every kind has run; returns the (kind, latency, net latency) of
        the untraced and of the traced operations. With ``traced``, each
        kind runs untraced and traced back to back, which of the two goes
        first alternating from one kind to the next and from one round to
        the next, so that changes in load and the JVM's continuing warm-up
        fall on both alike; the traced-only kinds run traced, once a
        round."""
        done: dict[bool, list[tuple[str, float, float]]] = {False: [], True: []}
        seq = self.w.kinds + (self.w.traced_kinds if traced else [])
        n = 0
        start = time.perf_counter()
        while n < len(seq) or time.perf_counter() - start < seconds:
            rnd, i = divmod(n, len(seq))
            kind = seq[i]
            if not traced:
                modes = (False,)
            elif kind in self.w.traced_kinds:
                modes = (True,)
            else:
                modes = (False, True) if (i + rnd) % 2 == 0 else (True, False)
            for on in modes:
                self.tr.enabled = on
                done[on].append((kind, *self.one_op(kind, self.tr)))
            n += 1
        return done[False], done[True]


def kind_medians(ops: list[tuple[str, float, float]], net: bool) -> dict[str, float]:
    """Median latency of each operation kind, as measured or net."""
    by: dict[str, list[float]] = {}
    for kind, lat, net_lat in ops:
        by.setdefault(kind, []).append(net_lat if net else lat)
    return {kind: statistics.median(v) for kind, v in by.items()}


def end_to_end(runner: Runner, ops, setup_s, peak_rss_mb) -> tuple[dict, dict]:
    """(gated metrics, the workload-specific metrics printed above them)."""
    w = runner.w
    # per-kind medians, so each kind weighs the same however many times the
    # round robin reached it
    medians = list(kind_medians(ops, net=True).values())
    lats = [lat for _, lat, _ in ops]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(medians),
        "ops_per_s": len(medians) / sum(medians),
    }
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        "failed_frac": (runner.failed / max(runner.attempted, 1), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }

    def med_rate(kind: str, work: float) -> float:
        return statistics.median(work / lat for k, lat, _ in ops if k == kind)

    if w.name == "text_scan":
        mb = w.work_bytes / 1e6
        named["counter_mb_s"] = (med_rate("counter", mb), "MB/s")
        named["finder_mb_s"] = (med_rate("finder", mb), "MB/s")
        named["mapreduce_mb_s"] = (med_rate("mapreduce", mb), "MB/s")
    else:
        named["query_p50_s"] = (statistics.median(lats), "s")
        named["query_p90_s"] = (percentile(lats, 90), "s")
        named["mix_qps"] = (len(lats) / sum(lats), "queries/s")
    named["samples"] = (len(lats), "count")
    return e2e, named


def per_layer(runner: Runner, untraced, traced, peak_rss_mb) -> tuple[dict, dict]:
    """(per-layer metrics, per-kind breakdown) from the traced operations."""
    tr = runner.tr
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = runner.start_s
    m["spark.peak_rss_mb"] = peak_rss_mb
    spans = [s for s in tr.spans if s.name != "spark.job"]
    for name, (dur_metric, counts) in SPAN_METRICS.items():
        mine = [s for s in spans if s.name == name]
        if not mine:
            continue
        m[dur_metric] = statistics.median(s.end - s.start for s in mine)
        for key, metric in counts.items():
            m[metric] = statistics.median(s.counts.get(key, 0) for s in mine)
    mr = [s for s in spans if s.name == "core.run_mapreduce"]
    if mr:
        m["core.utilization"] = statistics.median(
            s.counts.get("executor_run_s", 0) / ((s.end - s.start) * runner.nproc) for s in mr
        )
    roots = [s for s in spans if s.parent is None]
    per_op = {r.op: {k: 0.0 for k in SPARK_SUMS} for r in roots}
    skews, failed_tasks = [], 0
    for s in spans:
        for k in SPARK_SUMS:
            per_op[s.op][k] += s.counts.get(k, 0)
        skews += s.counts.get("skews", [])
        failed_tasks += s.counts.get("failed_tasks", 0)
    for k in SPARK_SUMS:
        m[f"spark.{k}"] = statistics.median(v[k] for v in per_op.values())
    m["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    m["spark.failed_tasks"] = failed_tasks
    wall = sum(r.end - r.start for r in roots)
    run_s = sum(v["executor_run_s"] for v in per_op.values())
    m["spark.utilization"] = run_s / (wall * runner.nproc)
    selfs = [tr.self_times(r.op) for r in roots]
    for layer in ("sources", "jobs", "core", "dedup", "query", "spark", "remainder"):
        m[f"self.{layer}_s"] = sum(st.get(layer, 0.0) for st in selfs) / len(roots)
    m["trace.op_wall_s"] = wall / len(roots)

    mu, mt = kind_medians(untraced, net=False), kind_medians(traced, net=False)
    both = [k for k in mt if k in mu]
    m["trace.overhead_frac"] = sum(mt[k] for k in both) / sum(mu[k] for k in both) - 1

    breakdown: dict[str, dict] = {}
    for r in roots:
        row = breakdown.setdefault(r.name, {"n": 0})
        row["n"] += 1
        for s in spans:
            if s.op == r.op and s is not r:
                acc = row.setdefault(s.name, {"s": [], "jobs": []})
                acc["s"].append(s.end - s.start)
                acc["jobs"].append(s.counts.get("jobs", 0))
    for row in breakdown.values():
        for key, acc in row.items():
            if key != "n":
                row[key] = {"s": statistics.median(acc["s"]), "jobs": statistics.median(acc["jobs"])}
    return m, breakdown


def shutdown(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    ticks0 = cpu_ticks()
    try:
        import map_reduce_implementation_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable: {e}", file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    # Spark's local and temporary files stay inside the checkout, in a
    # directory of this process that is removed when it ends
    scratch = gen.DATA_DIR / "tmp" / str(os.getpid())
    scratch.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(scratch)
    runner = Runner(WORKLOADS[args.workload](), nproc)
    context = host_context(args.seed, nproc)

    t0 = time.perf_counter()
    try:
        runner.w.prepare(args.seed, scratch)
    except Exception as e:  # a missing input fails every operation below
        runner.fail("prepare", _reason(e))
    prep_s = time.perf_counter() - t0

    try:
        setup_s = runner.setup(prep_s, traced=bool(args.trace))
        ticks1 = cpu_ticks()
        context["setup_steal"] = stolen_share(ticks0, ticks1)
        ops, traced = runner.loop(args.seconds, traced=bool(args.trace))
        runner.rss.sample()
        context["steal_frac"] = stolen_share(ticks1, cpu_ticks())
    finally:
        peak = runner.rss.stop()
        shutdown(runner.spark)
        shutil.rmtree(scratch, ignore_errors=True)

    e2e, named = end_to_end(runner, ops, setup_s * (1 - context["setup_steal"]), peak)
    record = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "host": context, "load_end": os.getloadavg()[:2], "prepare_s": prep_s,
        "session_start_s": runner.start_s, "setup_measured_s": setup_s,
        "end_to_end": e2e, "named": named, "failures": runner.failures,
        "ops": [list(o) for o in ops],
    }
    for name, (value, unit) in named.items():
        print(f"{name:24s} {value:14.4f} {unit}")
    if args.trace:
        dedup = [lat for kind, lat, _ in traced if kind == "fuzzy_dedup"]
        if dedup:
            docs = runner.w.dedup_truth["docs"]
            print(f"{'dedup_docs_per_s':24s} {statistics.median(docs / t for t in dedup):14.4f} docs/s")
        metrics, breakdown = per_layer(runner, ops, traced, peak)
        record.update(per_layer=metrics, breakdown=breakdown)
        for kind, row in breakdown.items():
            parts = [f"{k}={v['s']:.3f}s/{v['jobs']:g}j" for k, v in row.items() if k != "n"]
            print(f"  {kind:30s} n={row['n']} " + " ".join(parts))
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        runner.tr.dump(str(RECORDS / f"{args.workload}-s{args.seed}-trace1.json"), record)
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        RECORDS.mkdir(parents=True, exist_ok=True)
        with open(RECORDS / f"{args.workload}-s{args.seed}-trace0.json", "w") as f:
            json.dump(record, f)
    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
