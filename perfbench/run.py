"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  Workloads:
``stream_ingest`` and ``query_mix`` (see README.md).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The full record
(samples, checks, spans, environment) is written under
``perfbench/results/``.  Exits 1 when an output check fails, 2 when the
engine is not importable from the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def _source_digest(root: str) -> str:
    """sha256 over the engine's Python sources (the checkout has no git)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kcl_akka_stream_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


class Run:
    """Everything one benchmark run shares between its phases."""

    def __init__(self, args, root: str):
        from harness import RssSampler, Session, Tracer

        self.root = root
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.sf_dir = os.path.join(self.work, "tables")
        self.session = Session()
        self.tracer = Tracer(self.trace)
        self.rss = RssSampler()

    def cpu(self) -> float:
        """CPU seconds used so far by the engine: the driver JVM, its
        Python workers and this process, without the memory sampler and
        the generator."""
        from harness import cpu_seconds

        return cpu_seconds(self.rss.exclude, (self.rss.tid,))


def _spec() -> dict:
    """BENCHMARK.json: the metric names and units the result line carries."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark")
    p.add_argument("--workload", required=True, choices=["stream_ingest", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kcl_akka_stream_spark", "__init__.py")):
        print("perfbench: run from the repository root (kcl_akka_stream_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from harness import pin_env

    cpus = min(4, os.cpu_count() or 1)
    run = Run(args, root)
    shutil.rmtree(run.work, ignore_errors=True)
    pin_env(root, run.work, cpus)
    try:
        record = execute(run, args, cpus)
    finally:
        run.rss.stop()
        run.session.close()
        shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    line = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def execute(run: Run, args, cpus: int) -> dict:
    import fixtures
    from harness import cpu_jiffies, steal_share

    env = {
        "source_sha256": _source_digest(run.root),
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
    }
    run.rss.start()
    cpu0 = cpu_jiffies()
    # -- set-up: the inputs (not timed as set-up), one JVM launch and the
    # registry import, then SETUP_REPS repetitions of the workload's own
    # set-up, of which the median counts.
    t0 = time.time()
    if args.workload != "stream_ingest":
        env["fixture_bytes"] = fixtures.write_tables(run.sf_dir, args.seed)
    fixtures_s = time.time() - t0
    t0 = time.time()
    run.session.start()
    start_s = time.time() - t0
    import pyarrow
    import pyspark

    env.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__)
    t0 = time.time()
    import kcl_akka_stream_spark.queries  # noqa: F401 - populates the registry

    import_s = time.time() - t0
    if args.workload == "stream_ingest":
        from stream import StreamIngest

        workload = StreamIngest(run)
    else:
        from queries import QueryMix

        workload = QueryMix(run)
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.time()
        workload.setup_rep(rep)
        reps.append(time.time() - t0)
    setup_s = start_s + import_s + statistics.median(reps)
    res = workload.measure(args.seconds)
    peak = run.rss.stop()
    env["cpu_steal_share"] = steal_share(cpu0, cpu_jiffies())
    print(f"perfbench: cpu steal {100 * env['cpu_steal_share']:.1f}% during the run", file=sys.stderr)

    e2e = {**res["e2e"], "setup_s": setup_s, "peak_pss_mb": peak, "cold_pass_s": res["cold_pass_s"]}
    samples = {**res["samples"], "setup_s": SETUP_REPS, "peak_pss_mb": 1}
    spec = _spec()
    if run.trace:
        layers = dict(res["layers"])
        layers.update(
            {
                "session.start_s": start_s,
                "session.registry_import_s": import_s,
                "session.index_build_s": statistics.median(getattr(workload, "index_build_s", []) or [0.0]),
                "session.cold_pass_s": res["cold_pass_s"],
            }
        )
        # A layer the workload does not exercise reads 0 (no triggers, no
        # tracker state, no registry query of that name).
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    report = _report(args.workload, spec, e2e, samples, res)
    for k, r in report.items():
        alias = f"  ({r['alias']})" if r.get("alias") else ""
        print(f"{k:>16} {r['value']:12.4f} {r['unit']:<5} n={r['n']}{alias}", file=sys.stderr)
    overhead = _tracing_overhead(args, e2e) if run.trace else None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "checks": res["checks"],
        "metrics": metrics,
        "e2e": e2e,
        "report": report,
        "tracing_overhead": overhead,
        "setup": {"fixtures_s": fixtures_s, "start_s": start_s, "import_s": import_s, "reps_s": reps},
        "detail": res["detail"],
        "spans": run.tracer.spans,
    }


#: What the workload's generic end-to-end metrics measure, by name.
ALIASES = {
    "stream_ingest": {
        "pass_s": "catchup_pass_s",
        "pass_cpu_s": "catchup_pass_cpu_s",
        "ops_per_s": "catchup_rows_per_s",
        "latency_p50_ms": "checkpoint_latency_p50_ms",
        "latency_p90_ms": "checkpoint_latency_p90_ms",
    },
    "query_mix": {
        "ops_per_s": "executions_per_s",
        "latency_p50_ms": "query_median_p50_ms",
        "latency_p90_ms": "query_median_p90_ms",
    },
}


#: Units of the wall-clock figures every run reports and BENCHMARK.json does
#: not list.  On the shared 4-vCPU host the benchmark is tuned on, the CPU
#: time the hypervisor gives to other guests swung between 3% and 20% from
#: one minute to the next, and these figures with it: a query_mix pass took
#: 5.4 s in one run and 8.5 s in another, a stream_ingest catch-up pass 2.4 s
#: and 4.6 s, checkpoint latency p50 1.6 s and 2.9 s.  Ten runs of the same
#: code could not agree within a 25% bound on them, so the listed metrics
#: are those stolen time does not stretch: set-up time (which must be
#: listed), CPU seconds per pass and peak memory.
UNGATED_UNITS = {
    "pass_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cold_pass_s": "s",
}


def _report(workload: str, spec: dict, e2e: dict, samples: dict, res: dict) -> dict:
    """Every end-to-end figure with its unit, sample count and what it
    measures on this workload, plus the failure ratio."""
    aliases = ALIASES[workload]
    units = {**UNGATED_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"]}}
    report = {
        name: {
            "value": value,
            "unit": units[name],
            "n": samples.get(name, 1),
            "alias": aliases.get(name),
        }
        for name, value in e2e.items()
    }
    n = res["attempted"]
    report["failed_ratio"] = {"value": res["failed"] / max(1, n), "unit": "ratio", "n": n}
    return report


def _tracing_overhead(args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end numbers, against the untraced
    record of the same workload and seed when one is on disk."""
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["e2e"]
    return {k: traced[k] - base[k] for k in traced if k in base}


if __name__ == "__main__":
    sys.exit(main())
