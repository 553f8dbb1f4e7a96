"""``query_mix``: registry queries, closed loop, one client.

Each run executes a cold pass, WARM_PASSES warm-up passes, then steady
passes until the run's seconds (counted from the cold pass) are spent, at
least MIN_STEADY of them; every pass runs a fixed query mix in seed-shuffled
order.  One execution is ``QUERIES[name](spark, sf_dir)`` (plan
construction plus any eager jobs the query runs while building) followed by
a noop write, except in the cold pass, which collects each result instead;
after the cold pass's clock stops, each collected result is checked against
the query's DuckDB oracle.  (Collecting in a later, untimed step would run
every query once more, the cost of a whole pass.)
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time

import numpy as np

from harness import StageCounters, cpu_jiffies, steal_share
from oracle import Oracle
from stats import percentile, summarize
from stream import pass_layer_metrics

#: The query mix, a subset of the registry chosen so a steady pass takes a
#: few seconds on a 4-core host and every query gets several samples a run.
#: ONESHOT queries plan once and run few jobs: their time goes to executor
#: compute, shuffle and the Arrow/Python boundary (``remove_reprocessed``,
#: the reference's oracle operator, and ``multimodal_features``).  MULTIJOB
#: queries are driver-bound: ``dedup_semantic_auto`` runs 31 eager jobs and
#: ``sim_topk_ivf_prebuilt`` probes an on-disk index built in set-up with 7.
#: Cutting driver jobs moves the MULTIJOB times and not the ONESHOT ones.
#: The streaming twins are left out: trigger overhead is measured directly
#: by ``stream_ingest``, and one twin costs as much as four one-shot queries.
ONESHOT = [
    "q1_pricing_summary",
    "j_broadcast_star",
    "agg_group_by_key",
    "w_topk_per_group",
    "remove_reprocessed",
    "multimodal_features",
]
MULTIJOB = [
    "dedup_semantic_auto",
    "sim_topk_ivf_prebuilt",
]
MIX = ONESHOT + MULTIJOB

#: Queries whose first call per fixture builds an on-disk index under
#: tempfile.gettempdir(); every set-up repetition deletes and rebuilds it.
INDEXED = ["sim_topk_ivf_prebuilt"]

#: Passes after the cold one that only warm the JVM up: per-query times
#: keep falling for a few passes after the cold one, and how fast they fall
#: varies from run to run.
WARM_PASSES = 1
MIN_STEADY = 3
_EXPR_ID = re.compile(r"#\d+L?|plan_id=\d+")


def plan_hash(df) -> str:
    """Hash of the optimized logical plan with expression ids removed."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.sha1(_EXPR_ID.sub("", text).encode()).hexdigest()[:12]


class QueryMix:
    name = "query_mix"

    def __init__(self, run):
        self.run = run
        self.index_build_s: list[float] = []

    def setup_rep(self, rep: int) -> None:
        """The mix's on-disk indexes, deleted and built from scratch.  The
        SparkContext is kept: restarting it adds run time but no set-up work
        the queries depend on."""
        from kcl_akka_stream_spark.queries import QUERIES

        tmp = os.environ["TMPDIR"]
        for d in os.listdir(tmp):
            if d.startswith(("kcl_ivf_index_", "kcl_ivfpq_index_")):
                shutil.rmtree(os.path.join(tmp, d))
        start = time.time()
        for q in INDEXED:
            QUERIES[q](self.run.session.spark, self.run.sf_dir)
        self.index_build_s.append(time.time() - start)

    def execute(self, spark, q: str, collect: bool):
        """One timed execution; returns (record, result DataFrame, collected
        rows or None)."""
        from kcl_akka_stream_spark.queries import QUERIES

        rec = {"query": q}
        rows = None
        with self.run.tracer.span("queries.execute", trace=q) as sid:
            start = time.time()
            with self.run.tracer.span("queries.build", parent=sid, trace=q):
                df = QUERIES[q](spark, self.run.sf_dir)
            built = time.time()
            with self.run.tracer.span("queries.run", parent=sid, trace=q):
                if collect:
                    rows = [tuple(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
            end = time.time()
        rec.update(start=start, end=end, build_s=built - start, s=end - start)
        if self.run.trace:
            rec["plan"] = plan_hash(df)
        return rec, df, rows

    def run_pass(self, spark, order: list[str], check: bool, counters) -> dict:
        """One pass over ``order``.  With ``check``, every execution collects
        its result, and after the pass's clock stops each result is compared
        with its oracle."""
        from kcl_akka_stream_spark.queries import ORACLES

        recs, results = [], []
        cpu0, jiffies0 = self.run.cpu(), cpu_jiffies()
        start = time.time()
        for q in order:
            try:
                rec, df, rows = self.execute(spark, q, collect=check)
            except Exception as exc:  # a failing query is counted, the loop goes on
                recs.append({"query": q, "error": f"{type(exc).__name__}: {str(exc)[:300]}"})
                continue
            recs.append(rec)
            results.append((rec, df, rows))
        end = time.time()
        out = {
            "s": end - start,
            "cpu_s": self.run.cpu() - cpu0,
            "steal": steal_share(jiffies0, cpu_jiffies()),
            "execs": recs,
        }
        if counters is not None:
            out["layers"] = counters.window(start, end)
        if check:
            for rec, df, rows in results:
                try:
                    rec["mismatch"] = self.oracle.check(ORACLES[rec["query"]], df.columns, rows)
                except Exception as exc:  # counted as a failed check
                    rec["mismatch"] = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
        out["failed"] = sum(1 for r in recs if "error" in r or r.get("mismatch"))
        return out

    def measure(self, seconds: float) -> dict:
        from kcl_akka_stream_spark.sources.batch import TABLE_NAMES

        spark = self.run.session.spark
        self.oracle = Oracle(self.run.sf_dir, TABLE_NAMES)
        counters = StageCounters(spark) if self.run.trace else None
        rng = np.random.default_rng(self.run.seed)

        def order():
            return [MIX[i] for i in rng.permutation(len(MIX))]

        end_by = time.time() + seconds
        try:
            passes = [self.run_pass(spark, order(), check=True, counters=counters)]
            while len(passes) < 1 + WARM_PASSES + MIN_STEADY or time.time() < end_by:
                passes.append(self.run_pass(spark, order(), check=False, counters=counters))
        finally:
            self.oracle.close()
        return self.results(passes)

    def results(self, passes: list[dict]) -> dict:
        steady = passes[1 + WARM_PASSES :]
        per_query_ms = {
            q: [1000.0 * e["s"] for p in steady for e in p["execs"] if e["query"] == q and "s" in e]
            for q in MIX
        }
        # Each query's median over the steady passes; the pass, throughput
        # and latency figures are composed from these, so one slow
        # execution moves them by its share of one sample.
        med_ms = [percentile(v, 50) for v in per_query_ms.values()]
        pass_s = sum(med_ms) / 1000.0
        e2e = {
            "pass_s": pass_s,
            "ops_per_s": len(med_ms) / pass_s,
            "latency_p50_ms": percentile(med_ms, 50),
            "latency_p90_ms": percentile(med_ms, 90),
            "pass_cpu_s": percentile([p["cpu_s"] for p in steady], 50),
        }
        out = {
            "attempted": sum(len(p["execs"]) for p in passes),
            "failed": sum(p["failed"] for p in passes),
            "checks": {
                "errors": [e for p in passes for e in p["execs"] if "error" in e],
                "mismatches": {e["query"]: e["mismatch"] for e in passes[0]["execs"] if e.get("mismatch")},
            },
            "e2e": e2e,
            "cold_pass_s": passes[0]["s"],
            "samples": {k: len(steady) for k in e2e},
            "detail": {
                "pass_s": [p["s"] for p in passes],
                "pass_cpu_s": [p["cpu_s"] for p in passes],
                "steal": [p["steal"] for p in passes],
                "warm_passes": WARM_PASSES,
                "execs_s": [{e["query"]: e.get("s") for e in p["execs"]} for p in passes],
                "per_query_ms": {q: summarize(v) for q, v in per_query_ms.items()},
            },
        }
        if self.run.trace:
            out["layers"] = self.layers(steady, per_query_ms)
            out["detail"]["plans"] = {e["query"]: e.get("plan") for e in passes[-1]["execs"]}
        return out

    def layers(self, steady: list[dict], per_query_ms: dict[str, list[float]]) -> dict:
        layers = pass_layer_metrics([p["layers"] for p in steady])
        layers["queries.build_ms"] = percentile(
            [1000.0 * sum(e.get("build_s", 0.0) for e in p["execs"]) for p in steady], 50
        )
        for q, times in per_query_ms.items():
            layers[f"query.{q}_ms"] = percentile(times, 50)
        layers["queries.oneshot_pass_ms"] = sum(layers[f"query.{q}_ms"] for q in ONESHOT)
        layers["queries.multijob_pass_ms"] = sum(layers[f"query.{q}_ms"] for q in MULTIJOB)
        return layers
