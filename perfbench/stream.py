"""``stream_ingest``: the paper's own path, source -> tracker -> commit.

    envelope_file_stream -> (shard_id, seq, processed)
        -> streaming_checkpoint_frontier -> committing_foreach_batch

committing every trigger (cadence: one record).  ``process()`` persists the
per-shard frontier as one JSON row, the analogue of the reference's DynamoDB
checkpoint row.

Phase 1, catch-up (closed loop): staged backlogs of PASS_FILES envelope files
are renamed into the source directory one pass at a time and drained;
``pass_s`` is the drain time, ``ops_per_s`` the rows per second of a drain.
The first pass after set-up is ``cold_pass_s``.

Phase 2, live (open loop): a separate generator process writes one file every
TICK seconds at LIVE_RATE records/s, about a ninth of the catch-up throughput
on a 4-core host, so checkpoint latency reflects the trigger's fixed cost
rather than queueing near capacity, and a host slowed by its neighbours
still keeps up.  A record's checkpoint latency runs from its creation stamp
to the commit whose frontier first covers it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

from fixtures import PENDING, RecordSource, envelope_table, write_atomic
from harness import StageCounters, cpu_jiffies, progress_listener, steal_share
from stats import checkpoint_latencies, frontier_regressions, percentile, self_times, summarize

SHARDS = 8
TICK = 0.1
LIVE_RATE = 2000
BACKLOG_ROWS_PER_FILE = 800
FILES_PER_TRIGGER = 25
PASS_FILES = 50
#: Share of the run's seconds given to the live phase; catch-up gets the
#: rest (but always MIN_PASSES drains).
LIVE_SHARE = 0.6
MIN_PASSES = 4
PENDING_SHARE = 0.001
ACK_DELAY = 3
HERE = os.path.dirname(os.path.abspath(__file__))


class StreamIngest:
    name = "stream_ingest"

    def __init__(self, run):
        self.run = run
        self.query = None
        self.frontier_log: dict[int, dict] = {}
        self.progress: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def setup_rep(self, rep: int) -> None:
        """Fresh source and checkpoint directories, one staged trigger of
        files, start the query and wait for that warm-up trigger."""
        if self.query is not None:
            self.query.stop()
        base = os.path.join(self.run.work, f"stream{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.dirs = {k: os.path.join(base, k) for k in ("in", "stage", "ckpt", "commits", "row")}
        for d in self.dirs.values():
            os.makedirs(d)
        self.records = RecordSource(self.run.seed, SHARDS, PENDING_SHARE, ACK_DELAY)
        self.frontier_log = {}
        self.stage_pass("warm", FILES_PER_TRIGGER)
        self.publish()
        self.start_query(self.run.session.spark)
        self.query.processAllAvailable()

    def start_query(self, spark) -> None:
        from pyspark.sql import functions as F

        from kcl_akka_stream_spark.config import ShardCheckpointConfig
        from kcl_akka_stream_spark.streaming.commit import CommitTracker, committing_foreach_batch
        from kcl_akka_stream_spark.streaming.pipeline import envelope_file_stream
        from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

        src = envelope_file_stream(spark, self.dirs["in"], max_files_per_trigger=FILES_PER_TRIGGER)
        acks = src.select(
            F.col("partitionKey").cast("long").alias("shard_id"),
            F.col("sequenceNumber").cast("long").alias("seq"),
            (F.col("data") != F.lit(PENDING)).alias("processed"),
        )
        tracked = streaming_checkpoint_frontier(acks)
        self.commit_tracker = CommitTracker(ShardCheckpointConfig(checkpoint_after_processing_nr_of_records=1))
        tracer = self.run.tracer
        frontier: dict[str, int] = {}
        row_path = os.path.join(self.dirs["row"], "frontier.json")
        current = {"span": None}

        def process(batch_df, epoch_id: int) -> None:
            with tracer.span("streaming.commit.process", parent=current["span"], trace=f"epoch-{epoch_id}"):
                rows = batch_df.collect()
                for r in rows:
                    if r["frontier_seq"] is not None:
                        frontier[str(r["shard_id"])] = int(r["frontier_seq"])
                tmp = row_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump({"epoch": epoch_id, "frontier": frontier}, f)
                os.replace(tmp, row_path)
                self.frontier_log[epoch_id] = {
                    "frontier": dict(frontier),
                    "in_flight": max((r["in_flight_count"] for r in rows), default=0),
                    "uncheckpointed": max((r["processed_uncheckpointed_count"] for r in rows), default=0),
                }

        inner = committing_foreach_batch(process, self.commit_tracker, self.dirs["commits"])

        def run_batch(batch_df, epoch_id: int) -> None:
            with tracer.span("streaming.commit.run", trace=f"epoch-{epoch_id}") as sid:
                current["span"] = sid
                inner(batch_df, epoch_id)

        self.query = (
            tracked.writeStream.foreachBatch(run_batch)
            .outputMode("update")
            .option("checkpointLocation", self.dirs["ckpt"])
            .trigger(processingTime="0 seconds")
            .start()
        )

    def stage_pass(self, tag: str, n_files: int) -> int:
        """Write a backlog of ``n_files`` files into the staging directory,
        the last one also carrying every outstanding ack; returns rows."""
        rows = 0
        now = time.time()
        for i in range(n_files):
            shard, seq, pending, _ = self.records.batch(BACKLOG_ROWS_PER_FILE)
            if i == n_files - 1:
                acks = self.records.flush_acks()
                shard, seq, pending = (np.concatenate(x) for x in zip((shard, seq, pending), acks))
            write_atomic(envelope_table(shard, seq, pending, now), self.dirs["stage"], f"{tag}-{i:05d}.parquet")
            rows += len(seq)
        return rows

    def publish(self) -> None:
        for name in sorted(os.listdir(self.dirs["stage"])):
            os.rename(os.path.join(self.dirs["stage"], name), os.path.join(self.dirs["in"], name))

    # -- measurement ------------------------------------------------------
    def measure(self, seconds: float) -> dict:
        spark = self.run.session.spark
        counters = StageCounters(spark) if self.run.trace else None
        if self.run.trace:
            spark.streams.addListener(progress_listener(self.progress))
        passes, layer_passes = [], []
        budget_end = time.time() + seconds * (1 - LIVE_SHARE)
        while len(passes) < MIN_PASSES or time.time() < budget_end:
            rows = self.stage_pass(f"pass{len(passes)}", PASS_FILES)
            cpu0, jiffies0 = self.run.cpu(), cpu_jiffies()
            start = time.time()
            self.publish()
            self.query.processAllAvailable()
            end = self.commit_tracker.commits[-1]["at"]
            passes.append(
                {
                    "rows": rows,
                    "s": end - start,
                    "cpu_s": self.run.cpu() - cpu0,
                    "steal": steal_share(jiffies0, cpu_jiffies()),
                }
            )
            if counters is not None:
                layer_passes.append({**counters.window(start, end), "start": start, "end": end})
        expected = self.records.next_seq - 1
        latest = self.frontier_log[max(self.frontier_log)]["frontier"]
        catchup_behind = int(sum(max(0, e - latest.get(str(s), -1)) for s, e in enumerate(expected)))
        live = self.live(seconds * LIVE_SHARE)
        self.query.stop()
        out = self.results(passes, layer_passes, live, catchup_behind)
        if self.run.trace:
            out["layers"]["streaming.local1_catchup_rows_per_s"] = self.single_thread_baseline()
        return out

    def single_thread_baseline(self) -> float:
        """Drain one backlog pass at local[1]: the single-threaded
        baseline of the catch-up throughput."""
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        self.run.session.restart(cpus=1)
        try:
            self.setup_rep(99)
            rows = self.stage_pass("single", PASS_FILES)
            start = time.time()
            self.publish()
            self.query.processAllAvailable()
            rate = rows / (self.commit_tracker.commits[-1]["at"] - start)
            self.query.stop()
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus
        return rate

    def live(self, duration: float) -> dict:
        state = os.path.join(self.run.work, "gen-state.json")
        log = os.path.join(self.run.work, "gen-log.json")
        with open(state, "w") as f:
            json.dump({"next_seq": self.records.next_seq.tolist(), "pending_share": PENDING_SHARE, "ack_delay": ACK_DELAY}, f)
        start_at = time.time() + 0.3
        cmd = [
            sys.executable, os.path.join(HERE, "generator.py"),
            "--dir", self.dirs["in"], "--log", log, "--seed", str(self.run.seed + 1_000_003),
            "--rate", str(LIVE_RATE), "--tick", str(TICK), "--duration", str(duration),
            "--start-at", str(start_at), "--state", state,
        ]  # fmt: skip
        proc = subprocess.Popen(cmd)
        self.run.rss.exclude.add(proc.pid)
        try:
            proc.wait(timeout=duration + 30)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator exited with {proc.returncode}")
        self.query.processAllAvailable()
        with open(log) as f:
            gen = json.load(f)
        gen["start_at"] = start_at
        return gen

    def commits(self) -> list[dict]:
        from kcl_akka_stream_spark.streaming.commit import read_commits

        return [
            {"at": c["at"], "frontier": self.frontier_log[c["epoch_id"]]["frontier"]}
            for c in read_commits(self.dirs["commits"])
            if c["epoch_id"] in self.frontier_log
        ]

    def results(self, passes, layer_passes, gen, catchup_behind) -> dict:
        commits = self.commits()
        files = gen["files"]
        lat, uncovered = checkpoint_latencies(files, commits)
        regressions = frontier_regressions(commits)
        final = commits[-1]["frontier"] if commits else {}
        behind = sum(
            max(0, last - final.get(str(s), -1)) for s, last in enumerate(gen["last_seq"])
        )
        n_records = sum(r[1] - r[0] + 1 for f in files for r in f["ranges"].values())
        # A growing backlog shows as latency climbing through the live
        # phase: the last quarter's median must stay near the overall one.
        order = np.argsort([f["created"] for f in files])
        tail_files = [files[i] for i in order[int(len(order) * 0.75):]]
        tail_lat, _ = checkpoint_latencies(tail_files, commits)
        growing = len(lat) > 0 and len(tail_lat) > 0 and percentile(tail_lat, 50) > 2 * percentile(lat, 50) + 0.5
        failed = uncovered + regressions + behind + catchup_behind + (n_records if growing else 0)
        steady = passes[1:]
        lat_ms = lat * 1000.0
        out = {
            "attempted": n_records + sum(p["rows"] for p in passes),
            "failed": failed,
            "checks": {
                "uncovered_records": uncovered,
                "frontier_regressions": regressions,
                "final_frontier_behind": behind,
                "backlog_growing": bool(growing),
                "catchup_frontier_behind": catchup_behind,
            },
            "e2e": {
                "pass_s": percentile([p["s"] for p in steady], 50),
                "ops_per_s": percentile([p["rows"] / p["s"] for p in steady], 50),
                "latency_p50_ms": percentile(lat_ms, 50) if len(lat_ms) else float("nan"),
                "latency_p90_ms": percentile(lat_ms, 90) if len(lat_ms) else float("nan"),
                "pass_cpu_s": percentile([p["cpu_s"] for p in steady], 50),
            },
            "cold_pass_s": passes[0]["s"],
            "samples": {
                "pass_s": len(steady),
                "ops_per_s": len(steady),
                "latency_p50_ms": len(lat_ms),
                "latency_p90_ms": len(lat_ms),
                "pass_cpu_s": len(steady),
            },
            "detail": {
                "passes": passes,
                "latency_ms": summarize(lat_ms.tolist()),
                "live_rate": LIVE_RATE,
                "live_files": len(files),
                "generator_late_ms": summarize([1000.0 * (f["created"] - f["due"]) for f in files]),
            },
        }
        if self.run.trace:
            out["layers"] = self.layers(layer_passes, gen, files)
            out["detail"]["progress"] = self.progress
        return out

    # -- per-layer (traced run only) ---------------------------------------
    def layers(self, layer_passes, gen, files) -> dict:
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = [p["durationMs"] for p in prog]

        def med(values):
            values = list(values)
            return percentile(values, 50) if values else 0.0

        state_ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        spans = self.run.tracer.spans
        selfs = self_times(spans)
        runs = [s for s in spans if s["name"] == "streaming.commit.run"]
        triggers = len(prog)
        layers = {
            "sources.offset_ms_p50": med(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur),
            "sources.backlog_files_max": self.backlog_files_max(prog, gen, files),
            "sources.generator_late_ms_p99": percentile([1000.0 * (f["created"] - f["due"]) for f in files], 99),
            "streaming.trigger_ms_p50": med(d["triggerExecution"] for d in dur),
            "streaming.trigger_ms_p90": percentile([d["triggerExecution"] for d in dur], 90) if dur else 0.0,
            "streaming.plan_ms_p50": med(d.get("queryPlanning", 0) for d in dur),
            "streaming.log_ms_p50": med(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
            "streaming.rows_per_trigger_p50": med(p["numInputRows"] for p in prog),
            "streaming.triggers": triggers,
            "streaming.tracker.update_ms_p50": med(s.get("allUpdatesTimeMs", 0) for s in state_ops),
            "streaming.tracker.state_commit_ms_p50": med(s.get("commitTimeMs", 0) for s in state_ops),
            "streaming.tracker.state_rows_max": max((s.get("numRowsTotal", 0) for s in state_ops), default=0),
            "streaming.tracker.state_bytes_max": max((s.get("memoryUsedBytes", 0) for s in state_ops), default=0),
            "streaming.tracker.in_flight_max": max((v["in_flight"] for v in self.frontier_log.values()), default=0),
            "streaming.tracker.uncheckpointed_max": max((v["uncheckpointed"] for v in self.frontier_log.values()), default=0),
            "streaming.commit.run_ms_p50": med(1000.0 * (s["end"] - s["start"]) for s in runs),
            "streaming.commit.self_ms_p50": med(1000.0 * selfs[s["id"]] for s in runs),
            "streaming.commit.commits_per_trigger": len(self.commit_tracker.commits) / triggers if triggers else 0.0,
        }
        if layer_passes:
            in_passes = [
                p for p in prog
                if any(lp["start"] <= _epoch(p["timestamp"]) <= lp["end"] for lp in layer_passes)
            ]  # fmt: skip
            jobs = sum(lp["jobs"] for lp in layer_passes)
            layers["streaming.jobs_per_trigger"] = jobs / max(1, len(in_passes))
            layers.update(pass_layer_metrics(layer_passes[1:] or layer_passes))
        return layers

    def backlog_files_max(self, prog, gen, files) -> int:
        """Files the generator had written but the query had not started
        on, at each live trigger's start (rows consumed map to files in
        creation order)."""
        live = []
        for p in prog:
            t = _epoch(p["timestamp"])
            if t >= gen["start_at"]:
                live.append((t, p["numInputRows"]))
        created = np.array(sorted(f["created"] for f in files))
        cum_rows = np.cumsum([f["rows"] for f in sorted(files, key=lambda f: f["created"])])
        consumed = 0
        worst = 0
        for t, n in live:
            written = int(np.searchsorted(created, t, side="right"))
            done = int(np.searchsorted(cum_rows, consumed, side="right"))
            worst = max(worst, written - done)
            consumed += n
        return worst


def _epoch(ts: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def pass_layer_metrics(passes: list[dict]) -> dict:
    """Median over passes of the status-store counters of each pass."""

    def med(key):
        return percentile([p[key] for p in passes], 50)

    return {
        "queries.jobs_per_pass": med("jobs"),
        "queries.stages_per_pass": med("stages"),
        "queries.driver_gap_ms": med("driver_gap_ms"),
        "operators.run_ms": med("run_ms"),
        "operators.cpu_ms": med("cpu_ms"),
        "operators.gc_ms": med("gc_ms"),
        "operators.tasks_per_pass": med("tasks"),
        "operators.shuffle_write_bytes": med("shuffle_write_bytes"),
        "operators.shuffle_read_bytes": med("shuffle_read_bytes"),
        "operators.spill_bytes": med("spill_bytes"),
        "functions.python_wait_ms": med("python_wait_ms"),
        "functions.python_stage_share": med("python_stage_share"),
    }
