"""Time registry queries by name, at 1x or at 1x and Nx the fixture.

Usage: python tools/probe.py [sf_dir] [--scale N] name [name ...]

One Spark session.  First warm-up sweeps run every name (on both
directories with ``--scale``) until WARM_S seconds have passed, at least
once; then for each name: clearCache and a JVM GC, one untimed run, then
REPS timed noop writes of ``QUERIES[name](spark, sf_dir)``.  Every name is
timed in a JVM warmed on every name's code for about the same time, so a
name's median does not depend on its place in the list or on the list's
length; the untimed run right before a name's timed runs keeps its first
timed run from reading high after the other names ran.  Prints the
median, every timed run, and Spark jobs per timed run (the DAG
scheduler's job-id delta, so eager checkpoints, dims probes and collects
all count, which ``explain()`` does not show).  A query that raises
prints ``FAILED`` and the run goes on; the exit code is 1 if any query
failed.

``--scale N`` writes an N-times copy of sf_dir once (``write_scaled``),
into a temp directory removed at exit, times every name on both
directories and prints the Nx/1x wall and jobs ratios.  A wall ratio
near 1 means fixed per-query cost dominates; near N means linear; well
above N means a superlinear plan.

Not the bench: numbers printed here never enter BENCH_DETAIL.jsonl, and
comparing one commit against another is perfbench/'s job.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kcl_akka_stream_spark.sources.batch import DEFAULT_SF_DIR, TABLE_NAMES, load_table

REPS = 3
#: Warm-up sweeps repeat until they have run this long, because the JVM
#: keeps getting faster over about the first minute of query work.  At
#: sf0.1 (local[4]) stream_hll_merge read 2.40-4.08 s as the first of 2
#: names and 1.97-2.32 s as the 14th of 15 after one sweep; 1.84-2.18 s
#: and 1.95-2.55 s after 60 s of sweeps.
WARM_S = 60.0
#: Replica i shifts every id by i * ID_STRIDE; fixture ids stay below it.
ID_STRIDE = 10_000_000
VOWELS = "aeiou"
CONSONANTS = "bcdfghjklmnpqrstvwxz"


def _replica(name: str, df: DataFrame, i: int) -> DataFrame:
    """Replica ``i`` of one table: ids shifted out of every other
    replica's range, content perturbed so replicas stay distinct."""
    shift = F.lit(i * ID_STRIDE)
    if name == "documents":
        # The perturbation must be injective per replica.  Rotating vowels
        # by i % 5 alone made replicas i and i + 5 byte-identical, so a 10x
        # corpus carried 25k built-in exact-dup pairs; rotating consonants
        # by i // 5 as well keeps all n <= 100 replicas distinct.
        # translate() maps one char to one char, so n_chars stays true.
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        c = (i // 5) % len(CONSONANTS)
        crot = CONSONANTS[c:] + CONSONANTS[:c]
        text = F.translate(F.translate("text", VOWELS, rot), CONSONANTS, crot)
        return df.withColumns({"doc_id": F.col("doc_id") + shift, "text": text})
    if name == "embeddings":
        # x + i * 1e-4 widens the elements to double; cast back.
        emb = F.transform("embedding", lambda x: x + F.lit(i * 1e-4))
        return df.withColumns({
            "vec_id": F.col("vec_id") + shift,
            "embedding": emb.cast("array<float>"),
        })
    # events: disjoint user ids, so user-keyed windows do not widen per user
    return df.withColumns({
        "event_id": F.col("event_id") + shift,
        "user_id": F.col("user_id") + shift,
    })


def write_scaled(spark: SparkSession, src: str, dst: str, n: int) -> None:
    """Write an n-times copy of fixture dir ``src`` into ``dst``, each
    table as one ``<table>.parquet`` file like the fixture: the loader
    caches and the IVF index key on one file's identity, and the
    streaming twins glob ``<table>.[p]arquet``.  documents, embeddings
    and events are replicated (``_replica``); every other table is a
    byte copy."""
    for name in TABLE_NAMES:
        out = os.path.join(dst, f"{name}.parquet")
        if name not in ("documents", "embeddings", "events"):
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), out)
            continue
        base = load_table(spark, src, name)
        scaled = reduce(DataFrame.unionByName, [_replica(name, base, i) for i in range(n)])
        stage = os.path.join(dst, f"_{name}_stage")
        scaled.coalesce(1).write.parquet(stage)
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.replace(os.path.join(stage, part), out)
        shutil.rmtree(stage)


def _run(spark: SparkSession, name: str, sf_dir: str) -> None:
    from kcl_akka_stream_spark.queries import QUERIES

    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def _failed(name: str, tag: str, e: Exception) -> None:
    traceback.print_exc()
    msg = (str(e).strip().splitlines() or [""])[0]
    print(f"{name}{tag}: FAILED {type(e).__name__}: {msg}", flush=True)


def _warm(spark: SparkSession, names: list[str], dirs: list[tuple[str, str]]) -> set[str]:
    """Warm-up sweeps: run every name on every (dir, tag), again until
    WARM_S seconds have passed; return the names that raised, after
    printing FAILED for each."""
    failed: set[str] = set()
    t0 = time.perf_counter()
    while True:
        for name in [n for n in names if n not in failed]:
            for sf_dir, tag in dirs:
                try:
                    _run(spark, name, sf_dir)
                except Exception as e:  # report and go on to the next query
                    _failed(name, tag, e)
                    failed.add(name)
                    break
        if time.perf_counter() - t0 >= WARM_S or failed >= set(names):
            return failed


def _timed(spark: SparkSession, name: str, sf_dir: str, tag: str) -> tuple[float, float] | None:
    """Time one warmed query and print its line: (median, jobs per run),
    or None after printing FAILED if it raised."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        _run(spark, name, sf_dir)  # untimed: re-warm what the GC and the other names cooled
        j0 = dag.nextJobId()
        times = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            _run(spark, name, sf_dir)
            times.append(time.perf_counter() - t0)
    except Exception as e:  # report and go on to the next query
        _failed(name, tag, e)
        return None
    med, jobs = statistics.median(times), (dag.nextJobId() - j0) / REPS
    runs = " ".join(f"{t:.3f}" for t in times)
    print(f"{name}{tag}: median {med:.3f}s  jobs/run {jobs:.1f}  runs {runs}", flush=True)
    return med, jobs


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else DEFAULT_SF_DIR
    scale = None
    if args[:1] == ["--scale"] and len(args) > 1:
        scale, args = int(args[1]), args[2:]
    if not args or args[0].startswith("-") or (scale is not None and scale < 1):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2

    from kcl_akka_stream_spark.session import get_session

    spark = get_session("probe")
    print(f"# {spark.sparkContext.master} on {os.cpu_count()} CPUs, {sf_dir}", flush=True)
    if scale is None:
        failed = _warm(spark, args, [(sf_dir, "")])
        results = [_timed(spark, name, sf_dir, "") for name in args if name not in failed]
        return int(bool(failed) or None in results)

    scaled_dir = tempfile.mkdtemp(prefix=f"probe_x{scale}_")
    try:
        t0 = time.perf_counter()
        write_scaled(spark, sf_dir, scaled_dir, scale)
        print(f"# {scale}x fixture written in {time.perf_counter() - t0:.1f}s", flush=True)
        failed = _warm(spark, args, [(sf_dir, " [1x]"), (scaled_dir, f" [{scale}x]")])
        for name in [n for n in args if n not in failed]:
            one = _timed(spark, name, sf_dir, " [1x]")
            big = _timed(spark, name, scaled_dir, f" [{scale}x]")
            if one is None or big is None:
                failed.add(name)
                continue
            print(
                f"{name}: wall ratio {big[0] / one[0]:.2f}  jobs ratio {big[1] / one[1]:.2f}",
                flush=True,
            )
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)
    return int(bool(failed))


if __name__ == "__main__":
    raise SystemExit(main())
