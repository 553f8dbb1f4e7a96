"""Plan hygiene: partition spreading + physical-plan inspection.

The reference has no optimizer (SURVEY §4) -- Catalyst supplies pushdown,
pruning, join selection, AQE.  This module is the engine's guard rails on
top: assert the plan we *want* actually materialized (filters reached the
scan, small dims broadcast, no cartesian products), and fix the one thing
Catalyst won't: parallelism of CPU-heavy expressions over few-partition
inputs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition IF the input is under-partitioned.

    Local small-file reads land in 1 partition, serializing CPU-heavy
    per-row expressions (hashing, regex, vector math).  On a real cluster
    with many files this is a no-op; prefer tuning
    ``spark.sql.files.maxPartitionBytes`` for scans at scale -- this guard
    exists for the narrow-input case where the map cost dominates the
    one-off shuffle of the input."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_in_plan(df: DataFrame, pattern: str) -> int:
    return len(re.findall(pattern, physical_plan(df)))


def count_operator(df: DataFrame, op: str) -> int:
    """Count physical operators by their detail header ``(N) <op>`` --
    formatted explain prints each operator in the tree AND in the detail
    section, so a bare substring count double-counts."""
    return len(re.findall(rf"\(\d+\) {op}\b", physical_plan(df)))


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count of the plan (Exchange operators, incl. broadcast)."""
    return count_operator(df, "Exchange")


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return count_in_plan(df, r"BroadcastHashJoin") > 0


def has_cartesian_product(df: DataFrame) -> bool:
    return count_in_plan(df, r"CartesianProduct") > 0


def summarize_plan_str(plan: str) -> dict:
    """Operator counts from a plan STRING -- for captured streaming
    micro-batch plans (VERDICT r13 #3) where no live DataFrame exists by
    the time the audit reads them.  Handles BOTH explain styles: the
    formatted mode's ``(N) Op`` detail headers (what physical_plan()
    captures for each epoch state inside streaming_q._fold_epochs) and
    the simple mode's tree lines (what StreamingQuery.explainInternal
    emits for the _aggregate_epochs and memory-sink twins).  Counting
    rules mirror count_operator / count_exchanges exactly: node NAMES
    anchored, so ReusedExchange and BroadcastExchange never inflate the
    shuffle count."""
    # explainInternal carries every section (Parsed/Analyzed/Optimized/
    # Physical); only the physical tree counts.  Formatted mode prints
    # its detail headers ``(N) Op`` at COLUMN 0 -- the simple mode's
    # codegen markers ``*(4) Op`` sit behind tree glyphs and never
    # anchor a line, so this is the discriminating test.
    i = plan.find("== Physical Plan ==")
    if i >= 0:
        plan = plan[i:]
    formatted = re.search(r"^\(\d+\) [A-Za-z]", plan, re.M) is not None

    def cnt(op: str) -> int:
        if formatted:
            return len(re.findall(rf"\(\d+\) {op}\b", plan))
        return len(
            re.findall(rf"^[\s+:|-]*(?:\*\(\d+\) )?{op}\b", plan, re.M)
        )

    pushed: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            pushed.extend(p.strip() for p in entry.split(","))
    return {
        "exchanges": cnt("Exchange"),
        "bhj": cnt("BroadcastHashJoin"),
        "smj": cnt("SortMergeJoin"),
        "shj": cnt("ShuffledHashJoin"),
        "pushed": len(pushed),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


#: Physical nodes whose per-row cost dominates a narrow input: row
#: multiplication (Generate = explode) and every Python-worker seam.
EXPENSIVE_MAP_NODES = (
    "Generate",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "MapInPandas",
    "PythonMapInArrow",
)

#: Nodes that re-distribute rows -- reaching one of these on the way down
#: means the expensive map's parallelism is NOT pinned to the scan layout.
_EXCHANGE_NODES = ("Exchange", "ShuffleQueryStage", "AQEShuffleRead", "ReusedExchange")


def _parse_plan_tree(plan: str):
    """Parse formatted-explain header lines into (depth, name, node_id)
    triples.  Each tree line looks like ``   +- * Generate (3)`` -- depth
    is the marker offset / 3, codegen stars and branch glyphs stripped."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(
            r"^([ :]*)([+:]- )?(?:\* )?([A-Za-z][\w ]*?) \((\d+)\)\s*$", line
        )
        if not m:
            if nodes and not line.strip():
                break  # end of the tree header section
            continue
        prefix, marker, name, nid = m.groups()
        depth = len(prefix) // 3 + (1 if marker else 0)
        nodes.append((depth, name.strip(), int(nid)))
    return nodes


def narrow_expensive_maps(df: DataFrame, max_parts: int = 2) -> list[dict]:
    """The under-partitioned-scan tripwire (VERDICT r9 #5): find every
    expensive-map node (explode / Python seam) whose input chain reaches
    a parquet scan WITHOUT crossing an exchange, where that scan would
    read in <= ``max_parts`` partitions at the current fixture -- the
    shape that cost agg_bootstrap_ci 2.4 s (and the IVF-PQ corpus and the
    r8 quantize probe before it): the expensive work serializes onto the
    scan's 1-2 tasks while 30 cores idle.  The fix is ``spread()`` (or a
    maxPartitionBytes tune) between scan and map.

    Returns one dict per flagged (map node, scan) pair:
    ``{node, node_id, scan_id, path, scan_partitions}``.  Partition
    counts are measured by re-reading the scan's Location with the
    session's own split settings, so the audit reflects THIS fixture
    scale -- run it at the bench SF, not sf0.001.
    """
    plan = physical_plan(df)
    tree = _parse_plan_tree(plan)
    # node-id -> Location path from the detail section
    locs = {}
    for m in re.finditer(
        r"\((\d+)\) Scan parquet[\s\S]*?Location: \w+ \[([^\]]*)\]", plan
    ):
        locs[int(m.group(1))] = m.group(2)
    spark = df.sparkSession
    part_cache: dict[str, int] = {}
    flagged = []
    for i, (depth, name, nid) in enumerate(tree):
        if not any(name.startswith(em) for em in EXPENSIVE_MAP_NODES):
            continue
        # walk the subtree (nodes deeper than `depth` until depth <= depth)
        blocked_at: set[int] = set()  # depths below which an exchange shields
        for d2, n2, id2 in tree[i + 1:]:
            if d2 <= depth:
                break
            if blocked_at and d2 > min(blocked_at):
                continue  # shielded by an exchange higher up this branch
            blocked_at = {b for b in blocked_at if b < d2}
            if any(n2.startswith(x) for x in _EXCHANGE_NODES):
                blocked_at.add(d2)
                continue
            if n2.startswith("Scan parquet") and id2 in locs:
                path = locs[id2].split(",")[0].strip()
                if path.startswith("file:"):
                    path = path[5:]
                if path not in part_cache:
                    try:
                        part_cache[path] = (
                            spark.read.parquet(path).rdd.getNumPartitions()
                        )
                    except Exception:
                        part_cache[path] = -1
                nparts = part_cache[path]
                if 0 < nparts <= max_parts:
                    flagged.append(
                        {
                            "node": name,
                            "node_id": nid,
                            "scan_id": id2,
                            "path": path,
                            "scan_partitions": nparts,
                        }
                    )
    return flagged


#: Global-window audit (VERDICT r14 #4): every ``Window.orderBy(...)``
#: spec built WITHOUT a ``partitionBy`` collapses its input onto a single
#: task -- a global sort/scan that is fine on a bounded relation and a
#: scale-killer on a data-sized one (the r14 ``text_heaps_law`` finding,
#: since rewritten to a two-pass range-bucketed rank).  Every
#: unpartitioned global window site in the package must carry a row here
#: stating WHY its input relation is bounded;
#: ``tests/test_global_window_audit.py``
#: AST-scans the package and fails on any site without a row (or any
#: stale row), so the next data-sized global window cannot land
#: silently.  Keys are (module path relative to the package root,
#: enclosing function); values are (site count in that function, bound
#: class note).
GLOBAL_WINDOW_AUDIT = {
    ("operators/sampling.py", "dsir_select"): (
        1,
        "k-row relation: ranks the .limit(k) top-k selection output; "
        "k is the caller's selection budget, never the corpus",
    ),
    ("queries/core.py", "agg_gini_concentration"): (
        1,
        "supplier-bounded: one row per l_suppkey (dimension-table "
        "cardinality, ~1e4 per SF unit -- not fact-table-sized)",
    ),
    ("queries/core.py", "agg_hill_tail_index"): (
        1,
        "supplier-bounded: ranks the per-supplier revenue relation",
    ),
    ("queries/core.py", "w_trending_decay"): (
        1,
        "event-type-bounded: one row per distinct event_type (single "
        "digits in the fixture; a closed enum, not data-sized)",
    ),
    ("queries/core.py", "sample_neyman_allocation"): (
        1,
        "event-type-bounded: largest-remainder rank over the per-type "
        "allocation relation",
    ),
    ("queries/pipeline.py", "pipeline_mixture_weights"): (
        1,
        "lang-bounded: largest-remainder rank over the per-language "
        "quota relation (closed language set)",
    ),
    ("queries/pipeline.py", "pipeline_token_apportionment"): (
        1,
        "lang-bounded: largest-remainder rank over the per-language "
        "apportionment relation",
    ),
    ("operators/windows.py", "distributed_cumsum"): (
        1,
        "literal <= n_buckets + 1 rows: the prefix-offset window over "
        "per-bucket totals inside the two-pass distributed rank/cumsum "
        "operator (the linear replacement for data-sized global "
        "windows; used by text_heaps_law and sample_pps_systematic)",
    ),
    ("queries/pipeline.py", "text_quality_model_auc"): (
        1,
        "distinct-score-bounded, PRACTICAL not provable: the relation "
        "is one row per distinct hashed-log-odds score_micro after the "
        "tie-group pre-fold.  Scores are integer micro-log-odds of "
        "bounded-resolution count ratios, so distinct values are "
        "typically orders of magnitude below doc count, but an "
        "adversarial corpus could approach one score per doc -- if "
        "this family ever feeds unbounded production scoring, re-rank "
        "via the text_heaps_law two-pass bucketed pattern (VERDICT r14 "
        "#4 bound note)",
    ),
    ("queries/pipeline.py", "agg_pr_auc"): (
        1,
        "distinct-score-bounded, PRACTICAL not provable: the same "
        "tie-group pre-fold relation as text_quality_model_auc (see "
        "that row's bound note); the descending cumulative window "
        "reads one row per distinct score_micro",
    ),
    ("queries/pipeline.py", "text_quality_model_calibration"): (
        2,
        "literal 10-row relation: both windows (cumulative counts and "
        "PAV prefix max) run over the nb=10 score-bucket aggregate",
    ),
}
