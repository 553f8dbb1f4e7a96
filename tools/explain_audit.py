"""Plan audit: print a one-line physical-plan summary for every headline
query (shuffle count, join strategies, scan pushdown) plus the full
formatted plan with --full.

--spread adds the under-partitioned-scan tripwire (VERDICT r9 #5): flag
any explode / Python-seam node whose input reaches a <=2-partition
parquet scan without an intervening exchange (the shape that serialized
agg_bootstrap_ci, the IVF-PQ corpus, and the r8 quantize probe onto 1-2
tasks).  Partition counts depend on fixture bytes, so run the spread
audit at the BENCH SF (sf0.1), not sf0.001.

Usage: python tools/explain_audit.py [sf_dir] [--full] [--spread] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kcl_akka_stream_spark.plans.hygiene import (
    count_exchanges,
    count_operator,
    narrow_expensive_maps,
    physical_plan,
    pushed_filters,
)
from kcl_akka_stream_spark.session import get_session

#: Measured spread-audit allowlist (round 10): these headline queries carry
#: an explode / Python seam over a narrow scan ON PURPOSE -- adding spread()
#: was MEASURED at sf0.1 (median-of-3, same session, /tmp minibench; ratios
#: recorded per name) to REGRESS because the mapped relation is tiny and the
#: extra exchange + 32-task stage costs more than the serialized map.  The
#: tripwire cannot distinguish "narrow because the data is tiny" (harmless)
#: from "narrow because of file layout under big data" (the
#: agg_bootstrap_ci failure class) statically, so acceptance is recorded
#: here with the measurement.  A name may sit here ONLY with a measured
#: ratio; re-measure when fixture sizes change.
SPREAD_AUDIT_ALLOW = {
    "sim_topk_ivf": "spread 1.19x (kmeans_update over 2k-row embeddings)",
    "sim_ivf_recall_report": "spread 1.60x (same learn path, twice)",
    "sim_ndcg_eval": "rides the same inline IVF learn path (kmeans_update over 2k-row embeddings, allowed above)",
    "cluster_kmeans_step": "spread 2.42x (k*d posexplode over 2k rows)",
    "emb_pq_assign": "spread 1.77x (encode matmul over 2k rows)",
    "sim_topk_pq_adc": "spread 1.15x (same encode path)",
    "sim_topk_ivf_pq": "rides pq_encode/kmeans (allowed above)",
    "sim_ivf_delta_serving": "rides ivf_topk's learned quantizer (sim_topk_ivf allowed above, 1.19x measured); the delta leg is brute_force_topk (sim_topk_bruteforce shape, clean)",
    "emb_random_projection": "spread ~2x (matmul over 2k rows)",
    "sim_centroid_classify": "spread 1.81x (posexplode over tiny test set)",
    "pipeline_embedding_drift": "spread 2.04x (integer_centroids, tiny input)",
    "agg_cms_heavy_hitters": "spread 1.21x (depth-4 struct explode, map-side combine)",
    "agg_cms_error_report": "spread 1.42x (same cms_state seam)",
    "agg_cms_merged": "rides cms_state (allowed above)",
    "pipeline_decontaminate": "spread 1.17x on the eval side (benchmark-sized by contract)",
    # round 12:
    "pipeline_decontaminate_spans": "eval-side window explode, benchmark-sized by contract (52 docs at sf0.1) -- same seam family as pipeline_decontaminate (1.17x) / _fuzzy (1.2-2.7x), both measured: spreading the eval side buys an exchange for nothing; corpus side IS spread",
    "pipeline_decontaminate_fuzzy": "spread 1.2-2.7x measured at sf0.1 (warm 1.41s no-spread vs 1.69/3.79s spread): same eval-side seam as pipeline_decontaminate -- the eval set is benchmark-sized by contract (52 docs at sf0.1), so spreading its shingle/minhash explodes buys an exchange for nothing",
    "pipeline_bloom_dedup": "spread 1.06x (3 md5/row over the daily slice)",
    "j_interval_overlap": "spread 1.40x (pre-filtered tail, O(1)-bucket explode)",
    "pipeline_tfidf_topk": "spread 1.59x (duplicated toks subtree pays twice)",
    "text_unigram_logprob": "spread 1.44x (triplicated toks subtree)",
    "text_bigram_logprob": "bigram pairs seam KEPT (0.74x win); remaining flags are the unigram-style toks copies",
    "pipeline_perplexity_buckets": "rides the kept bigram seam; remaining flags are toks copies",
    "text_vocab_stats": "spread 1.50x ((lang, term) agg combines map-side)",
    "text_rake_keywords": "spread 1.37x (two cheap regexp passes)",
    "udtf_token_runs": "spread 1.56x (run-length UDTF cheap at fixture doc counts)",
    # round 13:
    "sim_rocchio_expansion": "spread ~1.0x measured at sf0.1 (medians 2.08s no-spread vs 1.94s spread, overlapping runs): both flagged explodes are bounded feedback relations -- (queries x dims) for the query micro-expansion and (k0*queries x dims) for the pseudo-relevant centroid -- never corpus-sized; the corpus legs are broadcast passes",
    # round 11:
    "dedup_bloom_fpr_report": "spread 1.07x measured at sf0.1 (1.17s -> 1.25s): the k-position explode reads the 5k-doc incoming slice; exchange overhead ~= the serialized explode at this cardinality (history bits broadcast either way)",
    "text_zipf_slope": "spread 1.24x measured at sf0.1 (0.55s -> 0.69s): same token-explode seam as text_vocab_stats (allowlisted 1.5x) -- the (lang, term) agg combines map-side",
    "emb_dim_stats": "spread 2.42x measured at sf0.1 (0.48s -> 1.16s): the posexplode reads the 20k-row embeddings relation; an exchange + 32-task stage costs more than the serialized dim explode",
}


def main() -> None:
    args = [a for a in sys.argv[1:] if a not in ("--full", "--spread")]
    full = "--full" in sys.argv
    spread_audit = "--spread" in sys.argv
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    from bench import HEADLINE
    from kcl_akka_stream_spark.queries import QUERIES

    spark = get_session("explain_audit")
    n_flagged = 0
    for name in names or HEADLINE:
        if name.startswith("stream_"):
            # VERDICT r13 #3: run the streaming twin for real with the
            # micro-batch plan capture installed (_fold_epochs twins
            # capture each epoch state, _aggregate_epochs and memory-sink
            # twins their final trigger via explainInternal) and audit
            # the captured physical plans -- the worst batch wins, so a
            # single skewed trigger cannot hide.
            from kcl_akka_stream_spark.plans.hygiene import (
                summarize_plan_str,
            )
            from kcl_akka_stream_spark.queries import streaming_q

            streaming_q.PLAN_CAPTURE = {}
            try:
                QUERIES[name](spark, sf_dir)
                plans = [
                    p
                    for tag, ps in streaming_q.PLAN_CAPTURE.items()
                    if tag == name or tag.startswith(name + ":")
                    for p in ps
                ]
            finally:
                streaming_q.PLAN_CAPTURE = None
            if not plans:
                print(
                    f"{name:28s} (streaming -- no micro-batch plan "
                    "captured; family has no audited state seam)"
                )
                continue
            sums = [summarize_plan_str(p) for p in plans]
            worst = {
                k: max(s[k] for s in sums)
                for k in ("exchanges", "bhj", "smj", "shj", "pushed")
            }
            print(
                f"{name:28s} exchanges={worst['exchanges']} "
                f"bhj={worst['bhj']} smj={worst['smj']} "
                f"shj={worst['shj']} pushed={worst['pushed']} "
                f"spread=n/a (micro-batch worst-of-{len(plans)})"
            )
            continue
        df = QUERIES[name](spark, sf_dir)
        parts = [
            f"exchanges={count_exchanges(df)}",
            f"bhj={count_operator(df, 'BroadcastHashJoin')}",
            f"smj={count_operator(df, 'SortMergeJoin')}",
            f"shj={count_operator(df, 'ShuffledHashJoin')}",
            f"pushed={len(pushed_filters(df))}",
        ]
        if spread_audit:
            flags = narrow_expensive_maps(df)
            if flags and name in SPREAD_AUDIT_ALLOW:
                parts.append(f"spread=allowed ({SPREAD_AUDIT_ALLOW[name]})")
            else:
                parts.append(f"spread={'FLAG' if flags else 'ok'}")
                n_flagged += bool(flags)
                for fl in flags:
                    parts.append(
                        f"[{fl['node']}({fl['node_id']})<-scan({fl['scan_id']})"
                        f" {os.path.basename(fl['path'])}"
                        f" parts={fl['scan_partitions']}]"
                    )
        print(f"{name:28s} {' '.join(parts)}")
        if full:
            print(physical_plan(df))
    if spread_audit:
        print(f"# spread audit: {n_flagged} flagged")
        sys.exit(1 if n_flagged else 0)


if __name__ == "__main__":
    main()
