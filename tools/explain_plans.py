"""Dump .explain("formatted") for every registry query into PLANS.md,
plus automated plan hygiene checks:

* scans must show PushedFilters / pruned ReadSchema where expected
* broadcast-intended joins must use BroadcastHashJoin
* Python appears only in stages that are genuinely Python (pandas UDF)

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    # query -> substrings that MUST appear in the physical plan
    "generate_topn": ["PushedFilters", "TakeOrderedAndProject"],
    "tpch_q1": ["PushedFilters"],
    "broadcast_dim_join": ["BroadcastHashJoin"],
    "tpch_q3": ["BroadcastHashJoin"],
    "tpch_q5ish": ["BroadcastHashJoin"],
    "inject_antijoin": ["LeftAnti"],
    "exists_semijoin": ["LeftSemi"],
    # hot-dictionary prune must be a broadcast anti-join, not a shuffle
    "ngram_overlap": ["LeftAnti"],
    "jaccard_pairs": ["LeftAnti"],
    # brute-force baseline (ann.cosine_topk): the query set broadcasts
    # against every vector; cosine is a JVM expression
    "ann_cosine_topk": ["BroadcastNestedLoopJoin", "!EvalPython"],
    # centroid assignment must broadcast the 8 centroids, never shuffle them
    "ivf_ann_topk": ["BroadcastNestedLoopJoin"],
    # random-hyperplane buckets (literal planes) and the rerank: all JVM
    "rh_lsh_ann_pairs": ["!EvalPython"],
    # pure JVM map stages (higher-order array lambdas are CodegenFallback
    # but still JVM expressions): no Python eval may appear ("!" = must
    # NOT appear in the plan)
    "url_canonicalize": ["Union", "!EvalPython"],
    "embed_quantize_int8": ["Project", "!EvalPython", "!Exchange"],
    "gopher_repetition": ["Generate", "HashAggregate", "!EvalPython"],
    # idf dictionary / out-degree joins carry NO broadcast hint (the
    # O(n)-side-broadcast fix): at sf scale AQE still picks broadcast,
    # which is what these assert; at web scale the same plan degrades
    # to a shuffle join instead of an OOM
    "tfidf_top_terms": ["BroadcastHashJoin", "!EvalPython"],
    "pagerank": ["BroadcastHashJoin", "!EvalPython"],
    # decontamination benchmark set is genuinely small -> explicit hint
    "decontaminate_ngram": ["BroadcastHashJoin", "!EvalPython"],
    "char_entropy": ["HashAggregate", "!EvalPython"],
    # BPE: training is driver-side bounded collects; the APPLY chain
    # (k nested replaces + explode + agg) must stay pure JVM
    "bpe_token_counts": ["HashAggregate", "!EvalPython"],
    # one map-side-combinable aggregate, integer-div percent, no Python
    "revalidation_savings": ["HashAggregate", "!EvalPython"],
    # LSH-bounded exact Jaccard: banded candidates, no quadratic stage,
    # all JVM; exact verify is size(array_intersect()) over per-doc
    # shingle arrays — the exploded shingle table feeds ONLY the
    # signature aggregate, never a join (VERDICT r3 item 3)
    "jaccard_lsh_verified": ["HashAggregate", "array_intersect", "!EvalPython"],
    "dup_rate_by_source": ["HashAggregate", "!EvalPython"],
    "unigram_logprob": ["HashAggregate", "!EvalPython"],
    # PQ/ADC: per-query LUT broadcast; corpus side is int code triples,
    # raw floats never shuffle, no Python eval
    "pq_adc_topk": ["BroadcastHashJoin", "!EvalPython"],
    # IVFADC composition: probes + LUT broadcast, candidates bounded by
    # the probed cells, all JVM
    "ivfadc_ann_topk": ["BroadcastHashJoin", "!EvalPython"],
    # SemDeDup: centroid assignment broadcasts the 8 centroids through
    # the crossJoin (BroadcastNestedLoopJoin, same as ivf_ann_topk); the
    # within-cell self-join co-locates on cell id (never all-pairs
    # across cells); components iterate JVM-side
    "semdedup_keepers": ["BroadcastNestedLoopJoin", "!EvalPython"],
    # true ExactSubstr spans: duplicate marking is one window over the
    # occurrence hash (never a join/broadcast of the exploded side);
    # island grouping is per-doc windows + one aggregate, all JVM
    "exact_substr_spans": ["Window", "HashAggregate", "!EvalPython"],
    # banded simhash: pairs.hash_pairs over distinct signatures fans
    # out on collisions only, no quadratic stage, all JVM
    "simhash_neardup_banded": ["HashAggregate", "!EvalPython"],
    # minhash estimator: signature groupBy + candidate-bounded joins;
    # exact column shares the array_intersect verify form
    "minhash_jaccard_est": ["HashAggregate", "array_intersect", "!EvalPython"],
    # HLL register fold: one partial-agg scan, pure JVM
    "hll_registers": ["HashAggregate", "!EvalPython"],
    "cm_registers": ["HashAggregate", "!EvalPython"],
    # caption curation: pure JVM string expressions; conflict is the
    # blocked phash pair join (pairs.blocked_pairs: no quadratic stage,
    # nothing O(n) broadcast by hint)
    # (countDistinct + min(string) plans as SortAggregate; quality is
    # fully constant-folded into the LocalTableScan of the generated
    # corpus — both fine, both must stay Python-free)
    "caption_dedup": ["Aggregate", "!EvalPython"],
    "caption_spam": ["Aggregate", "!EvalPython"],
    # both ride the block-combination candidate join over DISTINCT
    # hashes (pairs.hash_pairs; the only Aggregate allowed is that
    # input-side hash collapse — linear); candidate pairs are deduped
    # MAP-SIDE by the minimal-intact-combo filter, so no post-join
    # `.distinct()` Exchange exists
    "caption_conflict": ["Join", "Aggregate", "!EvalPython"],
    # the per-image flag consumer: same blocked candidate stage, flags
    # propagate by joins on phash — never a pair-list output
    "caption_conflict_flags": ["Join", "Aggregate", "!EvalPython"],
    "phash_neardup_blocked": ["Join", "Aggregate", "!EvalPython"],
    "caption_quality": ["!EvalPython"],
    # metadata-only curation gates: pure whole-stage codegen, no
    # Python, and nothing to shuffle
    "imagetext_filter": ["!EvalPython", "!Exchange"],
    "aspect_bucket_assign": ["!EvalPython", "!Exchange"],
    # sniff triage: the pandas UDF is the point (header parse), but the
    # payload must be SLICED before it — on the in-memory fixture the
    # substring Project constant-folds INTO the LocalTableScan, so the
    # plan evidence is the sliced `prefix#` column feeding MapInPandas
    # (the substring-over-parquet form is pinned by
    # tests/test_sniff.py::test_sniff_plan_slices_before_arrow)
    "image_meta_sniff": ["prefix#", "MapInPandas", "!Exchange"],
    # one hash-aggregate with map-side combine over the sniff stage
    "image_compression_stats": ["prefix#", "HashAggregate"],
    "image_channel_stats": ["HashAggregate"],
    # second LSH family through the same blocked candidate machinery:
    # dhash is computed in Arrow (decode), everything after is the
    # phash-blocked join shape
    "dhash_neardup_blocked": ["Join", "Aggregate", "MapInPandas"],
    # two-level prefix-sum: the running-sum window MUST be bucketed
    # (a global `sum() OVER (ORDER BY ...)` would plan one partition
    # owning all rows); the B-row offset table is the broadcast side
    "shard_assign": ["Window", "BroadcastHashJoin", "!EvalPython"],
    "shard_manifest": ["Window", "HashAggregate", "!EvalPython"],
    # USTAR arithmetic stays whole-stage codegen; carry= means the only
    # join is the B-row broadcast offset table (no corpus re-join)
    "shard_member_index": ["Window", "BroadcastHashJoin", "!EvalPython",
                           "!SortMergeJoin"],
    # one map-side-combined aggregate + a 1-row broadcast normalizer;
    # never a second scan of documents
    "source_mixture_weights": ["HashAggregate", "!EvalPython"],
    # decode map stage -> in-expression variance: zero shuffle
    "image_sharpness": ["MapInPandas", "!Exchange"],
    # fused single-decode feature pass: one Arrow map stage, no shuffle
    "image_features_fused": ["MapInPandas", "!Exchange"],
    # quality-aware keeper: blocked candidate joins + one row_number
    # window partitioned by cluster (never a global window)
    "image_neardup_best_keepers": ["Join", "Window", "MapInPandas"],
    # BM25: query-term filter prunes the token table before any shuffle;
    # top-20 must be TakeOrderedAndProject, never a global Sort
    "bm25_rank": ["TakeOrderedAndProject", "!EvalPython"],
    # CCNet tertiles: the ntile window is PARTITIONED BY lang (a global
    # window would plan one partition owning the whole corpus)
    "perplexity_bucket": ["Window", "hashpartitioning(lang", "!EvalPython"],
    # exact percentiles bound per host by the groupBy; pure JVM
    "host_fetch_latency": ["Aggregate", "!EvalPython"],
    # bandit scores: one map-side-combinable aggregate + a 1-row
    # broadcast total; output O(hosts), no window
    "ucb_host_priority": ["Aggregate", "!EvalPython", "!Window"],
    # eTLD+1 extraction is pure codegen string/array expressions
    "registrable_domain_rollup": ["HashAggregate", "!EvalPython"],
    # container walk + JPEG decode live in the Arrow map stage; frame
    # fan-out inherits partitioning, no shuffle
    "video_frames_avi": ["MapInPandas", "!Exchange"],
}


# queries allowed to broadcast an explode output (see _explode_broadcasts)
EXPLODE_BROADCAST_OK = {
    # the labeled O(n^2)-class TEST BASELINE over the 200-row fixture —
    # explicitly kept out of the scale path (pairs.banded_pairs; its
    # scale twin is phash_neardup_blocked, pairs.blocked_pairs)
    "phash_neardup_banded",
}


def _explode_broadcasts(plan: str) -> bool:
    """True when a Generate (explode) sits DIRECTLY under a
    BroadcastExchange — the planner trap that cost 83 s on
    phash_neardup_blocked (the candidate self-join of
    operators/pairs.py hash_pairs): join-strategy sizing happens on the
    pre-Generate stats, so the broadcast side is under-estimated by the
    explode factor (x70 there) and a huge single-threaded driver build
    slips through. A Generate below an Exchange or a cached
    InMemoryTableScan is fine — runtime stats there already reflect the
    exploded size, so AQE degrades the join to a shuffle at scale."""
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line or line.startswith("("):
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        for nxt in lines[i + 1:]:
            if not nxt.strip() or nxt.startswith("("):
                break
            ind2 = len(nxt) - len(nxt.lstrip(" :+-"))
            if ind2 <= indent:
                break
            if ("InMemoryTableScan" in nxt or
                    ("Exchange" in nxt and "BroadcastExchange" not in nxt)):
                break
            if "Generate" in nxt:
                return True
    return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from webcollector_spark.plans import queries as qmod
    from webcollector_spark.session import get_spark

    spark = get_spark("plans", cores=4, shuffle_partitions=4)
    failures = []
    out = ["# Physical plans (auto-generated by tools/explain_plans.py)", ""]
    for name, fn in qmod.queries().items():
        try:
            plan = plan_of(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover
            failures.append(name)
            out += [f"## {name}", "", f"ERROR: {e}", ""]
            continue
        verdicts = []
        for needle in CHECKS.get(name, []):
            if needle.startswith("!"):
                ok = needle[1:] not in plan
                verdicts.append(f"{'OK' if ok else 'PRESENT'}:{needle}")
            else:
                ok = needle in plan
                verdicts.append(f"{'OK' if ok else 'MISSING'}:{needle}")
            if not ok:
                failures.append(f"{name}:{needle}")
        if name not in EXPLODE_BROADCAST_OK and _explode_broadcasts(plan):
            verdicts.append("BROADCAST-OVER-EXPLODE")
            failures.append(f"{name}:broadcast-over-explode")
        head = f"## {name}" + (f"  [{' '.join(verdicts)}]" if verdicts else "")
        out += [head, "", "```", plan.strip(), "```", ""]
        print(head)
    Path("PLANS.md").write_text("\n".join(out))
    print(f"\nwrote PLANS.md; {len(failures)} check failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
