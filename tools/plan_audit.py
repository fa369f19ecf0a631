"""Regenerate PLANS.md: formatted physical plans of the scale-critical
queries with the properties the engine promises (pushdown, pruning,
broadcast, bounded exchanges) extracted per plan.

Usage: python tools/plan_audit.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from clickestream_project_bigdata_spark.session import get_spark  # noqa: E402

#: (query, what the plan must show)
AUDITED = {
    "sessions": "ONE exchange on visitorid shared by both windows + the rollup",
    "events_per_minute": "single exchange, map-side partial aggregation",
    "dedup_minhash_lsh": "slim banding join; shingle arrays only for candidates (semi-join); census-gated band salting (r10): buckets > max_bucket_rows get hash(id)%S left salt + S-replica right, candidate set pinned identical",
    "similarity_knn_join": "banded equi-join candidates — no cartesian/BNL; guarded two-path (bucket-local top-k matmul / slim-join fallback)",
    "corpus_sample": "zero exchanges (scan-local hash filter)",
    "decontaminate": "benchmark gram set broadcast; exploded corpus probed map-side, never shuffled",
    "chunk_documents": "zero exchanges (posexplode + slice, pure codegen)",
    "tfidf_top_terms": "doc-term agg with map-side combine; text never shuffled",
    "repetition_score": "zero exchanges (staged token/gram projections, pure codegen)",
    "packed_corpus": "prefix-sum never carries text; one shuffle on pack_id",
    "latest_event_state": "partial max(struct) map-side, ONE exchange — no full-row window shuffle",
    "duplicate_spans": "linear window explode; one span-keyed agg with map-side partials; TakeOrdered",
    "event_type_pivot": "explicit pivot values → single pivot_first aggregation, one exchange",
    "nearest_centroid": "centroid build shuffles only (label,idx) partials; |labels|-row broadcast; corpus scan shuffle-free",
    "vocab_coverage": "top-k vocab via TakeOrdered collapses to 50 rows then broadcasts into the membership probe",
    "minute_anomalies": "fact collapses to minute grain first; exact-integer day stats broadcast back",
    "timed_funnel": "three stacked visitorid-keyed conditional-min aggregates; no arrays, user-grain stage frames",
    "linear_attribution": "(visitorid, horizon-bucket)-keyed range join (r14: conversions explode to the 2 covering buckets; exact time predicate inside the join); fan-out as count(*)-over-conversion window on ONE exchange (r13: replaced checkpoint+groupBy+self-join); DECIMAL credit sum",
    "item_trend": "(item,day) collapse then item rollup; five integers per item cross the second shuffle",
    "incremental_dedup": "both sides collapse to 16-byte digests; anti + min-id joins digest-keyed; text only in the final semi",
    "bot_flags": "minute then user aggregation on the same visitorid key — one fact shuffle",
    "sequential_funnel": "ONE session-keyed exchange; sorted-array fold fills all step times; 1-row final sum",
    "mask_duplicate_spans": "no span strings anywhere: one slim (doc,pos,h1,h2) explode, ONE window exchange (rn>1 = non-first dup), in-row coverage expansion, affected docs joined back LEFT",
    "collocations": "bigrams zipped in place (no posexplode); pair agg map-side; vocab joins shuffle slim counts (NOT broadcast — web-scale vocab); 1-row total broadcast; TakeOrdered",
    "select_token_budget": "distributed prefix sum: range exchange on (quality desc, id), per-partition running sums, <=#partitions offset collect; no global single-task sort",
    "shuffle_shards": "one exchange on the shard key; per-shard bounded sort; no global orderBy",
    "rare_bigram_rate": "bigram counts aggregate once (map-side partials); count join on the gram key; doc rollup on slim flags",
    "pack_efficiency": "one aggregation on the prefix-sum-clustered pack id",
    "dedup_agreement": "two slim pair frames full-outer-joined; exact side keyed on 16-byte digest; LSH side the banded pipeline unchanged",
    "gini_concentration": "count-value-grain collapse before the only window; DECIMAL(38,0) exact integer sums; 1-row output",
    "quality_dup_calibration": "quality + fingerprint in one scan pass; dup membership via ONE fingerprint-window exchange (no agg+join-back); <=bins output rows",
    "split_balance": "hash split is scan-local (no shuffle); one (split,stratum) cell agg; row/col/grand totals fork from the tiny cell frame and join back broadcast",
    "binned_quantiles": "bin-keyed count with map-side combine; running sum over the tiny bin grain; 1-row pick — mergeable by construction",
    "rec_coverage": "lineage-cut edge frame feeds both the rec window and the eval semi-join; events shuffle once; 1-row output",
    "item_communities": "edges collapse to (src,dst) grain with the >=2 filter before components; generic min-label core (bounded union-find under the cap, distributed loop above)",
    "item_degree_profile": "ONE events scan: edges explode to endpoints, single item-keyed aggregation (no join — the per-side spelling scanned twice), tiny bucket rollup; no driver state",
    "similar_visitors": "visitor-as-document item sets (one visitorid exchange) feeding the standard LSH shape: slim banding join, shingle arrays only for candidate pairs via semi-join",
    "burstiness": "(item,minute) collapse then item moment rollup — two stacked aggs, integer sums, TakeOrdered",
    "novelty_rate": "two item-keyed aggs off the same shuffle key joined at item grain (never event grain)",
    "zipf_slope": "per-item counts collapse to COUNT-VALUE grain before the only single-partition window; regression sums are one 1-row aggregate",
    "transition_entropy": "same visitorid window exchange as sessionization; one src-keyed agg with map-side partials; single-pass entropy (no normalize join)",
    "norm_profile": "norm folded in codegen per row; ONE label-keyed aggregation; DECIMAL mean",
    "cluster_inertia": "centroid grid shuffles only (label,idx) partials, joins back BROADCAST; vectors shuffle zero times",
    # round 7
    "collocations": "ONE corpus scan: NULL-sentinel-padded (a,b) grain serves bigram AND unigram counts off one materialized tiny frame",
    "token_length_distribution": "one explode + one length-grain agg with map-side combine (<= max-token-length groups)",
    "char_entropy": "(doc,codepoint-int)-keyed count (ascii() codegen; no one-char-string agg keys) map-side combines to per-doc alphabet grain; single-pass entropy identity — no normalize join",
    "readability_scores": "three regexp counts per row in one codegen pass; ONE source-keyed agg of exact integer sums",
    "ann_recall_lsh": "both topk sets <= k rows; intersection is a broadcast semi-join — eval costs the two index lookups only",
    "embedding_dim_stats": "posexplode to (idx,value); ONE idx-keyed agg, DECIMAL partials map-side combined (dim groups)",
    # round 7 late
    "bpe_merge_step": "corpus collapses to VOCAB grain first (token count, map-side combine); pair explode runs over vocab only; alphabet^2 final agg",
    "gopher_quality_flags": "five rules as per-row codegen over ONE split; zero shuffle, zero UDF",
    "vocab_growth": "token-keyed min(doc) agg reduces corpus to vocab grain; per-doc first-occurrence counts; two distributed prefix sums (range partition, never one global window task)",
    "cross_source_duplication": "arrays_zip span windows (no interpreted HOF lambda); 2x-seeded xxhash64 128-bit fingerprints; bitmask bit_or membership agg (codegen) not collect_set",
    "audience_overlap": "ONE visitor-keyed bit_or bitmask exchange; pair fan-out from mask; totals via self-pair windows; no join in plan (literal create_map)",
    "source_vocab_overlap": "same bitmask membership core; set universe from the pruned source-column scan, never re-running the token explode",
    "tokenizer_fertility": "two counts per row in one codegen pass; ONE source-keyed agg of exact integer sums",
    "domain_balance_weights": "stratum token counts map-side combine; 1-row total broadcast back; no corpus re-scan",
    "embedding_outliers": "centroid grid broadcast back (cluster_inertia convention); DECIMAL per-vector reduce; per-label window bounded to top_k",
    "first_touch_funnel": "K conditional mins in ONE visitor-keyed agg (map-side combined); ordering check is per-row on the visitor grain",
    "decay_attribution": "same bucketed (visitorid, horizon-bucket) range join as linear_attribution (r14 explode); recency rank + kept-count both windows on the SAME conversion exchange (r13: no checkpoint/self-join); exact dyadic weights, DECIMAL sum",
    "snapshot_diff": "both snapshots collapse to (id, digest, stratum) at the scan; ONE id-keyed full-outer join; stratum rollup map-side",
    "distinctive_terms": "one explode to (source,term) counts; term/source totals as windows on the aggregated grain (no web-scale-vocab broadcast); integer odds, per-source bounded top-k",
    "graph_triangles": "FUSED edge build: per-direction conditional counts in ONE (a,b) agg (no second distinct exchange), materialized ONCE and probed for the local-path cap (r16: the probe no longer recomputes the pipeline); <=50k-edge graphs take the driver-local census (plan shown is the local-result scan), larger ones the degree-ordered orientation capping out-neighborhoods at O(sqrt(m))",
    "neardup_histogram": "candidates generate+verify once (threshold-0 LSH pipeline); collapses to <= bins rows; DECIMAL-exact estimator error",
    "langid_confusion": "scan-local scoring with the label riding the same pass (no id re-join); one cell-grain count; row totals via window on the tiny grain",
    # round 8
    "position_attribution": "same bucketed (visitorid, horizon-bucket) range join + capped recency window as decay_attribution (r14 explode; kept-count rides the same exchange, r13); U-weights are integer ppm CASE arms (no float credit sums)",
    "cart_abandonment": "(item,visitor) boolean-flag collapse in ONE exchange (map-side combined); item rollup of exact integers",
    "repeat_purchase_rate": "purchase-only projection; two stacked aggs on the (item,visitor) then item grain",
    "skipgram_pmi": "window pairs built as W zip_with'd shifted slices concatenated IN-ROW (codegen, no interpreted HOF); one explode; (a,b) count map-side combines to vocab^2 grain; slim unigram joins; TakeOrdered",
    "token_coverage_topk": "ONE vocab-grain count materialized once; per-k TakeOrderedAndProject feeding 1-row sums; 1-row total broadcast",
    "pii_rate_by_source": "chained regex detection in one codegen pass (no shuffle); single source-keyed agg of exact integers",
    "dedup_token_savings": "one scan to (source, digest, tokens); keeper via ONE digest-keyed window exchange; text never shuffled; source rollup map-side",
    "quantization_error_stats": "posexplode to (label, component) grain; ONE label-keyed agg; order-independent stats only (max + integer counts)",
    "multimodal_audio": "pure Catalyst size-derived arithmetic — zero shuffle, zero Python",
    "neardup_cluster_sizes": "two stacked tiny aggs on the duplicate_clusters assignment (cluster grain then size grain)",
    "contamination_by_split": "decontaminate's broadcast-gram probe unchanged; split recomputed from the id hash on the report frame — no corpus re-join",
    "path_conversion_rates": "ONE session-keyed exchange (user_paths core); convert flag as max() IN the same agg (no array probe); prefix-grain rollup",
    "returning_visitor_rate": "visitor-keyed distinct-day count (one exchange) + 1-row rollup",
    # round 10/11 (VERDICT r10 #2: the audited set must cover the
    # round-10 rewrites and the four new queries)
    "customer_value_deciles": "zero-window stamp ntile: ONE range exchange + local sort + ordinal stamp (checkpointed); offsets via a <=#partitions collect with runtime pid-range/boundary-monotonicity invariants; broadcast join-back; exact long-cents sums in codegen",
    "rfm_segments": "r15 one-union multi-ntile: all three R/F/M range exchanges are branches of ONE union over the customer rollup (AQE ReusedExchange computes the rollup once — see plans/r15/rfm_segments_union_stage_after.txt for the executed stage), one stamp/checkpoint/collect for every metric, and the final assembly is one groupBy(custkey) + one broadcast of all offsets (no per-metric sort-merge joins)",
    "decile_revenue_share": "decile-grain rollup (<= n_buckets rows) summing the stamped frame's exact long cents; 1-row corpus total broadcast; customer frame never re-shuffles",
    "item_pagerank": "transitions collapse to (src,dst) weight grain once; rank vector tiered by what is bounded (local <=cap / driver-rank <=500k nodes, ONE job per iteration / fully-distributed loop above)",
    "lsh_band_census": "ONE aggregation over the slim (band_idx, band_hash) banded frame — bucket-size diagnostic with no pair join anywhere in the plan",
    "item_revisit_time": "one lead() over the (visitorid,itemid) exchange carrying narrow columns only; item rollup of exact integer gaps map-side combined",
    "session_gap_histogram": "one visitorid window exchange (same key as sessionization); log2 bucketing is a pure map; histogram grain ~40 rows",
    "heavy_hitter_items": "2-pass Misra-Gries: per-partition sketch counts (no full key universe shuffle) then exact verify of <=k survivors",
}


def _fact(plan: str) -> list[str]:
    facts = []
    pf = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    if any(f.strip() for f in pf):
        facts.append(f"pushed filters: {[f for f in pf if f.strip()]}")
    rs = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if rs:
        facts.append(f"read widths: {[len(s.split(',')) if s else 0 for s in rs]} cols")
    facts.append(f"exchanges: {plan.count('Exchange ') + plan.count('Exchange(')}")
    facts.append(f"broadcast joins: {plan.count('BroadcastHashJoin')}")
    facts.append(f"sort-merge joins: {plan.count('SortMergeJoin')}")
    if "TakeOrderedAndProject" in plan:
        facts.append("TakeOrderedAndProject")
    return facts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    out = [
        "# PLANS — physical-plan audit of the scale-critical queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`. Each section:",
        "the property the engine promises, the extracted plan facts, then the",
        "formatted plan (trimmed). Regenerate after any operator change.",
        "",
    ]
    for name, promise in AUDITED.items():
        df = qs[name](spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        facts = _fact(plan)
        trimmed = "\n".join(plan.splitlines()[:40])
        out += [
            f"## {name}",
            "",
            f"**Promise:** {promise}",
            "",
            f"**Extracted:** {'; '.join(facts)}",
            "",
            "```",
            trimmed,
            "```",
            "",
        ]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
