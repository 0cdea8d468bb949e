#!/usr/bin/env bash
# Scale-regression gate (SCALE.md §9): regenerate the stepped-up corpora via
# graft.tools.ScaleGen, re-run the dedup/similarity/curation family at sf0.1
# and sf10 (100x documents/embeddings), and assert each query stays inside
# its sf10 wall-clock budget. This guards the two scale defects the round-6
# step-up study caught and fixed — single-file generated layout serializing
# every scan, and a fixed LSH plane count going quadratic (342 s at sf10) —
# against silent regression. One command reproduces SCALE.md §9's family
# table:
#
#   scripts/scale_check.sh            # ~12-15 min on a 32-core box
#
# Env knobs: SRC (source sf dir, default /root/testdata/sf0.1),
#            WORK (scratch dir, default /tmp/graft_scale),
#            SPARK_GRAFT_CPUS (default: nproc),
#            KEEP=1 to skip regeneration when $WORK/sf10 already exists.
set -euo pipefail
cd "$(dirname "$0")/.."

SRC=${SRC:-/root/testdata/sf0.1}
WORK=${WORK:-/tmp/graft_scale}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
# similarity/curation family + the bread-and-butter OLAP shapes (round-8
# mandate: a semantics round must not silently regress core operators'
# scaling either)
FAMILY=dedup_exact,dedup_minhash_pairs,dedup_simhash_pairs,dedup_ngram_jaccard,dedup_clusters,dedup_decontaminate,dedup_semantic,embed_kmeans,embed_lsh_neardup,embed_knn_int8,embed_ivf_knn,text_gopher_gate,native_groupby,timeseries_month,timeseries_grand_total,topn_supplier_revenue,segment_metadata_full,segment_metadata_approx,agg_first_last_rollup,native_lambda_fold,rollup_rewrite_coarse,rollup_rewrite_base,sketch_merge_stored,sketch_merge_rawbuild,native_topn_bucketed,window_rank_lag,topn_wide_aggs,topn_wide_aggs_onepass,native_subquery_hllc_refold

mkdir -p "$WORK"

if [[ "${KEEP:-0}" != "1" || ! -d "$WORK/sf10/lineitem.parquet" ]]; then
  echo "[scale_check] generating sf10 tables under $WORK/sf10"
  sbt -batch "runMain graft.tools.ScaleGen $SRC $WORK/sf10 100 documents,embeddings,lineitem,orders,part,supplier"
fi

run_family() { # $1 = sf dir, $2 = output json
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_ONLY="$FAMILY" sbt -batch "runMain graft.Bench" \
    | grep -o '{"metric".*}' | tail -1 > "$2"
}

echo "[scale_check] LSH candidate volume (within-bucket quadratic term, SCALE.md section 9)"
sbt -batch "runMain graft.tools.LshCandidateVolume $SRC" | grep lsh_candidate_volume \
  | sed 's/^/[scale_check] sf0.1  /'
sbt -batch "runMain graft.tools.LshCandidateVolume $WORK/sf10" | grep lsh_candidate_volume \
  | sed 's/^/[scale_check] sf10   /'

echo "[scale_check] result-cache probe (broker-analog result cache, SCALE.md section 9.6)"
sbt -batch "runMain graft.tools.ResultCacheProbe $SRC" | grep result_cache_miss | sed 's/^/[scale_check] sf0.1  /'
sbt -batch "runMain graft.tools.ResultCacheProbe $WORK/sf10" | grep result_cache_miss | sed 's/^/[scale_check] sf10   /'

echo "[scale_check] family run at sf0.1 (baseline)"
run_family "$SRC" "$WORK/bench_sf01.json"
echo "[scale_check] family run at sf10"
run_family "$WORK/sf10" "$WORK/bench_sf10.json"

python3 - "$WORK/bench_sf01.json" "$WORK/bench_sf10.json" <<'EOF'
import json, sys
# control twins (e.g. topn_wide_aggs_onepass) report under "controls"
# since the bench split them out of the headline total — merge for budgets
def load(path):
    d = json.load(open(path))
    return {**d["queries"], **d.get("controls", {})}
base = load(sys.argv[1])
sf10 = load(sys.argv[2])
# sf10 budgets: ~2x the round-6 quiet-box measurements (SCALE.md section 9)
# - loose enough for box noise, tight enough that the two fixed defects
# (single-file layout; fixed LSH plane count, 342 s) blow through them.
budget = {"dedup_exact": 10, "dedup_minhash_pairs": 30, "dedup_simhash_pairs": 100,
          "dedup_ngram_jaccard": 140, "dedup_clusters": 90, "embed_lsh_neardup": 120,
          "dedup_decontaminate": 40,
          "embed_knn_int8": 25, "text_gopher_gate": 15,
          # r16: the IVF probe path — candidates prune to nprobe/K lists, so
          # the sf10 run must stay well under the brute-force shape
          "embed_ivf_knn": 25,
          # r16: SemDeDup — k-means at adaptive k (~n/256) then within-
          # cluster cosine pruning. Budget ~2x the post-optimization
          # measurement (25.6 s: NearestCentroid primitive argmin +
          # localCheckpointed assignment); the pre-fix shapes this pins were
          # 148 s (k boxed VectorDot evals/row) and 54 s (assignment
          # re-derived per saltedBucketPairs read). embed_kmeans is the
          # fixed-k clustering primitive — near-flat, scan-bound
          "dedup_semantic": 60, "embed_kmeans": 10,
          # OLAP shapes at 100x lineitem/orders/part (~60M-row fact): ~2x
          # quiet-box measurements, same headroom policy as above
          "native_groupby": 30, "timeseries_month": 20,
          # r16: grandTotal now computes per-bucket rows AND the total from
          # ONE grouping-sets aggregate over a single scan (was two full
          # scans) — budgeted so a regression back to the two-scan union
          # (or an Expand-pushdown re-split into three scans) shows up
          "timeseries_grand_total": 25,
          "topn_supplier_revenue": 20, "segment_metadata_full": 20,
          # round-10 additions: the hash-planned first/last pair refold and
          # the bounded expression-lambda fold, both over the 60M-row fact
          "agg_first_last_rollup": 20, "native_lambda_fold": 10,
          # round-11: the rollup rewrite's win measured, not assumed — the
          # rewritten query scans the (tiny) P1D rollup and must stay
          # near-flat at 100x, while its base-pinned twin (same aggregation,
          # rewrite disqualified by a metric predicate) scans 100x orders
          "rollup_rewrite_coarse": 15, "rollup_rewrite_base": 40,
          # round-12: merging STORED sketch columns is the 100 TB
          # distinct-count path — near-flat (work ~ rollup rows), while the
          # raw build scans the 100x fact; both measured so the win is a
          # printed ratio like the rollup rewrite's
          "sketch_merge_stored": 10, "sketch_merge_rawbuild": 40,
          # round-12: per-bucket topN (one window pass over the aggregated
          # rows) — the window input is group-count-sized, so the 100x fact
          # must not leak into the rank stage
          "native_topn_bucketed": 25,
          # round-13: the full-partition window rank (rank-limit in its own
          # window so WindowGroupLimit prunes BEFORE the shuffle — each
          # mapper forwards <=3 rows per key instead of its split), the
          # two-phase wide-aggregator topN vs its single-phase twin (the
          # AggregateTopNMetricFirst pair), and the single-scan approximate
          # segmentMetadata vs the per-column-union exact mode
          "window_rank_lag": 20, "topn_wide_aggs": 30,
          "topn_wide_aggs_onepass": 45, "segment_metadata_approx": 15,
          # round-15: the fused expression-lambda HLLC fold — pre-fusion the
          # interpreted per-row deserialize/add/reserialize cost ~20 us/row
          # (3.4 s at sf0.1), which would be ~300 s over the 100x orders;
          # the native collector aggregate must stay scan-bound
          "native_subquery_hllc_refold": 20}
fail = []
print(f"{'query':26s} {'sf0.1':>8s} {'sf10':>8s} {'x@100x':>8s} {'budget':>8s}")
for q, b in budget.items():
    t0, t1 = base.get(q), sf10.get(q)
    if t1 is None:
        fail.append(f"{q}: missing from sf10 run")
        continue
    ratio = t1 / t0 if t0 else float("nan")
    ok = t1 <= b
    print(f"{q:26s} {t0:8.1f} {t1:8.1f} {ratio:8.1f} {b:8d}  {'OK' if ok else 'OVER BUDGET'}")
    if not ok:
        fail.append(f"{q}: {t1:.1f}s > {b}s budget")
rc, rb = sf10.get("rollup_rewrite_coarse"), sf10.get("rollup_rewrite_base")
if rc and rb:
    print(f"[scale_check] rollup rewrite win at sf10: base {rb:.1f}s / rewritten {rc:.1f}s = {rb/rc:.1f}x")
ms, mr = sf10.get("sketch_merge_stored"), sf10.get("sketch_merge_rawbuild")
if ms and mr:
    print(f"[scale_check] stored-sketch merge win at sf10: raw build {mr:.1f}s / stored merge {ms:.1f}s = {mr/ms:.1f}x")
t2, t1 = sf10.get("topn_wide_aggs"), sf10.get("topn_wide_aggs_onepass")
if t2 and t1:
    print(f"[scale_check] two-phase wide-agg topN at sf10: single-phase {t1:.1f}s / two-phase {t2:.1f}s = {t1/t2:.1f}x")
sa, se = sf10.get("segment_metadata_approx"), sf10.get("segment_metadata_full")
if sa and se:
    print(f"[scale_check] single-pass segmentMetadata at sf10: exact {se:.1f}s / approx {sa:.1f}s = {se/sa:.1f}x")
if fail:
    print("SCALE REGRESSION:\n  " + "\n  ".join(fail))
    sys.exit(1)
print("scale check PASSED: family sublinear at 100x data")
EOF
