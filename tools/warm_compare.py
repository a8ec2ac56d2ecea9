#!/usr/bin/env python3
"""Warm-board micro-compare: the r16 measurement-discipline lesson as a
tool. Runs the named board rows N times inside ONE warm JVM
(graft.Bench with SPARK_GRAFT_ONLY + SPARK_GRAFT_REPEAT), drops the
cold first pass, prints per-row warm medians + spread, and — when a
baseline board JSON is given — REFUSES a verdict on any row whose warm
spread exceeds the |delta| it is being asked to judge. Two r16
experiments (NSW beam trim, eff-diameter conf scoping) were accepted on
cold single measurements and reverted when warm boards contradicted
them; this tool is the pre-commit check that would have caught both.

Usage:
  python3 tools/warm_compare.py ROW[,ROW...] [-n N] [--baseline BOARD.json]
      [--sf DIR] [--mem 24g]

Verdict per row (only with --baseline):
  IMPROVED / REGRESSED  when |median - base| > warm spread (max-min)
  NO VERDICT            when the spread swallows the delta - measure more
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Rows backed by a once-per-session model/index fit (nswCache, pqModelCache,
# kmCache, lpShared): on a FULL baseline board the fit may have landed
# inside the row being compared, while this tool's medians are always
# post-fit (warm cache) — an IMPROVED verdict on these rows can be fit-cost
# accounting, not a kernel win (r17 ADVICE). The output marks them.
FIT_BEARING = {
    "e_nsw_search", "e_nsw_recall",
    "e_pq", "e_pq_search", "e_pq_recall", "e_ivfpq_search", "e_ivfpq_recall",
    "e_kmeans", "e_silhouette", "e_ood_score", "e_semdedup",
    "e_cluster_balance",
    "g_adamic_adar", "g_linkpred_cn",
    # r19: the tag-batched PPR family (pprFamilyShared) — whichever of
    # the three rows runs first pays the whole family loop
    "g_power_ppr", "g_ppr_seedset", "g_pagerank",
    # r19 optimization: Katz + HITS joined the tagged family loop
    "g_katz", "g_hits",
    # r19 optimization: served row results (exact GT + index searches,
    # consumed by the recall rows)
    "e_cosine_topk", "e_ann_lsh", "e_ann_ivf", "e_bq_search",
    "e_ann_recall", "e_ivf_recall", "e_bq_recall", "e_prefix_recall",
    "e_ivf_probe_curve",
    # r19 optimization: the shared HyperBall register chain (hbShared)
    # and the shared triangle fold (triShared)
    "g_hyperball", "g_harmonic", "g_closeness", "g_eff_diameter",
    "g_triangles", "g_local_cc", "g_clustering",
    # r19 optimization second pass: the shared undirected snapshot +
    # degree frame (undDegShared), the degree-class histogram
    # (knnHistShared), the BASE all-pair fit (baseAllpairShared) and
    # the media near-dup pair fit (neardupShared)
    "g_richclub", "g_pref_attach", "g_kcore", "g_assortativity",
    "g_knn_degree", "g_base_allpair", "g_base_topk",
    "m_media_neardup", "m_media_dup_clusters",
    # r19 optimization second pass: the shared LPA label frame
    # (lpaShared) serving g_label_prop + g_modularity
    "g_label_prop", "g_modularity",
    # r19 optimization second pass: the served LSH pair table and
    # exact-dedup groups (Text.servedFrame)
    "d_lsh_pairs", "d_lsh_verify", "d_dup_clusters", "d_lsh_est_j",
    "d_split_leakage", "d_dedup_exact", "d_dedup_survivors",
    # r19 optimization second pass: the served decoded image-metadata
    # table (Media.metaShared)
    "m_media_meta", "m_media_dedup",
}


def run_bench(rows, n, sf, mem):
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEM": mem,
        "SPARK_GRAFT_SF_DIR": sf,
        "SPARK_GRAFT_ONLY": ",".join(rows),
        "SPARK_GRAFT_REPEAT": str(n),
    })
    proc = subprocess.run([os.path.join(REPO, "run.sh"), "graft.Bench"],
                          env=env, cwd=REPO, capture_output=True, text=True)
    passes = []  # pass 1 = the main "total" line (cold), then rep lines
    for line in proc.stdout.splitlines():
        line = line.strip()
        if not line.startswith('{"metric"'):
            continue
        d = json.loads(line)
        if d.get("metric") in ("total", "rep"):
            passes.append(d["queries"])
    if proc.returncode != 0 or not passes:
        sys.stderr.write(proc.stderr[-2000:] + "\n")
        sys.exit(f"bench run failed (rc={proc.returncode}, "
                 f"{len(passes)} passes parsed)")
    return passes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("rows", help="comma-separated board row names")
    ap.add_argument("-n", type=int, default=4,
                    help="total passes incl. the discarded cold one "
                         "(default 4 -> 3 warm samples)")
    ap.add_argument("--baseline", help="board JSON to judge against "
                    "(e.g. BENCH_QUIET_r16_FINAL4.json)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mem", default="24g")
    args = ap.parse_args()
    rows = [r.strip() for r in args.rows.split(",") if r.strip()]
    if args.n < 3:
        sys.exit("need n >= 3: one cold pass to discard, >= 2 warm samples")

    base = {}
    if args.baseline:
        with open(os.path.join(REPO, args.baseline)) as f:
            base = json.load(f)["queries"]

    passes = run_bench(rows, args.n, args.sf, args.mem)
    warm = passes[1:]  # pass 1 absorbs subset JIT - always discarded
    print(f"# {len(passes)} passes ({len(warm)} warm) at {args.sf}")
    any_no_verdict = False
    for row in rows:
        samples = [p[row] for p in warm if row in p]
        if not samples:
            print(f"{row:<24} MISSING from bench output")
            any_no_verdict = True
            continue
        med = statistics.median(samples)
        spread = max(samples) - min(samples)
        line = (f"{row:<24} warm_med {med:7.3f}s  "
                f"spread {spread:6.3f}s  samples "
                + "/".join(f"{s:.3f}" for s in sorted(samples)))
        if row in base:
            delta = med - base[row]
            if spread > abs(delta):
                line += (f"  | base {base[row]:.3f}s delta {delta:+.3f}s"
                         f" -> NO VERDICT (spread {spread:.3f} > |delta|)")
                any_no_verdict = True
            else:
                word = "IMPROVED" if delta < 0 else "REGRESSED"
                line += (f"  | base {base[row]:.3f}s delta {delta:+.3f}s "
                         f"({100 * delta / base[row]:+.1f}%) -> {word}")
        if row in FIT_BEARING:
            line += "  [fit-bearing: baseline may include the session fit]"
        print(line)
    sys.exit(2 if any_no_verdict else 0)


if __name__ == "__main__":
    main()
