#!/bin/bash
# sf1 core-scaling measurement: the sf0.1 bench is sub-second per query
# and overhead-dominated, so core-count sensitivity is invisible there.
# This runs the UNMODIFIED graft.Bench at sf1 (10x data, ScaleGen from
# sf0.1) at 32 and at 8 cores — the bench reads both knobs from the env
# — and tabulates the 8->32-core speedup for the parallelism-work
# families. ROADMAP item 5's "q107 scales >= 1.2x from 8 to 32 cores at
# sf1" is this script's q107 row. First made as the round-18 receipt
# (BENCH_SF1_r18_c{32,8}.json).
#
# Usage: tools/sf1_core_scaling.sh   (writes BENCH_SF1_c{32,8}.json +
#                                     prints the ratio table)
set -e
cd "$(dirname "$0")/.."

SF1="$PWD/data/sf1"
if [ ! -d "$SF1" ]; then
  echo "== generating sf1 via ScaleGen (sf0.1 x10)"
  SPARK_GRAFT_CPUS=32 tools/run.sh graft.ScaleGen \
    /root/testdata/sf0.1 "$SF1" 10 2>/dev/null | grep scalegen
fi

load=$(cut -d' ' -f1 /proc/loadavg)
echo "== 1-min loadavg: $load (gate: < 2.0 for trustworthy legs)"

for cpus in 32 8; do
  echo "== bench sf1 cpus=$cpus"
  SPARK_GRAFT_SF_DIR="$SF1" SPARK_GRAFT_CPUS=$cpus \
    tools/run.sh graft.Bench 2>/dev/null | tail -1 > /tmp/bench_sf1_c$cpus.line
  cp BENCH_LOCAL.json "BENCH_SF1_c$cpus.json"
done

python3 - <<'EOF'
import json
c32 = json.load(open('BENCH_SF1_c32.json'))
c8 = json.load(open('BENCH_SF1_c8.json'))
fams = ["q108_video_pipeline","q81_repeated_spans","q34_ngram_jaccard_topk",
        "q61_dedup_clusters","q83_training_set_prep","q74_pii_redact",
        "q97_bigram_topk","q120_quality_classifier","q129_dsir_selection",
        "q130_mmr_diversified","q35_minhash_neardup","q107_knn_join_lsh",
        "q96_term_pmi","q66_jaccard_prefix_filter"]
print(f"{'query':36s} {'8-core s':>9s} {'32-core s':>9s} {'speedup':>8s}")
for q in fams:
    a, b = c8['queries'].get(q), c32['queries'].get(q)
    if a and b:
        print(f"{q:36s} {a:9.3f} {b:9.3f} {a/b:7.2f}x")
t8, t32 = c8['value'], c32['value']
print(f"{'TOTAL (128 queries)':36s} {t8:9.3f} {t32:9.3f} {t8/t32:7.2f}x")
print("env c8:", c8['env'], " env c32:", c32['env'])
EOF
