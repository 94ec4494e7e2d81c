#!/usr/bin/env bash
# Runs the bench suite at the sf0.1 / 10x / 100x / 1000x scale points
# and composes BENCH_SCALE.json. Regenerate the replicated dirs first:
#   python3 scripts/gen_scale.py /root/testdata/sf0.1 /tmp/scale/x10 10
#   python3 scripts/gen_scale.py /root/testdata/sf0.1 /tmp/scale/x100 100
#   python3 scripts/gen_scale.py /root/testdata/sf0.1 /tmp/scale/x1000 1000
# (driver-side tooling; the Scala library never depends on this)
set -euo pipefail
cd "$(dirname "$0")/.."

run_point() { # sfdir out
  # NOTE on noise: guest-side idle gating (the Bench built-in gate +
  # idle_wait here) removes in-VM contention, but host-level CPU
  # starvation is invisible to guest loadavg and was observed to move
  # x100 per-query absolutes 3-8x between back-to-back gate-passed
  # runs (a 32g-heap A/B disproved GC as the cause). Within-run
  # Spark/DuckDB ratios share the window and stay comparable; absolute
  # walls across sweeps do not.
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_BENCH_OUT="$2" \
    sbt -batch "runMain graft.Bench" 2>&1 | tail -3
}

idle_wait() { # let loadavg decay so each point s load_before snapshot reflects a genuinely idle box
  for i in $(seq 1 60); do
    l=$(cut -d" " -f1 /proc/loadavg)
    awk "BEGIN{exit !($l < 1.0)}" && return 0
    sleep 10
  done
}

idle_wait
run_point /root/testdata/sf0.1 /tmp/scale/bench_sf01.json
idle_wait
run_point /tmp/scale/x10      /tmp/scale/bench_x10.json
idle_wait
run_point /tmp/scale/x100     /tmp/scale/bench_x100.json
idle_wait
# x1000 (~17 GB, r15): the point where the dense probe contracts BREAK
# on purpose — the 150 M-key orders span exceeds denseLookupJoin's
# maxCodesBytes, so salted_join runs the out-of-contract fallback for
# real (since the r16 budget a shuffle-hash join, not a broadcast
# join; `graft.ProfileQuery salted_join` shows the executed plan).
# REDUCED suite, disclosed in-artifact: range_join's pair enumeration
# grows ~min(N,30)*N (hours in DuckDB here) and the four r4
# lambda-heavy oracles are interpreter-bound over 5 M docs.
# 32 GiB heap for this point only (disclosed via the artifact's
# jvm_max_heap_mb key): r15 needed 64 GiB to survive the then-
# unbudgeted fallback's 3.2 GB / 30 M-row driver-built HashedRelation;
# with the r16 SHUFFLE_HASH budget that build is a partitioned
# executor-side hash table (~1 M rows per task at 32 partitions), and
# the remaining headroom is for the shared local[32] JVM running scans,
# shuffles, and the DuckDB-comparable page cache in one heap — a real
# cluster spreads this across executors.
SPARK_DRIVER_MEM=32g \
SPARK_GRAFT_EXCLUDE=range_join,contamination,doc_fingerprint,langid_confusion,quality_scores \
  run_point /tmp/scale/x1000 /tmp/scale/bench_x1000.json

# x2000 (~34 GB, r19): the BIGGER-THAN-HEAP point (r17/r18 wishlist
# item, third deferral closed) — input is 2x the 32 GiB heap, so scans
# + shuffles + the page cache CANNOT all fit in memory and the spill/
# re-read paths run for real for the first time. HEAVY FAMILY ONLY
# (SPARK_GRAFT_ONLY, disclosed in-artifact as only_queries): the full
# 130-query suite's DuckDB side would run for hours at 34 GB, and the
# point exists to exercise the heavy operators' memory posture, not to
# re-measure the fixed-cost tail. Data: scripts/gen_scale.py x2000
# (same production layout).
if [ -d /tmp/scale/x2000 ]; then
  idle_wait
  SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_ONLY=salted_join,q3_shipping,pack_sequences,minhash_neardups,simhash_neardups,minhash_bands,dedup_clusters,lang_stopwords,sessionize,a6_pricing_summary,heavy_hitters,a1_sum \
    run_point /tmp/scale/x2000 /tmp/scale/bench_x2000.json
  X2000_POINT="2000x sf0.1 (34 GB, heavy family, input > heap)=/tmp/scale/bench_x2000.json"
else
  echo "[run_scale] /tmp/scale/x2000 missing — generate with scripts/gen_scale.py to include the bigger-than-heap point" >&2
  X2000_POINT=""
fi

python3 scripts/compose_scale.py BENCH_SCALE.json \
  "sf0.1 (17 MB, driver scale)=/tmp/scale/bench_sf01.json" \
  "10x sf0.1 (170 MB)=/tmp/scale/bench_x10.json" \
  "100x sf0.1 (1.7 GB)=/tmp/scale/bench_x100.json" \
  "1000x sf0.1 (17 GB, reduced suite)=/tmp/scale/bench_x1000.json" \
  ${X2000_POINT:+"$X2000_POINT"}
