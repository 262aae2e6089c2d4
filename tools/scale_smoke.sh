#!/bin/bash
# Opt-in scale smoke — TWELVE pipelines on generated copies-x tables:
# LSH-CC, PageRank, k-means fit, label propagation, incremental dedup,
# PQ ADC search, Bloom decontamination, FastSS edit-distance join,
# TF-IDF cosine all-pairs, the q200 curation decision table, and the
# q231 eval-overlap contamination report.
# Usage: tools/scale_smoke.sh [sfDir] [copies] [mode] [only] [bits]
# mode: dense (default, densifying worst case) | constant (constant-degree)
# only: optional comma list of sections for a targeted deep soak
set -e
SF=${1:-/root/testdata/sf0.1}
COPIES=${2:-10}
MODE=${3:-dense}
ONLY=${4:-}
BITS=${5:-}
# a bits override with no section filter: default ONLY to the explicit
# "all" spelling so the positional slots don't shift (ADVICE r7 —
# `scale_smoke.sh SF COPIES MODE '' 12` used to abort confusingly)
[ -n "$BITS" ] && ONLY=${ONLY:-all}
. "$(dirname "$0")/jvm.sh"
exec java $GRAFT_JVM_OPTS -Xmx56g -cp "$GRAFT_CP" \
  graft.tools.ScaleSmoke "$SF" "$COPIES" "$MODE" $ONLY $BITS
