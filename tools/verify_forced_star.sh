#!/usr/bin/env bash
# Forced-star oracle leg: the full graft.Verify run with the near-dup
# star gate forced open, then the DuckDB oracle compare. At the default
# knobs no registered group query runs star+repair (q112-q115 never trip
# the density gate; q110 trips it but the sampled probe falls back), so
# this leg is what checks Dedup.gatedBucketEdges' star, repair and
# pass-heavy short-circuit paths against the unchanged oracles.
#
#   SPARK_GRAFT_STAR_FACTOR=0            every bucket with >= 2 members
#                                        takes the star path
#   SPARK_GRAFT_STAR_REPAIR=1e9          neither repair bound (probe or
#   SPARK_GRAFT_STAR_REPAIR_CHEAP=1e9    exact) can fall back
#
# The gate decisions land on stderr as "graft.dedup.<form>: ..." lines;
# the log keeps them for inspection.
#
# Usage: tools/verify_forced_star.sh <sf_dir> [out_dir]   (from the repo root)
#   e.g. tools/verify_forced_star.sh <testdata>/sf0.01
set -euo pipefail
sf="${1:?usage: tools/verify_forced_star.sh <sf_dir> [out_dir]}"
out="${2:-/tmp/verify_forced_star}"
log="$out.log"

SPARK_GRAFT_STAR_FACTOR=0 \
SPARK_GRAFT_STAR_REPAIR=1e9 \
SPARK_GRAFT_STAR_REPAIR_CHEAP=1e9 \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify $sf $out" > "$log" 2>&1
grep -a 'graft\.dedup\.[A-Za-z0-9]*: ' "$log" || true
python3 tools/check.py "$sf" "$out"
