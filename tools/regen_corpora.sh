#!/usr/bin/env bash
# Regenerate the scale-probe corpora. /tmp does NOT survive between
# rounds (r16 memory note: every round re-paid 4-15 min rediscovering
# these exact invocations) — this script IS the recipe, referenced from
# .claude/skills/verify/SKILL.md.
#
#   tools/regen_corpora.sh sf10   # 100x full corpus  -> /tmp/graft_sf10  (~4 min at 32 cores, ~25 GB)
#   tools/regen_corpora.sh sf1    # 10x full corpus   -> /tmp/graft_sf1   (~1 min at 32 cores)
#   tools/regen_corpora.sh 5m     # 1000x documents-only -> /tmp/graft_sf100d
#                                 # (the r16 table filter: 5,000,000 docs,
#                                 #  560 MB, ~11 min; full tables at 1000x
#                                 #  would drag 600M lineitem rows the
#                                 #  increment probe never reads)
#   tools/regen_corpora.sh all    # both probe corpora (sf10 + 5m)
#
# GenScale decorrelates copies (id offsets, signed-rotation embeddings,
# text cipher) — see GenScale.scala's scaladoc for why naive replication
# would corrupt dedup/ANN measurements.
set -euo pipefail
cd "$(dirname "$0")/.."

JAR=target/scala-2.13/aidc2018timeseriesspark_2.13-0.1.0.jar
if [ ! -f "$JAR" ] || [ -n "$(find src/main -newer "$JAR" -name '*.scala' -print -quit)" ]; then
  sbt -batch package
fi

# every core, and half the box's memory (at least 2g) for the driver
CPUS="$(env -u OMP_NUM_THREADS nproc)"
MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' /proc/meminfo)"

gen() { # gen <dst> <factor> [tableFilter]
  /opt/spark/bin/spark-submit --class graft.tools.GenScale \
    --master "local[$CPUS]" --driver-memory "$MEM" "$JAR" \
    /root/testdata/sf0.1 "$@"
}

case "${1:-all}" in
  sf1)  gen /tmp/graft_sf1 10 ;;
  sf10) gen /tmp/graft_sf10 100 ;;
  5m)   gen /tmp/graft_sf100d 1000 documents ;;
  all)  gen /tmp/graft_sf10 100
        gen /tmp/graft_sf100d 1000 documents ;;
  *) echo "usage: $0 [sf1|sf10|5m|all]" >&2; exit 2 ;;
esac
