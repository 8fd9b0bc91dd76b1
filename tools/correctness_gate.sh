#!/usr/bin/env bash
# One-command correctness gate: graft.Verify writes every gated query's
# result over the tables in <sfDir>, then tools/check_oracle.py replays the
# oracle SQL in DuckDB, compares byte-exactly and writes the per-query
# verdicts (pass / fail / no_oracle) with their counts to <json>.
#
#   tools/correctness_gate.sh <sfDir> [outDir] [json]
#
# outDir defaults to a fresh temp directory, json to CORRECTNESS_local.json
# in the repo root. Exits non-zero when any query fails. Verify's timings
# side-copy lands in outDir, so a gate run adds no other file to the repo.
set -euo pipefail
repo="$(cd "$(dirname "$0")/.." && pwd)"
sf="$(realpath "${1:?usage: tools/correctness_gate.sh <sfDir> [outDir] [json]}")"
out="$(realpath -m "${2:-$(mktemp -d -t graft_verify.XXXXXX)}")"
json="$(realpath -m "${3:-$repo/CORRECTNESS_local.json}")"
mkdir -p "$out"
cd "$repo"
GRAFT_REPO_ROOT="$out" GRAFT_RUN_TAG=local \
  sbt -batch "runMain graft.Verify $sf $out"
python3 tools/check_oracle.py "$sf" "$out" --json "$json"
