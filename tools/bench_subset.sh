#!/bin/bash
# Time a subset of declared queries at sf0.1 (the driver's bench scale)
# without sbt. Usage: tools/bench_subset.sh q298_graph_evolution_series,q278_graph_evolution [cpus]
set -euo pipefail
cd "$(dirname "$0")/.."
# grab the last FULL cumulative line (the compact summary line
# printed after it has no "queries" map)
SPARK_GRAFT_CPUS="${2:-32}" SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_ONLY="$1" tools/run.sh graft.Bench 2>/dev/null | grep '"queries"' | tail -1
