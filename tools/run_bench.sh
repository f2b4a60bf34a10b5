#!/bin/bash
# Run graft.Bench outside sbt so the build JVM doesn't pollute the box
# during measurement. Usage: tools/run_bench.sh [queryPrefix]
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_CANONICAL,
# SPARK_GRAFT_BENCH_REPS.
exec "$(dirname "$0")/run_main.sh" graft.Bench "$@"
