#!/bin/bash
# One fresh-JVM full-registry bench run at sf0.1; writes BENCH-format JSON
# to the given output file. Usage: run_bench.sh <out.json> [GRAFT_TRACER]
set -e
cd "$(dirname "$0")/../.."
export SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
export SPARK_GRAFT_BENCH_OUT="$1"
export GRAFT_TRACER="${2:-duty}"
# every pin-era record is local[32]; Bench.main's env default is 4, so
# an unexported shell would silently produce a non-comparable candidate
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
sbt -batch "runMain graft.Bench" > "${1%.json}.log" 2>&1
echo "rc=$? out=$1"
