#!/bin/sh
# Round-protocol compile tripwire (VERDICT r16 #8).
#
# r16 shipped a broken build because the end-of-round snapshot swept in
# uncommitted WIP that had never been compiled. Run this before ANY
# end-of-round or snapshot commit; it refuses (non-zero exit) unless
# both main and test sources compile. Seconds when the incremental
# cache is warm, and the only gate that can stop a non-compiling tree
# from reaching the round snapshot.
#
# It also refuses a second application-end listener under src/main/scala:
# session-lifetime state belongs in the one session registry
# (graft.ops.SessionScoped's companion), whose single per-context listener
# is the only place SparkListenerApplicationEnd may appear.
#
# It also refuses a second concurrency path under src/main/scala:
# independent eager work runs side by side only through graft.ops.Stage's
# overlap (threads created per call, so they inherit the caller's Spark
# job group), so neither ExecutionContext.Implicits.global nor
# `new Thread(` may appear outside src/main/scala/graft/ops/Stage.scala.
#
# It also refuses a new diagnostic main under src/main/scala: a question
# about a run is answered from the trace, not by another entry point, so
# `def main(` may appear only in the entry points listed in $mains below.
#
# It also refuses a Spark session built without graft.Tables.configure:
# the JVM's generated-class cache is sized once, from the first session
# that generates code, so every `SparkSession.builder()` under
# src/main/scala must be the argument of `Tables.configure(` — a session
# built any other way would leave that cache at Spark's default of 100.
#
# Usage: tools/tripwire.sh
set -e
cd "$(dirname "$0")/.."
registry=src/main/scala/graft/ops/SessionScoped.scala
stray=$(grep -rl SparkListenerApplicationEnd src/main/scala | grep -vx "$registry" || true)
if [ -n "$stray" ]; then
  echo "tripwire: SparkListenerApplicationEnd outside $registry:" >&2
  echo "$stray" >&2
  exit 1
fi
stage=src/main/scala/graft/ops/Stage.scala
stray=$(grep -rlE 'ExecutionContext\.Implicits\.global|new Thread\(' src/main/scala | grep -vx "$stage" || true)
if [ -n "$stray" ]; then
  echo "tripwire: a thread or global execution context outside $stage:" >&2
  echo "$stray" >&2
  exit 1
fi
mains="graft/Bench.scala graft/Verify.scala graft/PlanDump.scala
graft/SkewBench.scala graft/osm/OsmPipeline.scala graft/osm/Cli.scala
graft/osm/OsmProfile.scala graft/tools/CurationChainBench.scala
graft/tools/DriverProfDiag.scala graft/tools/FloorDiag.scala
graft/tools/JobCountDiag.scala graft/tools/ScaleData.scala
graft/tools/StreamIndexBench.scala"
allowed=$(for m in $mains; do echo "src/main/scala/$m"; done)
stray=$(grep -rl 'def main(' src/main/scala | grep -vxF "$allowed" || true)
if [ -n "$stray" ]; then
  echo "tripwire: def main( outside the allowed entry points:" >&2
  echo "$stray" >&2
  exit 1
fi
stray=$(grep -rnE 'SparkSession\.builder([^A-Za-z0-9_]|$)' src/main/scala |
  grep -vF 'Tables.configure(SparkSession.builder())' || true)
if [ -n "$stray" ]; then
  echo "tripwire: SparkSession.builder() outside Tables.configure(:" >&2
  echo "$stray" >&2
  exit 1
fi
exec sbt -batch "Test/compile"
