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
exec sbt -batch "Test/compile"
