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
exec sbt -batch "Test/compile"
