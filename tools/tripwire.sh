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
# It also refuses a Spark session built outside graft.Tables.session:
# the JVM's generated-class cache is sized once, from the first session
# that generates code, so `SparkSession.builder` may appear under
# src/main/scala only in src/main/scala/graft/Tables.scala, whose one
# recipe applies Tables.configure — a session built any other way would
# leave that cache at Spark's default of 100.
#
# It also refuses a second home for the OSM pipeline's partition width:
# every staged OSM relation has one width, sized by the extract's bytes
# (graft.osm.OsmPipeline.width), so `.repartition(` and `.coalesce(` may
# appear under src/main/scala/graft/osm/ only inside OsmPipeline's
# `fitted` helper (from its `def fitted(` line to the next blank line).
#
# It also refuses a second home for OSM XML scanning: every OSM element
# kind is read by graft.osm.OsmIngest's one reader and staged by
# OsmPipeline, and the official street list has its own reader, so
# `format("xml")` may appear under src/main/scala only in
# src/main/scala/graft/osm/OsmIngest.scala and OfficialList.scala.
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
graft/tools/CurationChainBench.scala
graft/tools/DriverProfDiag.scala graft/tools/JobCountDiag.scala
graft/tools/ScaleData.scala"
allowed=$(for m in $mains; do echo "src/main/scala/$m"; done)
stray=$(grep -rl 'def main(' src/main/scala | grep -vxF "$allowed" || true)
if [ -n "$stray" ]; then
  echo "tripwire: def main( outside the allowed entry points:" >&2
  echo "$stray" >&2
  exit 1
fi
tables=src/main/scala/graft/Tables.scala
stray=$(grep -rlE 'SparkSession\.builder([^A-Za-z0-9_]|$)' src/main/scala |
  grep -vx "$tables" || true)
if [ -n "$stray" ]; then
  echo "tripwire: SparkSession.builder outside $tables:" >&2
  echo "$stray" >&2
  exit 1
fi
osm=src/main/scala/graft/osm
stray=$({
  grep -rnE '\.(repartition|coalesce)\(' "$osm" |
    grep -v "^$osm/OsmPipeline.scala:"
  awk -v f="$osm/OsmPipeline.scala" '
    /def fitted\(/ { h = 1 }
    h && /^[[:space:]]*$/ { h = 0 }
    !h && /\.(repartition|coalesce)\(/ { print f ":" FNR ": " $0 }
  ' "$osm/OsmPipeline.scala"
} || true)
if [ -n "$stray" ]; then
  echo "tripwire: repartition/coalesce under $osm outside OsmPipeline.fitted:" >&2
  echo "$stray" >&2
  exit 1
fi
xml="$osm/OsmIngest.scala
$osm/OfficialList.scala"
stray=$(grep -rlF 'format("xml")' src/main/scala | grep -vxF "$xml" || true)
if [ -n "$stray" ]; then
  echo "tripwire: format(\"xml\") outside OsmIngest and OfficialList:" >&2
  echo "$stray" >&2
  exit 1
fi
exec sbt -batch "Test/compile"
