#!/bin/sh
# Self-test for tools/tripwire.sh: copies the tripwire and src/main/scala
# into a temporary root, plants one violation per rule in a new source
# file (and, for the OSM width rule, one more inside OsmPipeline.scala),
# and checks that the tripwire exits 1 and names the planted file.
# An `sbt` stub stands in for the compile step, so no build runs: the
# unplanted copy must reach the stub and exit 0, and a rule that misses
# its violation shows up as exit 0 instead of 1.
#
# Usage: tools/tripwire_selftest.sh
set -e
cd "$(dirname "$0")/.."
repo=$(pwd)
tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT INT TERM
mkdir -p "$tmp/bin"
printf '#!/bin/sh\necho "sbt stub: $*"\n' >"$tmp/bin/sbt"
chmod +x "$tmp/bin/sbt"
fails=0

# fresh copy of the tripwire and the main sources at $tmp/root
fresh() {
  rm -rf "$tmp/root"
  mkdir -p "$tmp/root/tools" "$tmp/root/src/main"
  cp "$repo/tools/tripwire.sh" "$tmp/root/tools/"
  cp -R "$repo/src/main/scala" "$tmp/root/src/main/"
}

run() {
  set +e
  PATH="$tmp/bin:$PATH" sh "$tmp/root/tools/tripwire.sh" >"$tmp/out" 2>&1
  code=$?
  set -e
}

fresh
run
if [ "$code" -eq 0 ]; then
  echo "ok   clean tree passes"
else
  echo "FAIL clean tree: exit $code" >&2
  cat "$tmp/out" >&2
  fails=$((fails + 1))
fi

# plant <rule> <scala line> [package]: one violation in a new file of
# package graft (or graft.<package>), exit 1 expected
plant() {
  fresh
  pkg=graft${3:+.$3}
  file=src/main/scala/$(echo "$pkg" | tr . /)/Planted.scala
  printf 'package %s\nobject Planted {\n  %s\n}\n' "$pkg" "$2" \
    >"$tmp/root/$file"
  run
  if [ "$code" -eq 1 ] && grep -qF "$file" "$tmp/out"; then
    echo "ok   $1: exit 1, names $file"
  else
    echo "FAIL $1: exit $code" >&2
    cat "$tmp/out" >&2
    fails=$((fails + 1))
  fi
}

plant "second application-end listener" \
  'type E = org.apache.spark.scheduler.SparkListenerApplicationEnd'
plant "thread outside Stage" 'val t = new Thread(() => ())'
plant "global execution context" \
  'implicit val ec = scala.concurrent.ExecutionContext.Implicits.global'
plant "stray main" 'def main(args: Array[String]): Unit = ()'
plant "session builder outside Tables" \
  'def s = org.apache.spark.sql.SparkSession.builder().getOrCreate()'
plant "OSM repartition outside the width helper" \
  'def f(d: org.apache.spark.sql.DataFrame) = d.repartition(8)' osm
plant "OSM coalesce outside the width helper" \
  'def f(d: org.apache.spark.sql.DataFrame) = d.coalesce(1)' osm

# a coalesce in OsmPipeline.scala itself, outside `fitted`, must fire too
fresh
file=src/main/scala/graft/osm/OsmPipeline.scala
printf '\nobject PlantedWidth {\n  def f(d: org.apache.spark.sql.DataFrame) = d.coalesce(2)\n}\n' \
  >>"$tmp/root/$file"
run
if [ "$code" -eq 1 ] && grep -qF "$file" "$tmp/out"; then
  echo "ok   OSM coalesce in OsmPipeline.scala outside fitted: exit 1"
else
  echo "FAIL OSM coalesce in OsmPipeline.scala outside fitted: exit $code" >&2
  cat "$tmp/out" >&2
  fails=$((fails + 1))
fi

if [ "$fails" -ne 0 ]; then
  echo "tripwire_selftest: $fails case(s) failed" >&2
  exit 1
fi
echo "tripwire_selftest: all cases passed"
