#!/usr/bin/env python3
"""Self-test of the benchmark's own parts (not of the engine).

  python3 perfbench/selftest.py [--quick]

1. The same seed gives byte-identical inputs; another seed gives
   different ones (OSM extract, street list, both corpus kinds).
2. On a tiny extract the generator's manifest agrees with
   tools/shred_osm.py (elements, nd refs, members, clean list rows).
3. A corrupted expected value drives failure_ratio above 0: one OSM and
   one corpus run with `--corrupt-expected` must report failed > 0
   (skipped with --quick; each run starts a JVM).
"""
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen_corpus  # noqa: E402
import gen_osm  # noqa: E402

FAILS = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILS.append(what)


def digests(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).iterdir()) if p.is_file()}


def same_seed_same_bytes(tmp):
    gens = {"osm": lambda d, s: gen_osm.write(d, s, 1500),
            "corpus-dense": lambda d, s: gen_corpus.write(d, s, 300, "dense"),
            "corpus-sparse": lambda d, s: gen_corpus.write(d, s, 300,
                                                           "sparse")}
    for name, gen in gens.items():
        a, b, c = (tmp / f"{name}-{k}" for k in "abc")
        gen(a, 7), gen(b, 7), gen(c, 8)
        da, db, dc = digests(a), digests(b), digests(c)
        expect(da == db, f"{name}: seed 7 twice gives identical files")
        data = [f for f in da if f != "manifest.json"]
        expect(all(da[f] != dc[f] for f in data),
               f"{name}: seeds 7 and 8 give different {', '.join(data)}")


def manifest_matches_shred(tmp):
    d = tmp / "tiny"
    m = gen_osm.write(d, 3, 600)
    subprocess.run([sys.executable, str(ROOT / "tools" / "shred_osm.py"),
                    str(d / "map.osm"), str(d / "official.xml"),
                    str(d / "shred")], check=True, stdout=subprocess.DEVNULL)

    def rows(rel):
        return pq.read_table(d / "shred" / rel).num_rows

    pairs = {"nodes": (m["elements"]["nodes"], rows("nodes")),
             "ways": (m["elements"]["ways"], rows("ways")),
             "relations": (m["elements"]["relations"], rows("relations")),
             "nd refs": (m["nd_refs"], rows("way_nodes")),
             "members": (m["members"], rows("relation_members")),
             "clean list rows": (m["official_clean_rows"],
                                 rows("official_raw"))}
    for what, (want, got) in pairs.items():
        expect(want == got, f"manifest {what} {want} == shred_osm {got}")


def corrupted_expectation_fails():
    for workload, size in (("osm_wrangle", 3000), ("curation_chain", 300)):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", "0",
             "--size", str(size), "--corrupt-expected"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = out.stdout.strip().splitlines()[-1] if out.stdout else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        expect(res.get("failed", 0) > 0 and res.get("correct") is False,
               f"{workload}: a corrupted expected value gives failed="
               f"{res.get('failed')} of {res.get('attempted')}")


def main():
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as t:
        tmp = Path(t)
        same_seed_same_bytes(tmp)
        manifest_matches_shred(tmp)
    if "--quick" not in sys.argv:
        corrupted_expectation_fails()
    print(f"== {len(FAILS)} failed ==")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
