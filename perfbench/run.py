#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
(perfbench/build.py, first run only), generates the workload's inputs from
the seed (never timed), runs the JVM harness on `local[N]` with
`spark.sql.shuffle.partitions = N`, N = the usable CPUs, checks every
output against an implementation other than the engine (perfbench/check.py)
and prints each metric by name and unit. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import gen_corpus  # noqa: E402
import gen_osm  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# seconds from the end of the build to the end of the JVM: a run must end
# within 180 s, and the checks after the JVM take a few seconds
BUDGET_S = 150


def corpus_inputs(d, seed, n):
    """The chain's sparse corpus, and the dense corpus its traced run
    times the q_dedup_eval layers on."""
    return {"chain": gen_corpus.write(Path(d) / "chain", seed, n, "sparse"),
            "pairs": gen_corpus.write(Path(d) / "pairs", seed, 2000,
                                      "dense")}


# workload -> (generator, default size, check)
WORKLOADS = {
    "osm_wrangle": (gen_osm.write, 16000, check.check_osm),
    "curation_chain": (corpus_inputs, 2500, check.check_corpus),
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "3g"

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "report_s": "s"}


def per_layer_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs, not part of the benchmark's contract
    ap.add_argument("--size", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    if not ((ROOT / "src" / "main" / "scala" / "graft").is_dir()
            and (ROOT / "tools" / "shred_osm.py").is_file()):
        sys.exit("perfbench: run from the root of a full checkout "
                 "(src/main/scala and tools/ are missing)")
    classes = build.build()
    t_start = time.monotonic()  # the budget starts after a (first-run) build

    gen, size, checker = WORKLOADS[a.workload]
    work = build.BUILD / "work" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = work / "input", work / "out"
    out_dir.mkdir(parents=True)
    manifest = gen(in_dir, a.seed, a.size or size)
    cpus = len(os.sched_getaffinity(0))

    cmd = (["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false"] + JVM_OPENS
           + ["-cp", f"{classes}:{build.spark_jars()}/*",
              "graft.perfbench.PerfBench", a.workload, str(in_dir),
              str(out_dir), str(a.seconds), str(a.trace), str(a.seed),
              str(cpus)])
    cpu_before = _cpu_ticks()
    with open(out_dir / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=out_dir)
        try:
            proc.wait(timeout=max(10, BUDGET_S - (time.monotonic()
                                                  - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: harness timed out; log in {log.name}")
    if proc.returncode != 0:
        tail = (out_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.exit(f"perfbench: harness exited {proc.returncode}\n{tail}")
    cpu_after = _cpu_ticks()
    res = json.loads((out_dir / "result.json").read_text())

    # correctness: outputs of every run equal the checked output, which an
    # independent implementation must reproduce
    attempted, failed = res["attempted"], res["threw"]
    prints = res["fingerprints"]
    failed += sum(fp != prints[-1] for fp in prints) if prints else 0
    try:
        fails = checker(in_dir, out_dir, res["check"],
                        corrupt=a.corrupt_expected) if res["check"] else \
            ["no output was exported for checking"]
    except Exception as e:  # a crashed check is a failed check
        fails = [f"check raised {type(e).__name__}: {e}"]
    if fails:
        failed = attempted
    for msg in fails + res["errors"]:
        print(f"check: {msg}")

    samples = res["run_s_samples"]
    if a.trace:
        units = per_layer_units()
        layer = dict(res["per_layer"], peak_rss_mb=res["peak_rss_mb"],
                     first_run_s=res["first_run_s"])
        metrics = {n: {"value": _num(layer.get(n)), "unit": u}
                   for n, u in units.items()}
    else:
        rounds = res["report_round_s_samples"]
        values = {"setup_s": res["setup_s"],
                  "run_s": statistics.median(samples) if samples else 0.0,
                  "report_s": statistics.median(rounds) if rounds else 0.0}
        metrics = {n: {"value": _num(values[n]), "unit": u}
                   for n, u in END_TO_END_UNITS.items()}
        print(f"samples: {len(samples)} warm runs, {len(rounds)} report "
              "rounds: " + ", ".join(f"{n} {ms:.0f} ms" for n, ms in
                                     zip(res["report_names"],
                                         res["report_ms_samples"])))
    ctx = dict(res["context"], seed=a.seed, manifest=manifest,
               total_memory_kb=_meminfo("MemTotal"), heap=HEAP,
               commit=_commit(), wall_s=round(time.monotonic() - t_start, 1),
               cpu_steal_share=_steal_share(cpu_before, cpu_after))
    if a.workload == "osm_wrangle" and res["check"]:
        ctx["csv_bytes_per_input_byte"] = res["check"].get(
            "csv_bytes_per_input_byte")
    print("context: " + json.dumps(ctx, sort_keys=True))
    (work / "context.json").write_text(json.dumps(ctx, indent=1))
    for n, m in metrics.items():
        print(f"{n}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def _num(v):
    """A metric value; a run that never produced it reads 0."""
    return float(v) if v is not None and v == v else 0.0


def _cpu_ticks():
    """The machine's aggregate CPU ticks from /proc/stat (None if absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(before, after):
    """Share of CPU time the hypervisor took while the JVM ran: a slow
    box window, not a code change, when it is high."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / sum(delta), 4) if sum(delta) else None


def _meminfo(key):
    try:
        for line in open("/proc/meminfo"):
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return None


def _commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=5).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
