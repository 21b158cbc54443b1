#!/usr/bin/env python3
"""Rebuild the sampled part of the query mix (perfbench/pool.json).

    python3 perfbench/curate.py <query> [<query> ...]

Runs the named candidate queries once warm at sf0.1 in one benchmark JVM,
checks each result against its DuckDB oracle, and keeps, per family, the
candidates that match their oracle, take at most MAX_S seconds, build
nothing cached on first use and cost within BAND of the family's median.
Queries excluded for an oracle mismatch or a cached build are recorded under
"excluded" with the reason. The core, the standing builds, the exclusions
already recorded (a query can reuse a relation an earlier candidate built,
which a timing cannot show) and the families not named are kept as they are.
"""
import json
import re
import statistics
import sys

import run

MAX_S = 2.0  # per execution, warm, on the box that curates
BAND = 0.25  # kept: within this share of the family's median cost
# a warm-up above this and well above the timed cost builds a session-cached
# relation of its own, which would land in the setup of the seeds that draw it
MAX_WARMUP_S = 3.0
WARMUP_RATIO = 1.5


def families():
    """query name -> family, from the `queries` maps of the program."""
    src = run.ROOT / "src" / "main" / "scala" / "graft"
    fam = {}
    for f in list((src / "operators").glob("*.scala")) + [src / "streaming" / "Windows.scala"]:
        name = "streaming" if f.stem == "Windows" else f.stem
        for q in re.findall(r'^\s+"(q\d+[a-z0-9_]*)" ->', f.read_text(), re.M):
            fam[q] = name
    return fam


def main(candidates):
    pool_file = run.HERE / "pool.json"
    pool = json.loads(pool_file.read_text())
    fam = families()
    launcher = run.build()
    sf = run.testdata(False)
    work = run.new_workdir("curate")
    res = run.launch(launcher, work, [
        "workload=query_mix", "seconds=0", "trace=0", f"cpus={run.os.cpu_count()}", f"sf={sf}",
        f"queries={','.join(candidates)}", f"standing={','.join(pool['standing'])}"], 3000)
    if res is None:
        sys.exit(1)
    failing = {line.split()[1].rstrip(":") for line in run.check_oracle(sf, work / "jvm" / "results")}
    failing |= {f.split()[0] for f in res["failures"]}
    picked = {}
    for q in candidates:
        t = res["query_s"].get(q, [float("inf")])[0]
        if q in pool["excluded"]:
            continue
        if q in failing:
            pool["excluded"][q] = "oracle mismatch at sf0.1"
        elif res["warmup_s"].get(q, 0) > max(MAX_WARMUP_S, WARMUP_RATIO * t):
            pool["excluded"][q] = f"warm-up {res['warmup_s'][q]:.1f} s builds a cached relation"
        elif t <= MAX_S:
            picked.setdefault(fam[q], []).append((q, t))
        print(f"{q:40s} {fam[q]:12s} warm-up {res['warmup_s'].get(q, 0):6.2f} s  "
              f"timed {t:6.2f} s  {'FAIL' if q in failing else 'ok'}")
    # a narrow cost band per family keeps a pass's cost nearly the same
    # whichever query the seed draws
    for f, qs in picked.items():
        mid = statistics.median(t for _, t in qs)
        pool["families"][f] = sorted(q for q, t in qs if abs(t - mid) <= BAND * mid)
    pool_file.write_text(json.dumps(pool, indent=1) + "\n")
    run.shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
