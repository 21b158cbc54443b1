#!/usr/bin/env python3
"""Repository benchmark: importer workloads and a query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from source
(sbt, offline) together with the harness in perfbench/src, into the
repository's target/ directories, and records the classpath under
.bench_build/. Every later run starts one JVM (perfbench.Main) directly.

Workloads (see perfbench/README.md):
  import_tweets    generated tweet dump, quarantine + cleanse + enrich + sort
  query_mix        a fixed core plus a seeded per-family sample of the queries

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end with --trace 0, per-layer with --trace 1, names
and units from BENCHMARK.json). Test data comes from $GRAFT_TESTDATA, else
~/testdata (sf0.1; sf0.001 with --smoke).
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
DEADLINE_S = 160  # for the JVM; the checks after it fit in the 180 s a run may take

sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# tweet dump size: (rows, files)
SIZES = {"full": (80_000, 8), "smoke": (3_000, 2)}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of every file the build reads: the program and the harness."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        for p in sorted([r] if r.is_file() else r.rglob("*")):
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded launcher matches the sources."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: run from the repository root")
    stamp = source_stamp()
    launcher, stamp_file = BUILD / "launcher.txt", BUILD / "stamp"
    if launcher.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return launcher.read_text().splitlines()
    BUILD.mkdir(exist_ok=True)
    repos = Path.home() / ".sbt" / "repositories"
    opts = "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if repos.is_file() else "")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    log("building (sbt launcher)")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
    shutil.copy(HERE / "target" / "launcher.txt", launcher)
    stamp_file.write_text(stamp)
    return launcher.read_text().splitlines()


# ------------------------------------------------------------------ inputs

def testdata(smoke):
    base = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))
    sf = base / ("sf0.001" if smoke else "sf0.1")
    if not (sf / "lineitem.parquet").is_file():
        fail(f"test data not found at {sf} (set GRAFT_TESTDATA)")
    return sf


def pick_mix(seed, smoke):
    """The fixed core, one seeded draw from every family's candidates, and
    the standing builds the core consumes (none at smoke size)."""
    pool = json.loads((HERE / "pool.json").read_text())
    rng = random.Random(seed)
    sample = [rng.choice(pool["families"][f]) for f in sorted(pool["families"])]
    if smoke:
        return pool["core"][:2], sample, []
    return pool["core"], sample, pool["standing"]


# ------------------------------------------------------------------ checks

def check_tweets(work, inp, res):
    con = duckdb.connect()
    files = sorted(str(p) for p in Path(work, "out").glob("*.parquet"))
    written = con.execute("SELECT count(*) FROM read_parquet($1)", [files]).fetchone()[0]
    quarantined = sum(1 for p in Path(work, "bad").glob("part-*")
                      for _ in p.open(encoding="utf-8"))
    errors = []
    if written != inp["expect_written"]:
        errors.append(f"written {written} != expected {inp['expect_written']}")
    if quarantined != inp["expect_quarantined"]:
        errors.append(f"quarantined {quarantined} != injected malformed {inp['expect_quarantined']}")
    # the program's own counts: rows readCsv parsed, rows twitterCleanse dropped
    if res["cleansed_rows"] != inp["expect_cleansed"]:
        errors.append(f"cleansed {res['cleansed_rows']} != expected {inp['expect_cleansed']}")
    if written + quarantined + res["cleansed_rows"] != inp["rows"]:
        errors.append(f"written {written} + quarantined {quarantined} + cleansed "
                      f"{res['cleansed_rows']} != generated rows {inp['rows']}")
    if res["read_rows"] != inp["rows"]:
        errors.append(f"readCsv parsed {res['read_rows']} rows, generated {inp['rows']}")
    # global order: files in part order, rows in file order
    down = con.execute("""SELECT count(*) FROM (SELECT tweet_time < lag(tweet_time) OVER (
        ORDER BY filename, file_row_number) AS down FROM read_parquet($1, filename = true,
        file_row_number = true)) WHERE down""", [files]).fetchone()[0]
    if down:
        errors.append(f"{down} rows out of global tweet_time order")
    return errors


def check_oracle(sf, results):
    """Each warm-up result against its DuckDB oracle, by the comparison rules
    of tools/check_oracle.py (columns by name, rows in order, exact values)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(str(sf), str(results))
    return [line for line in buf.getvalue().splitlines() if line.startswith("FAIL")]


# ------------------------------------------------------------------ metrics

def samples(res, workload, core):
    """The timed samples behind the end-to-end medians."""
    if workload == "query_mix":
        # read_s: the core's share of each pass; the seeded draw changes with
        # the seed, the core does not
        return {"pass_s": res["mix_s"], "pass_cpu_s": res["mix_cpu_s"],
                "read_s": [sum(ts) for ts in zip(*(res["query_s"][q] for q in core))]}
    return {"pass_s": res["import_s"], "pass_cpu_s": res["import_cpu_s"],
            "read_s": res["readback_s"]}


def end_to_end(res, samples):
    return {"setup_s": res["setup_s"], **{k: statistics.median(v) for k, v in samples.items()},
            "peak_rss_mb": res["peak_rss_mb"]}


def launch(launcher, work, jargs, timeout):
    """Run the benchmark JVM; returns its result.json, or None on failure."""
    # a fixed heap and young generation keep the resident set from following
    # the collector's adaptive sizing; a fixed set of JIT compiler threads and
    # access to their CPU times let Main leave compilation out of pass_cpu_s
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", "--add-exports=java.management/sun.management=ALL-UNNAMED",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}"] + launcher[1:] +
           ["-cp", launcher[0], "perfbench.Main", f"work={work / 'jvm'}"] + jargs)
    with open(work / "jvm.log", "w") as jlog, subprocess.Popen(
            cmd, stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL) as jvm:
        try:
            rc = jvm.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        log(f"benchmark JVM failed ({rc})")
        return None
    return json.loads((work / "jvm" / "result.json").read_text())


def new_workdir(name):
    work = BUILD / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["import_tweets", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (sf0.001)")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    launcher = build()
    start = time.monotonic()
    sf = testdata(args.smoke)
    cpus = os.cpu_count() or 1
    work = new_workdir(f"{args.workload}-{args.seed}")
    size = SIZES["smoke" if args.smoke else "full"]
    try:
        jargs = [f"workload={args.workload}", f"seconds={args.seconds}", f"trace={args.trace}",
                 f"cpus={cpus}", f"sf={sf}"]
        inp, core, queries = None, [], []
        if args.workload == "import_tweets":
            inp = gen.tweets(work / "input", args.seed, *size)
        else:
            core, sample, standing = pick_mix(args.seed, args.smoke)
            queries = core + sample
            jargs += [f"queries={','.join(queries)}", f"standing={','.join(standing)}"]
        if inp:
            jargs += [f"src={inp['src']}", f"schema={inp['schema']}",
                      f"expect={inp['expect_written']}"]
        res = launch(launcher, work, jargs, DEADLINE_S - (time.monotonic() - start))
        if res is None:
            sys.exit(1)

        errors = list(res["failures"])
        if args.workload == "import_tweets":
            errors += check_tweets(work / "jvm", inp, res)
        else:
            errors += check_oracle(sf, work / "jvm" / "results")
        for e in errors:
            log(f"check failed: {e}")
        # the mix's warm-up executions are attempts too: their results are
        # the ones checked against the oracle
        attempted = res["attempted"] + len(queries)
        failed = min(len(errors), attempted)

        timed = samples(res, args.workload, core)
        if args.trace:
            names = {m["name"]: m["unit"] for m in spec["per_layer"]}
            if inp:
                res["importer.write.bytes_ratio"] = res["importer.write.bytes_out"] / inp["csv_bytes"]
            values = {k: res.get(k, 0) for k in names}
        else:
            names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = end_to_end(res, timed)
        # load hygiene: core count, load and process CPU next to wall time,
        # so records from different boxes or loaded windows are not compared
        context = {"workload": args.workload, "seed": args.seed, "nproc": cpus,
                   "loadavg": os.getloadavg(), "process_cpu_s": res["process_cpu_s"],
                   "jit_cpu_s": res["jit_cpu_s"], "jvm_wall_s": res["wall_s"], "samples": timed,
                   "queries": res.get("query_s", queries),
                   "setup": {k: res[k] for k in ("engine.session_s", "tables.catalog_s", "standing.build_s",
                                                 "warmup_s") if k in res}, "inputs": inp and {
                       k: v for k, v in inp.items() if k not in ("src", "schema")}}
        print(json.dumps({"context": context}))
        if args.trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            stem = traces / f"{args.workload}-{args.seed}"
            shutil.copy(work / "jvm" / "trace.json", f"{stem}.spans.json")
            Path(f"{stem}.result.json").write_text(json.dumps({"context": context, "result": res}))
        print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
