#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds graft and the
load generator (sbt, offline) and generates the lake; later runs reuse
both from ``.bench_work/``. Generated inputs are cached there by seed.
The last line of stdout is the JSON result; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
DATA_SEED = 20240101          # the lake's own seed; the run seed drives the workload
CORES = 4
# One pass warms the JVM off the clock; at least two whole passes are
# measured, so a pass median is not one sample. The first measured pass
# still runs about 30% slower than later ones. A traced run compares
# traced passes with untraced ones (see perfbench.Main), so it warms up
# for two passes and measures at least four, two of each.
WARM_PASSES, MIN_PASSES = 1, 2
WARM_PASSES_TRACED, MIN_PASSES_TRACED = 2, 4
RUN_LIMIT_S = 170             # every run must end within 180 s
BUILD_LIMIT_S = 800
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def _tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        for root, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def classes_dir():
    return os.path.join(BENCH, "target", "scala-2.13", "classes")


def build():
    """Compile graft's sources with the load generator, once per source state."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    hashed = [p for p in sources if os.path.isdir(p)]
    stamp = _tree_hash(hashed) + "-" + "-".join(
        hashlib.sha256(open(p, "rb").read()).hexdigest()[:8] for p in sources if os.path.isfile(p))
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes_dir()):
        return stamp
    log("building graft and the load generator (sbt)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")     # the toolchain's caches only
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        code = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S).returncode
    if code != 0:
        fail(f"sbt compile failed ({code}); see {WORK}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return stamp


def java(args, cwd, log_path, timeout):
    spark_home = os.environ["SPARK_HOME"]
    cmd = ["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.ui.enabled=false", "-cp", f"{spark_home}/jars/*:{classes_dir()}",
        "perfbench.Main"] + args
    os.makedirs(cwd, exist_ok=True)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"load generator exceeded {timeout:.0f}s; see {log_path}")
    if code != 0:
        fail(f"load generator exited {code}; see {log_path}")


def cached_dir(path, make):
    """Build a directory once: make it under a temporary name, then rename."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    digest_file = path + ".digest"
    if not os.path.exists(digest_file):
        with open(digest_file, "w") as f:
            f.write(gen.digest(path))
    return open(digest_file).read()


def oracle_sql(stamp):
    path = os.path.join(WORK, f"oracle_sql-{stamp}.json")
    if not os.path.exists(path):
        java(["--dump-oracle", path], WORK, os.path.join(WORK, "oracle_dump.log"), 120)
    return json.load(open(path))


def inputs(workload, seed, base):
    """The seeded passes and commit batches, cached by seed."""
    d = os.path.join(WORK, "inputs", workload, f"seed-{seed}")
    plan = os.path.join(d, "passes.json")
    if not os.path.exists(plan):
        shutil.rmtree(d, ignore_errors=True)
        passes = workloads.make_passes(workload, seed, base, os.path.join(d, "batches"))
        with open(plan + ".tmp", "w") as f:
            json.dump(passes, f)
        os.replace(plan + ".tmp", plan)
    # Keep the inputs of the last few seeds only.
    parent = os.path.dirname(d)
    old = sorted((os.path.join(parent, x) for x in os.listdir(parent)), key=os.path.getmtime)
    for stale in old[:-3]:
        if stale != d:
            shutil.rmtree(stale, ignore_errors=True)
    passes = json.load(open(plan))
    h = hashlib.sha256()
    for ops in passes:
        for op in ops:
            h.update(json.dumps({k: v for k, v in op.items() if k != "batch"}, sort_keys=True).encode())
            if "batch" in op:
                h.update(open(op["batch"], "rb").read())
    return passes, h.hexdigest()[:16]


def check(workload, records, passes, base, base_digest, sql_by_name, run_dir):
    """Ids of ops whose output is wrong, and a reason per id."""
    bad = {}
    done = [r for r in records if r.get("type") == "op"]
    if workload == "lake_sql":
        replay = oracle.LakeReplay(base)
        for r in done:
            op = passes[r["pass"]][r["idx"]]
            if op["kind"] == "commit":
                replay.apply_batch(op["batch"])   # the JVM checked read-your-write
            elif r["ok"] and not oracle.same_rows(r["rows"], replay.rows(op["oracle"])):
                bad[r["id"]] = f"{r['name']}: rows differ from DuckDB"
        return bad
    wrong = {}
    for r in done:
        if r["kind"] == "query" and r["pass"] == 0 and r["ok"]:
            want = oracle.op_answer(sql_by_name[r["name"]], base, os.path.join(
                WORK, "oracle", base_digest, f"{r['name']}.pkl"))
            got = oracle.read_output(os.path.join(run_dir, "check", r["name"]))
            ok, why = oracle.compare_frames(got, want)
            if not ok:
                wrong[r["name"]] = why
    for r in done:
        if r["kind"] == "query" and r["name"] in wrong:
            bad[r["id"]] = f"{r['name']}: {wrong[r['name']]}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not under {ROOT}; run from the root of a checkout")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation whose jars graft builds against")
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    for d in ("tmp", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    stamp = build()
    t_start = time.time()      # a run that built may take longer; the rest may not
    base = os.path.join(WORK, "data", f"base-{DATA_SEED}")
    base_digest = cached_dir(base, lambda p: gen.base_tables(p, DATA_SEED))
    passes, workload_digest = inputs(a.workload, a.seed, base)
    sql_by_name = oracle_sql(stamp) if a.workload != "lake_sql" else {}
    for name in {op["name"] for op in passes[0] if op["kind"] == "query"}:
        oracle.op_answer(sql_by_name[name], base,   # computed once per lake
                         os.path.join(WORK, "oracle", base_digest, f"{name}.pkl"))

    # A private copy of the sf0.1 lake takes this run's commits.
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    lake = os.path.join(run_dir, "lake")
    shutil.copytree(base, lake)
    plan = {"workload": a.workload, "cores": CORES, "seconds": a.seconds, "trace": bool(a.trace),
            "warm_passes": WARM_PASSES_TRACED if a.trace else WARM_PASSES,
            "min_passes": MIN_PASSES_TRACED if a.trace else MIN_PASSES,
            "lake_dir": lake,
            "work_dir": run_dir, "passes": passes}
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    records_path = os.path.join(run_dir, "records.jsonl")
    log(f"inputs ready in {time.time() - t_start:.1f}s; running {a.workload}")
    java(["--plan", plan_path, "--out", records_path], run_dir, os.path.join(run_dir, "jvm.log"),
         RUN_LIMIT_S - (time.time() - t_start))
    records = [json.loads(line) for line in open(records_path)]
    if not any(r.get("type") == "end" for r in records):
        fail("load generator ended without finishing its passes")

    t_check = time.time()
    bad = check(a.workload, records, passes, base, base_digest, sql_by_name, run_dir)
    log(f"checked in {time.time() - t_check:.1f}s; run took {time.time() - t_start:.1f}s")
    e2e, facts = metrics.end_to_end(records, bad)
    shown = e2e
    if a.trace:
        shown = metrics.per_layer(records, bad)
        if shown["trace.overhead_frac"] is None:
            fail("no untraced pass finished cleanly, so the tracing overhead is unknown")
    digest = hashlib.sha256(f"{base_digest}:{workload_digest}".encode()).hexdigest()[:16]
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "build": stamp,
              "input_digest": digest,
              "end_to_end": e2e, "facts": facts, "errors": sorted(set(bad.values())) + sorted(
                  {r["err"] for r in records if r.get("type") == "op" and not r["ok"]}),
              "per_layer": shown if a.trace else None,
              "ops": [[r["pass"], r["name"], round(r["ms"], 3), r["ok"] and r["id"] not in bad]
                      for r in records if r.get("type") == "op"]}
    with open(os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1)

    for msg in detail["errors"][:10]:
        print(f"FAILED {msg}")
    tail = "median, too few reads for a tail" if facts["tail_is_median"] else f"p{facts['tail_pct']}"
    print(f"input_digest {digest}  reads {facts['reads']}  tail {tail}  "
          f"writes {facts['writes']}  passes {facts['passes']}  attempted {facts['attempted']}  "
          f"failed {facts['failed']}")
    units = {m["name"]: m["unit"] for m in json.load(
        open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end" if not a.trace else "per_layer"]}
    result = {"correct": facts["failed"] == 0, "attempted": facts["attempted"],
              "failed": facts["failed"],
              "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
