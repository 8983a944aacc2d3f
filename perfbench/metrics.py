"""Metrics from the load generator's records.

The end-to-end metrics come from untraced runs; the per-layer metrics
from the traced passes of a traced run (spans, and the jobs and stages
the benchmark's listener tied to them). A failed op, or one whose output
the oracle rejected, counts against ``ops_ok_frac`` and is left out of
every timing.

Every result carries every end-to-end metric, but not every metric
means something on every workload: ``APPLIES`` names the ones each
workload exists to measure. The others are reported because a result
must hold all of them, and ``compare.py`` marks them as stand-ins.
"""
import statistics

from workloads import PIPELINE_OPS

CORES = 4
READ_KINDS = ("sql", "sparql", "query")
SELF_SPANS = ["op", "operators.build", "catalog.analyze", "sparql.build",
              "catalyst.plan", "exec", "sources.read", "catalogops.upsert_write",
              "catalog.register", "commit.check", "job", "stage"]

SPARK_KEYS = ["jobs", "stages", "stages_skipped", "tasks", "tasks_per_stage", "tasks_failed",
              "task_run_s", "task_cpu_s", "sched_delay_s", "core_util", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "input_mb", "gc_s", "peak_exec_mem_mb",
              "driver_gap_s"]
PASS_KEYS = (["operators.build_s", "operators.build_jobs", "operators.exec_s",
              "operators.exec_jobs", "catalyst.plan_s"]
             + [f"spark.{k}" for k in SPARK_KEYS] + [f"self.{n}_s" for n in SELF_SPANS])

MB = 1024.0 * 1024.0

APPLIES = {
    "lake_sql": {"setup_s", "read_p50_ms", "read_tail_ms", "write_p50_ms", "ops_ok_frac"},
    "pipeline_sf0.1": {"setup_s", "pass_s", "ops_ok_frac"},
}


def quantile(values, p):
    """The p-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n):
    """The highest percentile with at least 10 of n samples beyond it,
    and never below the median."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def ops(records):
    return [r for r in records if r.get("type") == "op"]


def outcome(records, bad_ids):
    """(attempted, failed ids) over every op, warm-up passes included."""
    all_ops = ops(records)
    failed = {r["id"] for r in all_ops if not r["ok"] or r["id"] in bad_ids}
    return len(all_ops), failed


def end_to_end(records, bad_ids):
    """Metrics a user sees, plus the facts they rest on."""
    attempted, failed = outcome(records, bad_ids)
    measured = [r for r in ops(records) if r["measured"]]
    good = [r for r in measured if r["id"] not in failed]
    # A pipeline pass runs each of two operators once, and their
    # latencies differ by about a fifth: the op of a cut-short last pass
    # would tip the median toward one of them, so operator reads come
    # from whole passes only.
    whole = whole_passes(records)
    reads = [r["ms"] for r in good
             if r["kind"] in READ_KINDS and (r["kind"] != "query" or r["pass"] in whole)]
    # A read that failed missed every latency limit: it ranks above all
    # answered reads, at the length of the measured phase.
    end = [r["measure_s"] for r in records if r.get("type") == "end"]
    lost = [1000.0 * end[0] if end else float("inf")] * sum(
        1 for r in measured if r["id"] in failed and r["kind"] in READ_KINDS)
    # A write is a commit (lake_sql), or in pipeline_sf0.1, whose passes
    # commit nothing, a pass's operator output writes together.
    if any(r["kind"] == "query" for r in measured):
        writes = [1000.0 * s for _, s in pass_sums(records, failed, "write_ms")]
    else:
        writes = [r["ms"] for r in good if r["kind"] == "commit"]
    pass_s = [s for _, s in pass_sums(records, failed)]
    setups = [r["setup_s"] for r in records if r.get("type") == "setup"]
    pct = tail_pct(len(reads) + len(lost))
    metrics = {
        "setup_s": _median(setups),
        "pass_s": _median(pass_s),
        "read_p50_ms": _median(reads),
        "read_tail_ms": quantile(reads + lost, pct) if reads else 0.0,
        "write_p50_ms": _median(writes),
        "ops_ok_frac": 1.0 - len(failed) / attempted if attempted else 0.0,
    }
    facts = {"attempted": attempted, "failed": len(failed), "reads": len(reads),
             "writes": len(writes), "passes": len(pass_s), "tail_pct": round(pct, 2),
             # Ten samples beyond the tail need more than 20 reads; with
             # fewer the tail is the median, not a tail.
             "tail_is_median": pct == 50.0,
             "jvm_start_s": _median([r.get("jvm_start_s", 0.0) for r in records
                                     if r.get("type") == "setup"])}
    return metrics, facts


def whole_passes(records):
    """The measured passes that ran all their ops (the measured phase
    stops at an op, so the last pass may be cut short)."""
    end = [r for r in records if r.get("type") == "end"]
    return set(range(end[0]["first_pass"], end[0]["first_pass"] + end[0]["passes"])) if end else set()


def pass_sums(records, failed, field="ms"):
    """(traced, seconds) per whole measured pass: the sum of one
    millisecond field over the pass's ops that have it (by default
    their latency, so the pass's wall time). A pass with a failed op is
    not a pass that did the work and is left out."""
    whole = whole_passes(records)
    by_pass = {}
    for r in ops(records):
        if r["measured"] and r["pass"] in whole:
            by_pass.setdefault(r["pass"], []).append(r)
    return [(rs[0].get("traced", False), sum(r.get(field, 0.0) for r in rs) / 1000.0)
            for rs in by_pass.values() if all(r["id"] not in failed for r in rs)]


def trace_overhead(records, bad_ids):
    """Median traced pass over median untraced pass of one traced run,
    minus 1; None without passes of both kinds."""
    _, failed = outcome(records, bad_ids)
    walls = pass_sums(records, failed)
    traced = [s for t, s in walls if t]
    plain = [s for t, s in walls if not t]
    if not traced or not plain:
        return None
    return statistics.median(traced) / statistics.median(plain) - 1.0


def _union(intervals):
    """Total length covered by a set of (t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def self_times(spans, jobs, stages):
    """Seconds of self time per span name: a span's duration minus the
    part of it its children cover. Jobs are children of the span they
    were submitted under, stages children of their job."""
    children = {}
    for s in spans:
        children.setdefault(("span", s["parent"]), []).append((s["t0"], s["t1"]))
    for j in jobs:
        children.setdefault(("span", j["span"]), []).append((j["t0"], j["t1"]))
    for st in stages:
        children.setdefault(("job", st["job"]), []).append((st["t0"], st["t1"]))
    out = {}
    for kind, name, recs in (("span", None, spans), ("job", "job", jobs), ("stage", "stage", stages)):
        for r in recs:
            kids = children.get((kind, r["id"]), []) if kind != "stage" else []
            key = name or r["name"]
            out[key] = out.get(key, 0.0) + max(0, r["t1"] - r["t0"] - _union(kids)) / 1e9
    return out


def per_layer(records, bad_ids):
    """Per-layer metrics of the traced measured passes of a traced run,
    as medians per pass, per op or per commit; a metric whose layer the
    workload does not reach reads 0. ``trace.overhead_frac`` is None
    when the run has no untraced pass to hold the traced ones against."""
    _, failed = outcome(records, bad_ids)
    spans = [r for r in records if r.get("type") == "span"]
    jobs = [r for r in records if r.get("type") == "job"]
    stages = [r for r in records if r.get("type") == "stage"]
    by_id = {s["id"]: s for s in spans}
    kids, jobs_of, stages_of = {}, {}, {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)
    for st in stages:
        stages_of.setdefault(st["job"], []).append(st)

    def subtree(span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def named(spans_, name):
        return [s for s in spans_ if s["name"] == name]

    def jobs_in(span, deep=True):
        return [j for s in (subtree(span) if deep else [span]) for j in jobs_of.get(s["id"], [])]

    def dur(s):
        return (s["t1"] - s["t0"]) / 1e9

    def self_s(s):
        cover = [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])]
        return max(0, s["t1"] - s["t0"] - _union(cover)) / 1e9

    m = {"trace.overhead_frac": trace_overhead(records, bad_ids)}
    # The cold set-up: session open and catalog registration.
    root = named(spans, "run")
    regs = named(kids.get(root[0]["id"], []), "catalog.register") if root else []
    m["session.open_s"] = _median([dur(s) for s in named(spans, "session.open")])
    m["catalog.register_s"] = _median([dur(s) for s in regs])
    m["catalog.register_jobs"] = _median([len(jobs_in(s)) for s in regs])

    op_span = {s["op"]: s for s in named(spans, "op")}
    measured = [r for r in ops(records)
                if r["measured"] and r["id"] not in failed and r["id"] in op_span]

    def under(rs, name, deep=False):
        """Spans called name under the op spans of rs: direct children or any depth."""
        return [s for r in rs for s in named(
            subtree(op_span[r["id"]]) if deep else kids.get(op_span[r["id"]]["id"], []), name)]

    def of_kind(*kinds):
        return [r for r in measured if r["kind"] in kinds]

    # Commits: re-registration and the source write path, per commit.
    commits = of_kind("commit")
    rereg = under(commits, "catalog.register", deep=True)
    m["catalog.reregister_ms"] = _median([dur(s) * 1e3 for s in rereg])
    m["catalog.reregister_jobs"] = _median([len(jobs_in(s)) for s in rereg])
    m["sources.read_ms"] = _median([r["phase"]["read_ms"] for r in commits])
    m["catalogops.upsert_write_ms"] = _median([r["phase"]["upsert_write_ms"] for r in commits])
    m["sources.bytes_written_mb"] = _median([r["phase"]["bytes_written"] / MB for r in commits])
    m["sources.files_written"] = _median([r["phase"]["files_written"] for r in commits])

    # Reads: analysis, SPARQL translation and planning, per read.
    analyze = under(of_kind("sql"), "catalog.analyze")
    m["catalog.analyze_ms"] = _median([self_s(s) * 1e3 for s in analyze])
    m["catalog.analyze_jobs"] = _median([len(jobs_in(s, deep=False)) for s in analyze])
    m["sparql.build_ms"] = _median([self_s(s) * 1e3 for s in under(of_kind("sparql"), "sparql.build")])
    m["catalyst.plan_ms"] = _median([dur(s) * 1e3 for s in under(of_kind(*READ_KINDS),
                                                                   "catalyst.plan", deep=True)])

    # Per pass: operators, planning, and the Spark execution layer.
    per_pass = []
    for p in sorted({r["pass"] for r in measured} & whole_passes(records)):
        rs = [r for r in measured if r["pass"] == p]
        builds = under(rs, "operators.build")
        execs = [s for b in builds for s in named(kids.get(b["id"], []), "exec")]
        pj = [j for r in rs for j in jobs_in(op_span[r["id"]])]
        ps = [st for j in pj for st in stages_of.get(j["id"], [])]
        wall = sum(r["ms"] for r in rs) / 1000.0
        run_s = sum(st["run_ms"] for st in ps) / 1e3
        q = {
            "operators.build_s": sum(self_s(s) for s in builds),
            "operators.build_jobs": sum(len(jobs_in(s, deep=False)) for s in builds),
            "operators.exec_s": sum(dur(s) for s in execs),
            "operators.exec_jobs": sum(len(jobs_in(s)) for s in execs),
            "catalyst.plan_s": sum(dur(s) for s in under(rs, "catalyst.plan", deep=True)),
            "spark.jobs": len(pj),
            "spark.stages": len(ps),
            "spark.stages_skipped": sum(len(j["stages"]) for j in pj) - len(ps),
            "spark.tasks": sum(st["tasks"] for st in ps),
            "spark.tasks_per_stage": sum(st["tasks"] for st in ps) / len(ps) if ps else 0.0,
            "spark.tasks_failed": sum(st["tasks_failed"] for st in ps),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(st["cpu_ns"] for st in ps) / 1e9,
            "spark.sched_delay_s": sum(st["sched_delay_ms"] for st in ps) / 1e3,
            "spark.core_util": run_s / (wall * CORES) if wall else 0.0,
            "spark.shuffle_read_mb": sum(st["shuffle_read"] for st in ps) / MB,
            "spark.shuffle_write_mb": sum(st["shuffle_write"] for st in ps) / MB,
            "spark.spill_mb": sum(st["spill"] for st in ps) / MB,
            "spark.input_mb": sum(st["input"] for st in ps) / MB,
            "spark.gc_s": sum(st["gc_ms"] for st in ps) / 1e3,
            "spark.peak_exec_mem_mb": max((st["peak_mem"] for st in ps), default=0) / MB,
            # Wall time of the pass's ops with no Spark job running.
            "spark.driver_gap_s": sum(max(0, dur(op_span[r["id"]]) - _union(
                [(j["t0"], j["t1"]) for j in jobs_in(op_span[r["id"]])]) / 1e9) for r in rs),
        }
        selfs = self_times([s for r in rs for s in subtree(op_span[r["id"]])], pj, ps)
        q.update({f"self.{n}_s": selfs.get(n, 0.0) for n in SELF_SPANS})
        per_pass.append(q)
    for k in PASS_KEYS:
        m[k] = _median([q[k] for q in per_pass])

    # Per operator, over its measured executions.
    for name in PIPELINE_OPS:
        rs = [r for r in measured if r["name"] == name]
        builds = under(rs, "operators.build")
        m[f"op.{name}.build_s"] = _median([self_s(s) for s in builds])
        m[f"op.{name}.exec_s"] = _median([dur(s) for b in builds
                                          for s in named(kids.get(b["id"], []), "exec")])
        m[f"op.{name}.jobs"] = _median([len(jobs_in(op_span[r["id"]])) for r in rs])
    return m
