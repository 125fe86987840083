"""Metrics of one benchmark run, derived from the harness's raw record."""
import statistics

MB = 1e6
PHASES = ("analysis", "optimization", "planning")


def metric(value, unit, note=None):
    m = {"value": value, "unit": unit}
    if note:
        m["note"] = note
    return m


def fingerprint_status(got, exp):
    if exp is None:
        return "no stored fingerprint"
    if "error" in got:
        return "threw: " + got["error"]
    field = next((f for f in ("ordered", "unordered") if f in exp), None)
    if got["rows"] != exp["rows"] or (field and got[field] != exp[field]):
        return f"got {got['rows']} rows {got.get(field)}, want {exp['rows']} rows {exp.get(field)}"
    return "ok"


def end_to_end(raw, expected):
    # every output check of the run must match; a key keeps its first miss
    check = {}
    for fps in raw["fingerprints"]:
        for k, v in fps.items():
            if check.get(k, "ok") == "ok":
                check[k] = fingerprint_status(v, expected.get(k))
    mismatched = sorted(k for k, s in check.items() if s != "ok")
    ops = raw["ops"]
    wall = sum(raw["pass_wall_s"])
    failed = sum(1 for o in ops if not o["ok"] or o["key"] in mismatched)
    ms = sorted(o["ms"] for o in ops)
    n = len(ms)
    # the highest percentile that still has at least 10 samples beyond it
    # (the maximum when there are fewer than 11 samples)
    ti = max(0, n - 11) if n > 10 else n - 1
    st = raw["storage"]
    return {
        "attempted": n, "failed": failed, "check": check, "mismatched": mismatched,
        "metrics": {
            "setup_s": metric(statistics.median(raw["setup_s"]), "s",
                              f"median of {len(raw['setup_s'])} set-ups"),
            "ops_per_s": metric((n - failed) / wall, "1/s", f"{n - failed} ops in {wall:.2f} s"),
            "op_p50_ms": metric(statistics.median(ms), "ms", f"n={n}"),
            "op_tail_ms": metric(ms[ti], "ms", f"p{100 * (ti + 1) / n:.1f}, n={n}"),
            "storage_mb": metric((st["blocks_mem"] + st["blocks_disk"] + st["index"] + st["work"]) / MB,
                                 "MB", "persisted blocks + index root + work roots"),
        },
        "report": {"failed_frac": metric(failed / n, "frac", f"{failed} of {n}")},
    }


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b is not None and a is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def dur(s):
    return s["end"] - s["start"]


def rate(ops, walls):
    return sum(1 for o in ops if o["ok"]) / sum(walls)


def per_layer(raw, cpus):
    tr = raw["trace"]
    spans = tr["spans"]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    passes = len(raw["traced_pass_wall_s"])
    ops, builds, writes = by_kind.get("op", []), by_kind.get("build", []), by_kind.get("write", [])
    jobs_of = lambda s: [c for c in children.get(s["id"], []) if c["kind"] == "job"]
    build_jobs = [j for b in builds for j in jobs_of(b)]
    write_jobs = [j for w in writes for j in jobs_of(w)]
    op_jobs = build_jobs + write_jobs
    stages = [c for j in op_jobs for c in children.get(j["id"], []) if c["kind"] == "stage"]

    def stage_sum(k):
        return sum(s.get(k, 0.0) for s in stages)

    # Catalyst phases of each op's write: the query execution whose
    # analysis started inside the write span.
    cat = {p: 0.0 for p in PHASES}
    phase_iv = {}
    for q in tr["qe"]:
        an = q["phases"].get("analysis")
        if not an:
            continue
        w = next((w for w in writes if w["start"] <= an[0] <= w["end"]), None)
        if w is None:
            continue
        for p in PHASES:
            if p in q["phases"]:
                a, b = q["phases"][p]
                cat[p] += b - a
                phase_iv.setdefault(w["id"], []).append((a, b))
    unattributed = sum(1 for w in writes if w["id"] not in phase_iv)

    # share of op wall time covered by build, Catalyst, SQL execution and
    # job spans
    kids = {w["parent"]: w for w in writes}
    covered = 0.0
    for o in ops:
        iv = [(c["start"], c["end"]) for c in children.get(o["id"], []) if c["kind"] == "build"]
        w = kids.get(o["id"])
        if w:
            iv += phase_iv.get(w["id"], []) + [(c["start"], c["end"]) for c in children.get(w["id"], [])
                                               if c["kind"] in ("job", "sql")]
        covered += union_ms(iv, o["start"], o["end"])
    op_ms = sum(dur(o) for o in ops)

    build_ms = sum(dur(b) for b in builds)
    build_self = sum(dur(b) - union_ms([(j["start"], j["end"]) for j in jobs_of(b)], b["start"], b["end"])
                     for b in builds)
    traced_rate = rate(raw["traced_ops"], raw["traced_pass_wall_s"])
    untraced_rate = rate(raw["repeat_ops"], raw["repeat_pass_wall_s"])

    pr = raw["probes"]
    load = pr["tables_load"]["spans"]
    load_ids = {s["id"] for s in load if s["kind"] == "tables.load" and s["parent"] != 0}
    load_top = [s for s in load if s["kind"] == "tables.load" and s["parent"] == 0]
    st = raw["storage_traced"]
    per_pass = f"per pass, {passes} traced pass(es)"
    m = {
        "operators.build_ms": metric(build_ms / passes, "ms", per_pass),
        "operators.build_jobs": metric(len(build_jobs) / passes, "count", per_pass),
        "operators.build_self_ms": metric(build_self / passes, "ms", "build time not covered by its jobs"),
        "tables.load_ms": metric(sum(dur(s) for s in load_top), "ms", "Tables.load of the 10 tables"),
        "tables.load_jobs": metric(sum(1 for s in load if s["kind"] == "job" and s["parent"] in load_ids),
                                   "count", "jobs launched by the 10 loads"),
    }
    for fam in ("mining", "llm", "rel", "sql"):
        m[f"tables.warm_{fam}_s"] = metric(pr["warm_primed_s"][fam], "s", "primed index, new session")
    for fam in ("mining", "llm", "rel", "sql"):
        m[f"tables.warm_{fam}_cold_s"] = metric(raw["warm_cold_s"][fam], "s",
                                                "empty index, measured when the index was primed")
    m.update({
        "tables.index_mb": metric(st["index"] / MB, "MB"),
        "tables.memo_mb": metric(pr["memo_bytes"] / MB, "MB", "persisted blocks, memory + disk"),
        "catalyst.analysis_ms": metric(cat["analysis"] / passes, "ms", per_pass),
        "catalyst.optimization_ms": metric(cat["optimization"] / passes, "ms", per_pass),
        "catalyst.planning_ms": metric(cat["planning"] / passes, "ms",
                                       f"{per_pass}; {unattributed} writes without a record"),
        "exec.jobs": metric(len(op_jobs) / passes, "count", per_pass),
        "exec.stages": metric(len(stages) / passes, "count", per_pass),
        "exec.tasks": metric(stage_sum("tasks") / passes, "count", per_pass),
        "exec.task_ms": metric(stage_sum("task_ms") / passes, "ms", per_pass),
        "exec.core_busy": metric(stage_sum("task_ms") / (op_ms * cpus), "frac", "task time / (op wall x cores)"),
        "exec.sched_delay_ms": metric(stage_sum("sched_delay_ms") / passes, "ms", per_pass),
        "exec.shuffle_write_mb": metric(stage_sum("shuffle_write_bytes") / MB / passes, "MB", per_pass),
        "exec.shuffle_read_mb": metric(stage_sum("shuffle_read_bytes") / MB / passes, "MB", per_pass),
        "exec.spill_mb": metric(stage_sum("spill_bytes") / MB / passes, "MB", per_pass),
        "exec.gc_ms": metric(stage_sum("gc_ms") / passes, "ms", per_pass),
        "exec.output_mb": metric(stage_sum("output_bytes") / MB / passes, "MB", per_pass),
        "fimi.work_mb": metric(pr["work"][0] / MB, "MB", "work roots after the traced passes"),
        "fimi.work_files": metric(pr["work"][1], "count"),
        "fimi.newsession_failed": metric(sum(1 for v in pr["newsession"].values() if v is not None),
                                         "count", f"of {len(pr['newsession'])} write keys in a new session"),
        "trace.coverage": metric(covered / op_ms, "frac",
                                 "op wall covered by build, Catalyst, SQL execution and job spans"),
        "trace.overhead": metric(traced_rate / untraced_rate - 1, "frac",
                                 f"traced {traced_rate:.3f} vs untraced {untraced_rate:.3f} ops/s, "
                                 f"{passes} pass(es) each, alternated after the timed passes"),
    })
    return m
