#!/usr/bin/env python3
"""Sizing sweep of the whole query surface.

Usage: python3 perfbench/size.py        (from the repository root)

Runs every key of `graft.SparkEntry.queries` twice on the primed index,
interleaved, and records pass 2 traced: build ms and jobs, write ms,
jobs, tasks, task ms and shuffle bytes per key. Writes
`perfbench/sizing.json`. The workload key lists in
`perfbench/workloads.json` were cut from this file by the rules stated
there, and stay frozen: a later speed-up does not move keys between
workloads.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def summarize(raw):
    spans = raw["trace"]["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    ok = {o["key"]: o["ok"] for o in raw["ops"]}
    rows = {}
    for op in (s for s in spans if s["kind"] == "op"):
        r = {"ok": ok[op["name"]], "op_ms": round(op["end"] - op["start"], 1)}
        for ph in ("build", "write"):
            sp = next((c for c in kids.get(op["id"], []) if c["kind"] == ph), None)
            jobs = [j for j in kids.get(sp["id"], []) if j["kind"] == "job"] if sp else []
            stages = [s for j in jobs for s in kids.get(j["id"], []) if s["kind"] == "stage"]
            r[f"{ph}_ms"] = round(sp["end"] - sp["start"], 1) if sp else None
            r[f"{ph}_jobs"] = len(jobs)
            r[f"{ph}_tasks"] = int(sum(s.get("tasks", 0) for s in stages))
            r[f"{ph}_task_ms"] = int(sum(s.get("task_ms", 0) for s in stages))
            r[f"{ph}_shuffle_bytes"] = int(sum(s.get("shuffle_write_bytes", 0) + s.get("shuffle_read_bytes", 0)
                                               for s in stages))
        rows[op["name"]] = r
    return rows


def main():
    cp = build.build()
    run.ensure_primed(cp)
    raw_file = run.OUT / "sweep.raw.json"
    rc = run.jvm(cp, "sweep", {"data": run.DATA, "index": run.PRIMED, "cpus": run.CPUS,
                               "out": raw_file}, "sweep.log", run.PRIMED, 1500)
    if rc != 0:
        run.fail(f"sweep exited with {rc}")
    rows = summarize(json.loads(raw_file.read_text()))
    doc = {"about": "per-key sweep at sf0.1, local[4], primed index, pass 2 of 2 (traced); "
                    "op = build (the key's function call) + write (noop write of the result)",
           "total_op_s": round(sum(r["op_ms"] for r in rows.values()) / 1e3, 2),
           "keys": dict(sorted(rows.items()))}
    (HERE / "sizing.json").write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{len(rows)} keys, {doc['total_op_s']} s")


if __name__ == "__main__":
    main()
