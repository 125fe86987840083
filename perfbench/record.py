#!/usr/bin/env python3
"""Records the output fingerprints the benchmark checks against.

Usage: python3 perfbench/record.py        (from the repository root)

1. Dumps every workload key with `graft.Verify` on the benchmark corpus
   and compares the dump with the DuckDB oracle through `tools/check.py`.
   A key whose oracle compare fails stops the recording.
2. Computes each key's fingerprint in two harness runs with different op
   orders. A fingerprint is the row count plus an order-sensitive
   content hash; a key whose order-sensitive hash differs between the
   two runs keeps the order-blind hash, and one whose content differs
   keeps the row count only.
3. Writes `perfbench/fingerprints.json`. Keys with an oracle are labelled
   `oracle`; the oracle-free keys are labelled `regression-only`: their
   fingerprint was taken from the engine itself.
"""
import json
import random
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def harness_fingerprints(cp, keys, seed, cold):
    order = list(keys)
    random.Random(seed).shuffle(order)
    of = run.OUT / f"record-{seed}.order"
    of.write_text(",".join(order) + "\n")
    out = run.OUT / f"record-{seed}.raw.json"
    rc = run.jvm(cp, "run", {"data": run.DATA, "index": run.PRIMED, "cpus": run.CPUS, "order": of,
                             "out": out, "cold": int(cold), "trace": 0, "setup_reps": 1},
                 f"record-{seed}.log", run.PRIMED, 900)
    if rc != 0:
        run.fail(f"fingerprint run exited with {rc}")
    checks = json.loads(out.read_text())["fingerprints"]
    for k in keys:
        if any(c[k] != checks[0][k] for c in checks):
            run.fail(f"{k} fingerprints differ between the set-ups of one run")
    return checks[0]


def main():
    spec = json.loads((HERE / "workloads.json").read_text())
    cp = build.build()
    run.ensure_primed(cp)
    warm_keys = sorted({k for w in spec["workloads"].values() if not w["cold"] for k in w["keys"]})
    cold_keys = sorted({k for w in spec["workloads"].values() if w["cold"] for k in w["keys"]})
    keys = sorted(set(warm_keys) | set(cold_keys))

    dump = run.OUT / "verify"
    rc = run.jvm(cp, "verify", {}, "verify.log", run.OUT / "index-verify", 1800,
                 main_class="graft.Verify", args=[str(run.DATA), str(dump), ",".join(keys)])
    if rc != 0:
        run.fail(f"graft.Verify exited with {rc}")
    chk = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(run.DATA), str(dump)] + keys,
                         stdout=subprocess.PIPE, text=True)
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    passed = set(re.findall(r"^ok\s+(\S+):", chk.stdout, re.M))
    bad = [k for k in keys if k in oracle and k not in passed]
    if bad:
        print(chk.stdout)
        run.fail(f"oracle compare failed for {bad}; nothing recorded")

    runs = [{**harness_fingerprints(cp, warm_keys, s, False), **harness_fingerprints(cp, cold_keys, s, True)}
            for s in (1, 2)]
    rec = {}
    for k in keys:
        a, b = runs[0][k], runs[1][k]
        if "error" in a or "error" in b:
            run.fail(f"{k} threw while fingerprinting: {a.get('error') or b.get('error')}")
        if a["rows"] != b["rows"]:
            run.fail(f"{k} returned {a['rows']} then {b['rows']} rows")
        e = {"rows": a["rows"], "source": "oracle" if k in oracle else "regression-only"}
        if a["ordered"] == b["ordered"]:
            e["ordered"] = a["ordered"]
        elif a["unordered"] == b["unordered"]:
            e["unordered"] = a["unordered"]
            e["note"] = "row order differs between runs; order-blind hash"
        else:
            e["note"] = "content differs between runs; row count only"
        rec[k] = e
    doc = {"about": "row count + content hash of each workload key's result on perfbench/data/sf0.1; "
                    "'oracle' keys matched the DuckDB oracle (tools/check.py) when recorded, "
                    "'regression-only' keys have no oracle and were recorded from the engine",
           "keys": rec}
    (HERE / "fingerprints.json").write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{len(rec)} keys: {sum(e['source'] == 'oracle' for e in rec.values())} oracle-checked, "
          f"{sum(e['source'] != 'oracle' for e in rec.values())} regression-only")


if __name__ == "__main__":
    main()
