#!/usr/bin/env python3
"""The graft benchmark.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One JVM at local[4] with one closed-loop client that issues one op at a
time. An op is one key of `graft.SparkEntry.queries`: the call to the
key's function, then `write.format("noop")` on the result. Workloads,
their frozen key lists and the rules that produced them are in
`perfbench/workloads.json`; the corpus is `perfbench/data/sf0.1`.

The run builds the engine and the harness when their sources changed
(`perfbench/build.py`), primes the benchmark's own index once per build,
then starts the JVM. The seed sets the op order inside each
pass; `--seconds` sets the number of passes from the workload's nominal
pass time. Outside the timed region each key's result is checked against
`perfbench/fingerprints.json`: in set-up, where a warm-up call of every
key fills the memo, or after the timed pass for the cold workload. A
mismatch fails every op of that key. With `--trace 0` the last line of stdout carries the end-to-end
metrics, with `--trace 1` the per-layer metrics of a traced repeat
that follows the same untraced passes in the same JVM.
Every run leaves its raw record (op samples, spans, Spark conf, heap) in
`.bench_build/perfbench/runs/`.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data" / "sf0.1"
PRIMED = OUT / "index"
CPUS = 4
JVM_TIMEOUT_S = 170
JAVA_OPTS = ["-Xmx6g", "-Xss4m", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402


def jvm(classpath, mode, opts, log_name, index, timeout=JVM_TIMEOUT_S,
        main_class="perfbench.GraftBench", args=None):
    """Runs a JVM (the harness unless told otherwise) in its own process
    group, with the benchmark's index, tmpdir and Spark local dirs;
    returns its exit code."""
    tmp = OUT / "tmp"
    work = OUT / "work"
    for d in (tmp, work, OUT / "logs"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=str(index), SPARK_LOCAL_DIRS=str(tmp))
    if args is None:
        args = [mode] + [f"{k}={v}" for k, v in opts.items()]
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main_class] + args
    with open(OUT / "logs" / log_name, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def ensure_primed(classpath):
    """The benchmark's own index, primed once per build outside any run, so
    its artifacts and the cold warm-up times come from the code measured.
    Priming is the cold warm-up of every family; returns its record: the
    build stamp and the warm-up times."""
    stamp = (OUT / "classes" / "STAMP").read_text()
    ready = PRIMED / "READY"
    if not (ready.is_file() and json.loads(ready.read_text()).get("stamp") == stamp):
        if jvm(classpath, "prime", {"data": DATA, "index": PRIMED, "stamp": stamp},
               "prime.log", PRIMED, 800) != 0:
            fail("priming the index failed; see .bench_build/perfbench/logs/prime.log")
    return json.loads(ready.read_text())


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    wl = spec["workloads"].get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload}")
    if not all((DATA / f"{t}.parquet").is_file() for t in spec["tables"]):
        fail(f"corpus missing under {DATA}")
    classpath = build.build()
    ready = ensure_primed(classpath)
    data = DATA
    if wl["cold"]:
        # a copy under its own path has no entries in the primed index
        data = OUT / "cold-data" / DATA.name
        if not all((data / f"{t}.parquet").is_file() for t in spec["tables"]):
            shutil.copytree(DATA, data, dirs_exist_ok=True)
    shutil.rmtree(OUT / "work", ignore_errors=True)
    shutil.rmtree(OUT / "tmp", ignore_errors=True)

    rng = random.Random(a.seed)
    passes = max(1, round(a.seconds / wl["nominal_pass_s"]))
    order = []
    for _ in range(passes):
        keys = list(wl["keys"])
        if not wl["cold"]:  # the cold pipeline keeps its order
            rng.shuffle(keys)
        order.append(keys)
    if a.trace:  # the traced run's probes need the time of later passes
        order = order[:2]
        passes = len(order)
    runs = OUT / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    order_file = runs / f"{tag}.order"
    order_file.write_text("\n".join(",".join(p) for p in order) + "\n")
    raw_file = runs / f"{tag}.raw.json"
    raw_file.unlink(missing_ok=True)
    opts = {"data": data, "primed_data": DATA, "index": PRIMED, "cpus": CPUS, "order": order_file,
            "out": raw_file, "cold": int(wl["cold"]), "trace": a.trace,
            "setup_reps": 1 if a.trace else wl["setup_reps"],
            "probe": ",".join(spec["write_keys"]) if a.trace else ""}
    rc = jvm(classpath, "run", opts, f"{tag}.log", PRIMED)
    if rc != 0 or not raw_file.is_file():
        fail(f"harness exited with {rc}; see .bench_build/perfbench/logs/{tag}.log")
    raw = json.loads(raw_file.read_text())
    raw["warm_cold_s"] = ready["warm_cold_s"]

    expected = json.loads((HERE / "fingerprints.json").read_text())["keys"]
    res = metrics.end_to_end(raw, expected)
    out = {"workload": a.workload, "seed": a.seed, "passes": passes, "stamp": ready["stamp"], "keys": wl["keys"]}
    if a.trace:
        if "trace" not in raw:
            fail("traced run left no trace")
        out["per_layer"] = metrics.per_layer(raw, CPUS)
    (runs / f"{tag}.json").write_text(json.dumps(dict(out, end_to_end=res, conf=raw["conf"], heap=raw["heap"]),
                                                 indent=1))

    for k in res["mismatched"]:
        print(f"output check FAILED for {k}: {res['check'][k]}")
    print(f"workload {a.workload}: {passes} pass(es), {res['attempted']} ops attempted, "
          f"{res['failed']} failed, outputs checked for {len(res['check'])} keys")
    shown = out["per_layer"] if a.trace else res["metrics"]
    for name, m in (shown if a.trace else dict(shown, **res["report"])).items():
        extra = f"  ({m['note']})" if m.get("note") else ""
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}{extra}")
    print(json.dumps({"correct": not res["mismatched"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
