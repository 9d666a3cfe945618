"""graft product-path benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload mailing --seed 0 --seconds 10 --trace 0

Run from the repository root. It builds graft and the harness from source
(perfbench/build.py), then runs the workload in one JVM at local[4], which
first writes seeded copies of the committed sf0.1 inputs. Human-readable
lines go first; the last line of standard output is one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. A traced run also writes its spans to
`.bench_out/`. `--record` rewrites perfbench/expected.properties from the
run's outputs (only meaningful with the default seed, 0).
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("mailing", "corpus")
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classes, work, args, out_log):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Only a heap ceiling, so the heap (and peak RSS) grows as the program
    # needs it. A fixed young generation keeps G1's pause-time sizing of
    # eden, which differs from one JVM to the next, out of the memory
    # figures. -UsePerfData keeps the JVM from writing outside the checkout.
    cmd = (["java", f"-Xmx{HEAP}", "-Xmn1g", "-XX:-UsePerfData"] + opens +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)
    with open(out_log, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def record(fingerprints, seed):
    """Merge this run's output fingerprints into the committed reference."""
    path = os.path.join(HERE, "expected.properties")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = dict(line.strip().split("=", 1) for line in f if "=" in line and not line.startswith("#"))
    known.update(fingerprints)
    with open(path, "w") as f:
        f.write(f"# output fingerprints (rows:digest-sum) of the default seed ({seed})\n")
        for k in sorted(known):
            f.write(f"{k}={known[k]}\n")


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_log = os.path.join(work, "jvm.log")
    try:
        inputs = os.path.join(work, "inputs")
        spans_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(spans_dir, exist_ok=True)
        out = os.path.join(work, "result.json")
        expected = os.path.join(HERE, "expected.properties")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--source", os.path.join(HERE, "inputs"), "--inputs", inputs, "--work", os.path.join(work, "out"), "--out", out,
                "--expected", expected]
        spans = os.path.join(spans_dir, f"spans-{a.workload}-seed{a.seed}.json")
        if a.trace:
            args += ["--spans", spans]
        rc = java(classes, work, args, jvm_log)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: run JVM exited with {rc}\n{tail(jvm_log)}")
        with open(out) as f:
            r = json.load(f)
        with open(jvm_log, errors="replace") as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    print(line.rstrip(), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = dict(r["metrics"])
    if a.record:
        record(r["fingerprints"], a.seed)

    # human-readable report first: every end-to-end metric, the failure
    # share, the sample counts and the ambient load of the timed region
    m["failed_frac"] = r["failed"] / r["attempted"]
    units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    units["failed_frac"] = "fraction"
    for k in list(units):
        v = float("nan") if m[k] is None else m[k]
        print(f"{a.workload:8s} {k:14s} {v:14.4f} {units[k]}")
    s, amb = r["samples"], r["ambient"]
    print(f"{a.workload:8s} samples: timed={s['timed']} warmup={s['warmup']} traced={s['traced']} "
          f"steady={s['steady']} input_rows={s['input_rows']}")
    print(f"{a.workload:8s} iterations_s: warmup={r['warmup_s']} timed={r['timed_s']}")
    print(f"{a.workload:8s} ambient: other_cores={amb['other_cores']:.2f} load_start={amb['load_start']:.2f} "
          f"busy_host={amb['busy_host']}")
    for msg in r["failures"]:
        print(f"{a.workload:8s} FAILED: {msg}")
    if a.trace:
        print(f"{a.workload:8s} spans: {os.path.relpath(spans, ROOT)}")

    # a layer that does not apply to the workload reads 0; a value the JVM
    # could not measure (null) makes the run incorrect
    values, names = (r["layers"], spec["per_layer"]) if a.trace else (m, spec["end_to_end"])
    metrics = {x["name"]: {"value": float("nan") if values.get(x["name"], 0.0) is None
                           else float(values.get(x["name"], 0.0)), "unit": x["unit"]} for x in names}
    finite = all(math.isfinite(v["value"]) for v in metrics.values())
    for v in metrics.values():
        if not math.isfinite(v["value"]):
            v["value"] = 0.0  # keep the line valid JSON; `correct` is false
    print(json.dumps({"correct": r["failed"] == 0 and finite, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
