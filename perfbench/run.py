#!/usr/bin/env python3
"""The repository benchmark: GBIF product runs and the operator suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (reused
while sources are unchanged), generates the workload's inputs from the
seed, runs the JVM harness (perfbench.Harness), checks every output
against a DuckDB oracle, writes a run record, and prints as its last
stdout line one JSON object: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Exit code 0 only when every operation and check
passed.
"""
import argparse
import fnmatch
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402 -- the benchmark's own modules, next to this file
import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail_setup(msg):
    """Failure before anything could be measured: no result line."""
    print(f"FAILED setup: {msg}")
    sys.exit(2)


def generate(work, workload, seed, spec):
    """Inputs for (workload, seed) under .bench_build/data, reused while the
    generator and sizes are unchanged; other seeds' inputs are removed."""
    sizes = spec["sizes"][workload]
    key = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()
                         + json.dumps(sizes, sort_keys=True).encode()).hexdigest()
    base = os.path.join(work, "data", workload)
    data = os.path.join(base, f"seed{seed}")
    marker = os.path.join(data, ".generated")
    if os.path.exists(marker) and open(marker).read() == key:
        return data, 0.0
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(data)
    t0 = time.time()
    if workload == "corpus_dedup":
        gen.gen_corpus(data, seed, sizes)
    else:
        gen.gen_gbif(data, seed, sizes)
    with open(marker, "w") as f:
        f.write(key)
    return data, time.time() - t0


def bypassed(spec, metric, workload):
    """True when spec.json's layer_links name the metric's layer as not on
    this workload's path."""
    return any(workload in link["bypassed_on"] for link in spec["layer_links"]
               if any(fnmatch.fnmatchcase(metric, p) for p in link["metrics"].split()))


def cpu_ticks():
    """(all, steal) jiffies of the whole machine from /proc/stat, or None.
    Steal is time the hypervisor ran something else on our virtual CPUs."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
        spec = json.load(open(os.path.join(HERE, "spec.json")))
    except (OSError, ValueError) as e:
        fail_setup(f"cannot read BENCHMARK.json / spec.json: {e}")
    if args.workload not in spec["sizes"]:
        fail_setup(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail_setup("no program sources (src/main/scala) in the working directory")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)

    try:
        classpath, build_s, src_hash = build.build(root, work)
    except Exception as e:  # noqa: BLE001 -- a failed build is fatal and named
        fail_setup(f"build: {e}")
    try:
        data, gen_s = generate(work, args.workload, args.seed, spec)
    except Exception as e:  # noqa: BLE001
        fail_setup(f"generation: {e}")
    inputs = gen.describe(data)

    runs = os.path.join(work, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_MASTER", "_JAVA_OPTIONS",
                                                             "JAVA_TOOL_OPTIONS")}
    cmd = (["java"] + spec["jvm_options"] + ["-Xss8m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", args.workload, "--data", data, "--out", run_dir,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--spec", os.path.join(HERE, "spec.json")])
    t0, ticks0 = time.time(), cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    jvm_s, ticks1 = time.time() - t0, cpu_ticks()
    steal_frac = (None if not (ticks0 and ticks1) or ticks1[0] == ticks0[0]
                  else (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]))

    ops, metrics, record = [], {}, {}
    result_path = os.path.join(run_dir, "result.json")
    if code == 0 and os.path.exists(result_path):
        res = json.load(open(result_path))
        ops = [(o["name"], o["ok"], o["error"]) for o in res["ops"]]
        metrics, record = res["metrics"], res["record"]
    else:
        ops.append(("harness", False, f"JVM exit {code}; see {run_dir}/jvm.log"))

    if code == 0:
        t1 = time.time()
        try:
            if args.workload == "corpus_dedup":
                ops += check.check_corpus(data, os.path.join(run_dir, "check"))
            else:
                ops += check.check_gbif(data, os.path.join(run_dir, "product_output"))
        except Exception as e:  # noqa: BLE001
            ops.append(("check", False, f"{type(e).__name__}: {e}"[:400]))
        check_s = time.time() - t1
    else:
        check_s = 0.0

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    reported_0 = []
    out_metrics = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None and args.trace and bypassed(spec, m["name"], args.workload):
            reported_0.append(m["name"])
            v = 0.0
        if v is None or v != v:
            ops.append((f"metric.{m['name']}", False, "not measured"))
            continue
        out_metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    failed = [o for o in ops if not o[1]]
    attempted = len(ops)
    run_record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_commit": git_commit(root), "source_sha256": src_hash,
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "jvm": record, "jvm_cmd": cmd, "inputs": inputs,
        "gen_s": gen_s, "build_s": build_s, "jvm_s": jvm_s, "check_s": check_s,
        "host_steal_frac": steal_frac,
        "attempted": attempted, "failed_ops": [{"name": n, "error": e} for n, _, e in failed],
        "failed_frac": len(failed) / max(1, attempted),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in ops if n.startswith("check")],
        "bypassed_layers_reported_as_0": reported_0, "metrics": out_metrics,
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(run_record, f, indent=1)
    # keep records and spans; drop bulky outputs and inputs' scratch
    for d in ("product_output", "trace_output", "check", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    for name, _, err in failed:
        print(f"FAILED {name}: {err}")
    cold = record.get("cold_pass_s", float("nan"))
    print(f"run record: {os.path.relpath(run_dir, root)}/record.json "
          f"(failed_frac={run_record['failed_frac']:.4f}, cold_pass_s={cold:.3f} s, "
          f"host steal {100 * (steal_frac or 0):.1f}%, "
          f"inputs sha256 {inputs['sha256'][:12]})")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": out_metrics}))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
