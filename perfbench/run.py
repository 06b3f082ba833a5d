#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ledger_reports|curation_x10>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (once per source tree, under .bench_build/), prepares the inputs,
runs one fresh JVM on local[4] for the workload, checks every response
against perfbench/references.json, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones
of a traced run. A validity record for the run is printed on the line
before and kept under .bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import corpus   # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["ledger_reports", "curation_x10"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH", 2)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}", 2)
    return jars


def build():
    """Compiles program + harness once per distinct source tree."""
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            fail(f"missing source directory {os.path.relpath(top, ROOT)}", 2)
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files.append(os.path.join(HERE, "build.sh"))
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(WORK, exist_ok=True)
    for old in os.listdir(WORK):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()],
                             cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isdir(classes):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {os.path.relpath(log, ROOT)}", 2)
    return classes


def inputs():
    base = os.path.join(HERE, "data", "base")
    if not os.path.isdir(base):
        fail("missing input fixture perfbench/data/base", 2)
    x10 = os.path.join(WORK, "data", "x10")
    corpus.build_x10(base, x10)
    return base, x10


def run_jvm(classes, main_args, tag, timeout=JVM_TIMEOUT_S):
    """Runs graft.perfbench.Main in a fresh JVM with every scratch path
    inside the checkout, passing it its launch time for set-up timing.
    Exits without a result when the JVM fails or overruns `timeout`."""
    tmp = os.path.join(WORK, "tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("scratch", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(tmp, "scratch"))
    env.pop("SPARK_GRAFT_LOCAL_TMPFS", None)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write a perf-data file to the
    # system temp directory, outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens
           + ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main",
              "--work", tmp, "--scratch", os.path.join(tmp, "scratch")] + main_args)
    log_path = os.path.join(WORK, f"{tag}.log")
    launch_ms = int(time.time() * 1000)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], cwd=ROOT,
                                stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM ended with {rc}; log in {os.path.relpath(log_path, ROOT)}")


def cpu_probe():
    """Fixed single-thread CPU probe (seconds); reported, never applied."""
    t0 = time.perf_counter()
    x = 0
    for i in range(500_000):
        x = (x * 6364136223846793005 + i) & 0xFFFFFFFFFFFFFFFF
    return round(time.perf_counter() - t0, 4)


def cpu_jiffies():
    """Host CPU time counters (user .. steal) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of host CPU time stolen by the hypervisor between two
    cpu_jiffies() readings; reported, never applied."""
    if not before or not after or len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return round((after[7] - before[7]) / total, 4) if total > 0 else None


def medium(path):
    """File-system type of the mount holding `path`."""
    best, fs = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, fs = parts[1], parts[2]
    except OSError:
        pass
    return fs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["selftest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="",
                    help="self-test faults, e.g. throw=q44_agg_fixpoint,wrongfp=q70_like_domain")
    args = ap.parse_args()

    refs = os.path.join(HERE, "references.json")
    if not os.path.isfile(refs):
        fail("missing perfbench/references.json", 2)
    classes = build()
    base, x10 = inputs()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    raw_path = os.path.join(WORK, "runs", tag + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)

    load_before, probe_before = os.getloadavg(), cpu_probe()
    jiffies_before = cpu_jiffies()
    run_jvm(classes, ["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--base", base, "--x10", x10, "--refs", refs, "--out", raw_path]
            + (["--inject", args.inject] if args.inject else []), tag)
    jiffies_after = cpu_jiffies()
    load_after, probe_after = os.getloadavg(), cpu_probe()
    with open(raw_path) as fh:
        raw = json.load(fh)

    attempted, failed, samples = metrics.accounting(raw)
    e2e, beyond_p95 = metrics.end_to_end(raw)
    data_dir = x10 if raw["workload"] == "curation_x10" else base
    validity = {
        "workload": raw["workload"], "seed": args.seed, "trace": args.trace,
        "request_order_sha256": raw["request_order_sha256"],
        "gates": raw["gates"], "memos": raw["memos"],
        "runner_requests_per_pass": raw["runners_per_pass"],
        "corpus_rows": corpus.row_counts(data_dir),
        "master": raw["master"], "cores": raw["cores"],
        "shuffle_partitions": raw["shuffle_partitions"],
        "spark_version": raw["spark_version"],
        "scratch_medium": medium(WORK),
        "host_load_before": {"loadavg": load_before, "cpu_probe_s": probe_before},
        "host_load_after": {"loadavg": load_after, "cpu_probe_s": probe_after},
        "host_cpu_steal_share": steal_share(jiffies_before, jiffies_after),
        "passes": len(raw["passes"]), "window_s": raw["window_s"],
        "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 0.0,
        "failures": [f'{r["name"]}: {r["error"]}' for r in raw["requests"] if not r["ok"]][:20],
        "samples": {k: v[2] for k, v in e2e.items()},
        "p95_samples_beyond": beyond_p95,
        "conf_leaks": raw["conf_leaks"],
    }
    if args.trace:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.per_layer(raw).items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    with open(os.path.join(WORK, "runs", tag + ".validity.json"), "w") as fh:
        json.dump({"validity": validity, "metrics": out}, fh, indent=1)
    for k, (v, u, n) in e2e.items():
        print(f"perfbench: {k} = {v:.4f} {u} (n={n})")
    print(f"perfbench: fail_ratio = {validity['fail_ratio']:.4f} ({failed}/{attempted})")
    print("perfbench validity: " + json.dumps(validity, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
