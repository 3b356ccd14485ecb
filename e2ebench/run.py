#!/usr/bin/env python3
"""Front end of the end-to-end benchmark.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload pipeline_microbatch --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark from source into `.bench_build/`,
freezes the compiled classes and launches one plain `java` process (no sbt) with a private tmpdir, Spark
local dir, warehouse dir and index cache. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).
A line starting with `# diag` before it carries run diagnostics (loadavg,
CPU steal, a CPU calibration loop at start and end); they are never used to
adjust or discard a number.

Other modes:
    --smoke            run on the small sf0.01 tables (seconds, not minutes)
    --make-digests     regenerate e2ebench/digests.json from the input tables
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_microbatch", "catalog_operators")
E2E = ("setup_s", "latency_p50_s", "throughput_per_s", "retained_heap_mb")
HEAP = "3g"
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the program's own build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: the program's build.sbt names no Spark jars directory")
    return m.group(1)


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_logged(cmd, cwd, env, log, timeout):
    """Runs a child in its own process group; kills the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compiles program + benchmark once per source state; returns the frozen class dir."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    frozen = os.path.join(BUILD, "classes-" + tree_hash(srcs))
    if os.path.exists(os.path.join(frozen, "_FROZEN")):
        return frozen
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", E2EBENCH_SPARK_JARS=spark_jars())
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"], HERE, env, log, 800)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    tmp = frozen + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(os.path.join(HERE, "target", "scala-2.13", "classes"), tmp)
    open(os.path.join(tmp, "_FROZEN"), "w").close()
    os.replace(tmp, frozen)
    return frozen


def java_cmd(classes, tmpdir, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes}:{spark_jars()}/*", "e2ebench.Main"]
            + main_args)


def dataset(scale):
    """The input tables of a scale: copies of the program's graded test data
    kept under e2ebench/data/ (see NOTES.md)."""
    d = os.path.join(HERE, "data", scale)
    if not all(os.path.isfile(os.path.join(d, f"{t}.parquet")) for t in ("events", "documents")):
        fail(f"missing input tables under {d}")
    return d


def cpu_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0  # steal jiffies


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibrate():
    """A fixed CPU loop; its time shows how fast the box is right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1000003
    return round(time.perf_counter() - t, 4)


def dir_bytes(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--make-digests", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}; run from the root of a full checkout")
    classes = build()
    if a.make_digests:
        data, smoke = dataset("sf0.1"), dataset("sf0.01")
        tmp = os.path.join(BUILD, "digest-tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        out = os.path.join(HERE, "digests.json")
        rc = run_logged(java_cmd(classes, tmp, ["--make-digests", out, "--data", data,
                                                "--smoke-data", smoke]),
                        ROOT, dict(os.environ), os.path.join(BUILD, "digests.log"), 3000)
        shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            fail(f"digest run failed (exit {rc})")
        return
    if a.workload is None:
        fail("--workload is required")
    scale = "sf0.01" if a.smoke else "sf0.1"
    data = dataset(scale)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, work = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    diag = {"nproc": os.cpu_count(), "loadavg_start": loadavg(), "calib_start_s": calibrate()}
    steal0 = cpu_stat()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--scale", scale,
            "--digests", os.path.join(HERE, "digests.json"),
            "--trace-out", os.path.join(traces, f"{a.workload}-s{a.seed}.json")]
    log = os.path.join(run_dir, "jvm.log")
    # A run that had to build first may use the first-run allowance.
    first = time.time() - t_start > 5
    limit = max(10, (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.time() - t_start))
    rc = run_logged(java_cmd(classes, tmp, args), ROOT, dict(os.environ), log, limit)
    diag.update(loadavg_end=loadavg(), steal_jiffies=cpu_stat() - steal0, calib_end_s=calibrate())
    result = None
    with open(log) as f:
        lines = f.read().splitlines()
    for line in lines:
        if line.startswith("E2EBENCH_RESULT "):
            result = json.loads(line[len("E2EBENCH_RESULT "):])
    scratch_mb = dir_bytes(tmp) / (1024.0 * 1024.0)
    if rc != 0 or result is None:
        causes = [l for l in lines if "Exception" in l or "Error" in l][:8]
        sys.stderr.write("\n".join(causes + ["..."] + lines[-15:]) + "\n")
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"measured run failed (exit {rc})")
    shutil.rmtree(run_dir, ignore_errors=True)

    diag.update(result["diag"])
    if a.trace:
        metrics = dict(result["layers"])
        metrics["catalog.scratch_left_mb"] = {"value": scratch_mb, "unit": "MB"}
        diag["e2e_traced"] = {k: v["value"] for k, v in result["e2e"].items()}
    else:
        metrics = {k: result["e2e"][k] for k in E2E}
        diag["scratch_left_mb"] = round(scratch_mb, 3)
    print("# diag " + json.dumps(diag, sort_keys=True))
    print(json.dumps({"correct": result["failed"] == 0 and result["attempted"] >= 1,
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
