#!/usr/bin/env python3
"""Benchmark command for the page-stream engine and its query registry.

Usage (from the repository root):
    python3 perfbench/run.py --workload drain|paced|suite --seed N \
        --seconds S --trace 0|1

Builds the program and the harness from source with sbt on first use
(state in .perfbench/), runs one workload in a fresh JVM on local[nproc],
and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
The line before it carries host context: /proc/stat busy and steal
shares over the run, and the heap the JVM was given.
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
STATE = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads: the program's and the harness's."""
    for r in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")]:
        if os.path.isfile(r):
            yield r
        for d, subdirs, files in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)


def source_stamp():
    """Fingerprint of the build's inputs, so a checkout builds once."""
    h = hashlib.sha256()
    for p in build_inputs():
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles program + harness; returns the runtime classpath and the
    program's --add-opens flags, both as the build reports them."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "stamp")
    launch_file = os.path.join(STATE, "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch_file) as g:
                    launch = json.load(g)
                return launch["classpath"], launch["opens"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={tmp}", "compile", "export perfbench/Runtime/fullClasspath",
                 "print perfbench/javaOptions"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    opens = [l[2:] for l in lines if l.startswith("* --add-opens=")]
    if r.returncode != 0 or not cp or not opens:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed, see {log}")
    with open(launch_file, "w") as f:
        json.dump({"classpath": cp[-1], "opens": opens}, f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], opens


def cpu_times():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:9]]
    return [0] * 8


def host_shares(before, after):
    """Busy and steal shares of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    user, nice, system, idle, iowait, irq, softirq, steal = d
    return {"busy_share": (user + nice + system + irq + softirq) / total,
            "steal_share": steal / total}


def heap_mb():
    """A quarter of the host's memory, within [2, 6] GiB: sized here, not
    by the program's build defaults."""
    total_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(6144, total_kb // 4 // 1024))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")

    cp, opens = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(STATE, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(results, f"{tag}.spans.json")
    log = os.path.join(results, f"{tag}.log")
    heap = heap_mb()
    cmd = (["java"] + opens
           + [f"-Xmx{heap}m", f"-Xms{heap}m", f"-Xmn{heap // 2}m", "-XX:+UseParallelGC",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--data", os.path.join(HERE, "data", "sf0.01")]
           + (["--spans", spans] if a.trace else []))

    before = cpu_times()
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            code = None
    wall = time.time() - t0
    host = host_shares(before, cpu_times())
    host.update({"heap_mb": heap, "cores": os.cpu_count(), "wall_s": wall})
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload {a.workload} {'timed out' if code is None else f'exited {code}'}; log {log}")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    figures = res["layers"] if a.trace else res["e2e"]
    if a.trace:
        figures["host.busy_share"] = host["busy_share"]
        figures["host.steal_share"] = host["steal_share"]
    missing = [m["name"] for m in wanted if m["name"] not in figures]
    if missing:
        fail(f"workload {a.workload} did not report {missing}")
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"host": host, "result": res}, f, indent=1)
    print(json.dumps({"host": host, "checks": res["checks"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
