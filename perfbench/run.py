#!/usr/bin/env python3
"""graft benchmark runner.

Builds graft and the benchmark from the checkout's sources (sbt, once per
source state), runs one workload in a fresh JVM and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload load_drain --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 15 --trace 1
    python3 perfbench/run.py --smoke          # every workload, small, traced
    python3 perfbench/run.py --record-golden  # re-record perfbench/golden.tsv

Run it from the root of the repository. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD = ".bench_build"
WORK = ".bench_work"
WORKLOADS = ["load_drain", "load_trickle", "query_mix"]
GOLDEN = os.path.join(BENCH, "golden.tsv")
DATA = os.path.join(BENCH, "data", "sf0.01")
SMOKE_DATA = os.path.join(BENCH, "data", "sf0.001")
WARM_DATA = SMOKE_DATA  # the untimed warm-up pass of load_drain and query_mix reads this
# per-layer metric prefixes each workload measures; a traced run reports 0
# for the prefixes only other workloads measure, and fails on any other
# metric it did not produce
LAYERS = {"load_drain": ("streaming.", "sources.", "functions."),
          "load_trickle": ("streaming.",),
          "query_mix": ("operators.", "plans.", "util.")}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap():
    """SPARK_DRIVER_MEM if set, else a quarter of MemTotal, 2g..4g: the
    machine has no swap and the JVM is not alone on it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gb = mem_total_kb() // (4 * 1024 * 1024)
    return f"{min(4, max(2, gb))}g"


def source_files():
    """Every file the build reads, for the build stamp."""
    roots = ["build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.abspath(os.path.join(BUILD, 'tmp'))}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles graft (the repository's own build) and the benchmark; the
    classpath is cached under .bench_build, keyed by a hash of the sources."""
    for need in ("build.sbt", "src/main/scala", os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            die(f"{need} is missing: run from the root of a graft checkout")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt is not on PATH")
    log("building graft and the benchmark (sbt)")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=700)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        die("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jdk():
    p = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return p.stdout.splitlines()[0] if p.stdout else "unknown"


def steal_ticks():
    """Hypervisor steal time so far, in clock ticks (0 where not reported)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def run_jvm(cp, workload, seed, seconds, trace, cores, data, smoke, record_golden):
    work = os.path.abspath(os.path.join(WORK, workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", os.path.abspath(data), "--warm", os.path.abspath(WARM_DATA), "--work", work, "--result", result,
            "--golden", os.path.abspath(GOLDEN), "--cores", str(cores),
            "--smoke", "1" if smoke else "0", "--record-golden", "1" if record_golden else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log(f"{workload}: seed={seed} seconds={seconds} trace={int(trace)} cores={cores} heap={heap()}")
    t0 = time.time()
    steal0 = steal_ticks()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload}: JVM did not finish within {JVM_TIMEOUT_S}s")
    if proc.returncode != 0 or not os.path.exists(result):
        sys.stderr.write("\n".join(l for l in err.splitlines() if " WARN " not in l)[-4000:] + "\n")
        die(f"{workload}: JVM exited with {proc.returncode} and no result")
    with open(result) as f:
        res = json.load(f)
    wall = time.time() - t0
    res["info"]["jvm_process_s"] = f"{wall:.3f}"
    # share of all CPUs the hypervisor gave to other guests during the run:
    # the wall-clock metrics slow down with it (see README, Baseline)
    stolen = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    res["info"]["host_steal_pct"] = f"{100 * stolen / (wall * (os.cpu_count() or 1)):.2f}"
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload on sf0.001, short, traced")
    ap.add_argument("--record-golden", action="store_true",
                    help="record the golden digests from this commit (load_drain and query_mix)")
    a = ap.parse_args()
    if not a.smoke and not a.record_golden and not a.workload:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    spec_path = "BENCHMARK.json"
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is missing: run from the root of the repository")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
    host = {"nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap": heap(), "cores": cores,
            "jdk": jdk(), "git_commit": git_commit(), "source_sha256": source_hash()}

    if a.record_golden:
        for w, data in (("load_drain", DATA), ("query_mix", DATA), ("load_drain", SMOKE_DATA),
                        ("query_mix", SMOKE_DATA)):
            run_jvm(cp, w, 1, 1, False, cores, data, data == SMOKE_DATA, True)
        log(f"recorded {GOLDEN}")
        return
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            res = run_jvm(cp, w, a.seed, 3, True, cores, SMOKE_DATA, True, False)
            log(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
                f"coverage={res['metrics'].get('trace.coverage_pct', 0):.1f}% "
                f"wall={res['info']['jvm_process_s']}s errors={res['errors']}")
            ok = ok and res["correct"]
        sys.exit(0 if ok else 1)

    res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), cores, DATA, False, False)
    got = res["metrics"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    others = tuple(p for w, ps in LAYERS.items() if w != a.workload for p in ps
                   if p not in LAYERS[a.workload])
    metrics = {}
    for m in names:
        name = m["name"]
        if name in got:
            v = got[name]
        elif name.startswith("traced.") and name[len("traced."):] in got:
            v = got[name[len("traced."):]]
        elif a.trace and name.startswith(others):
            v = 0.0  # a layer only another workload exercises
        else:
            res["correct"] = False
            res["errors"].append(f"metric {name} was not measured")
            log(f"{a.workload}: metric {name} was not measured")
            v = 0.0
        metrics[name] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"host": host, "info": res["info"], "errors": res["errors"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
