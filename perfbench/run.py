#!/usr/bin/env python3
"""Benchmark entry point: build the program from this checkout, generate the
workload's inputs from the seed, run the program over them (a traced run
also runs the untraced configuration first, as its baseline), check every
output, and print one JSON line of metrics. See README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_daily", "kernels_sf01", "routing_storm")
# seconds a run may take; a run that builds first also gets the build's time
DEADLINE_S = 170
JVM_HEAP = "2g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
deadline = time.monotonic() + DEADLINE_S


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(code, msg):
    log(f"perfbench: {msg}")
    sys.exit(code)


def left():
    return deadline - time.monotonic()


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        for d, dirs, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt, offline, once per
    source state; the runtime classpath lands in .bench_build."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"
    log("perfbench: building (sbt exportClasspath)")
    t0 = time.monotonic()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=840)
    except subprocess.TimeoutExpired:
        fail(3, "build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(3, "build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    global deadline
    deadline += time.monotonic() - t0
    return open(cp_file).read().strip()


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4], sum(v)  # busy, total jiffies


def own_cpu_s():
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def canary_ms():
    """Fixed single-thread hashing loop: a host-speed reference."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * 65536
    for _ in range(512):
        h.update(block)
    return (time.perf_counter() - t) * 1000


def make_inputs(workload, seed, input_dir):
    import gen
    import random
    import datetime as dt
    truth = None
    if workload == "routing_storm":
        spec = gen.storm(seed)
        gen.write_storm(spec, os.path.join(input_dir, "storm.txt"))
        truth = gen.storm_truth(spec)
    elif workload == "kernels_sf01":
        gen.tables(seed, input_dir)
    else:
        gen.tables(seed, input_dir, names=("orders", "lineitem"))
        start = random.Random(seed).randint(0, gen.ORDER_DAYS - gen.PIPELINE_DAYS)
        days = [(gen.EPOCH + dt.timedelta(days=start + i)).isoformat()
                for i in range(gen.PIPELINE_DAYS)]
        with open(os.path.join(input_dir, "landing.txt"), "w") as f:
            f.writelines(f"{t} {d}\n" for t, d in gen.landing_order(seed, days))
    return truth


def run_jvm(cp, work, args):
    """Run `perfbench.Main` in `work` and return its result file."""
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: no resizing, so collections come at the same points
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--out", out] + args
    # Spark must keep its scratch space in the work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=max(1.0, left() - 15))
    except subprocess.TimeoutExpired:
        fail(4, "the program did not finish in time")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if code != 0:
        fail(4, f"the program exited with {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(2, "no program sources next to the benchmark (build.sbt, src/main/scala)")
    sys.path.insert(0, HERE)
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    try:
        truth = make_inputs(a.workload, a.seed, input_dir)
        canary0 = canary_ms()
        stat0, cpu0, t0 = proc_stat(), own_cpu_s(), time.monotonic()
        args = ["--workload", a.workload, "--seed", str(a.seed), "--input", input_dir,
                "--seconds", str(a.seconds), "--cpus", str(len(os.sched_getaffinity(0)))]

        # timed runs carry no tracing; a traced run first repeats the timed
        # configuration on the same inputs, as its overhead baseline
        runs = [run_jvm(cp, os.path.join(work, f"trace{t}"), args + ["--trace", str(t)])
                for t in range(a.trace + 1)]
        stat1, cpu1, t1 = proc_stat(), own_cpu_s(), time.monotonic()
        hz = os.sysconf("SC_CLK_TCK")
        host = {"canary_ms": (canary0 + canary_ms()) / 2,
                "other_cores": max(0.0, ((stat1[0] - stat0[0]) / hz - (cpu1 - cpu0)) / (t1 - t0))}
        import report
        line = report.build(a.workload, runs, truth, input_dir, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"perfbench: host canary {host['canary_ms']:.2f} ms, "
        f"co-tenant cpu {host['other_cores']:.2f} cores")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
