#!/usr/bin/env python3
"""graft benchmark: fixed-work `service`, `ingest` and `curate` runs.

Run from the root of a checkout:

    python3 perfbench/run.py --workload service --seed 1 --seconds 15 --trace 0

Builds graft's main sources and the benchmark's Scala sources with the
Scala compiler shipped in Spark's jars (into $CARGO_TARGET_DIR, default
.bench_build), runs one benchmark JVM, and prints one JSON line as the
last line of stdout. With --trace 1 it runs an untraced and a traced JVM
from identical state and prints the per-layer metrics of the traced one.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layers  # noqa: E402

# Size of the timed script per --seconds, calibrated so that one run's
# timed phase takes about --seconds on a 4-core host. The script's size
# depends only on --seconds, never on how fast the host runs it.
UNITS_PER_SECOND = {"service": 4 / 15, "ingest": 8 / 15, "curate": 1 / 15}
# fixed driver heap (-Xms = -Xmx)
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    # $SPARK_HOME, else the Spark install whose bin/ on the PATH holds
    # spark-submit next to a jars/ directory
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    jars = next((os.path.join(h, "jars") for h in homes
                 if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if jars is None:
        die("no Spark jars found; set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, srcs, jar):
    """Compiles `srcs` into the jar file `jar`."""
    comp = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    tmp = jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compile failed for {jar}")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)


def jvm_args(classpath, work, extra=()):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *extra]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={work}", "-cp", os.pathsep.join(classpath),
               "graftbench.Main"])


def build(root, jars):
    """Compiles graft and the benchmark unless the build matches the sources."""
    graft_src = sources(os.path.join(root, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not graft_src:
        die("no graft sources under src/main/scala; run from a checkout root")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    h = hashlib.sha256()
    for f in graft_src + bench_src:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "perfbench.stamp")
    graft_jar = os.path.join(out, "perfbench-graft.jar")
    bench_jar = os.path.join(out, "perfbench-bench.jar")
    archive = os.path.join(out, "perfbench.jsa")
    classpath = [bench_jar, graft_jar] + jars
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        os.makedirs(out, exist_ok=True)
        for f in (stamp, archive):
            if os.path.exists(f):
                os.remove(f)
        shutil.rmtree(os.path.join(out, "untraced"), ignore_errors=True)
        scalac(jars, jars, graft_src, graft_jar)
        scalac(jars, [graft_jar] + jars, bench_src, bench_jar)
        # a class-data archive of everything a run loads: each run then
        # maps those classes instead of loading them from 290 jars
        work = os.path.join(root, ".bench_work", f"train-{os.getpid()}")
        os.makedirs(work)
        try:
            r = subprocess.run(jvm_args(classpath, work, ["-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                                                          f"-XX:ArchiveClassesAtExit={archive}"])
                               + ["train", "1", "1", "0", work, os.path.join(work, "out")],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                               cwd=root)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            remove_empty(os.path.dirname(work))
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("training run for the class-data archive failed")
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return classpath, archive, out


def remove_empty(d):
    try:
        os.rmdir(d)
    except OSError:
        pass


def run_jvm(root, build, workload, seed, units, traced, deadline):
    classpath, archive, _ = build
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{traced}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = (jvm_args(classpath, work, [f"-XX:SharedArchiveFile={archive}"])
           + [workload, str(seed), str(units), str(int(traced)), work, out])
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)
            try:
                rc = p.wait(timeout=max(10, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"{workload} run exceeded its time budget")
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            die(f"{workload} JVM exited with {rc}")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        remove_empty(os.path.dirname(work))


def tail_pct(n):
    """Highest whole percentile with at least ten of `n` samples beyond it,
    and never below the median: with fewer than 20 samples no percentile
    above the median has ten beyond it, and the tail is the median."""
    return max(50, (100 * (n - 10)) // n)


def pct(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[k]


def end_to_end(r):
    ops = r["ops"]
    c = r["counters"]
    m, counts = {}, {}

    def put(name, value, unit, n):
        m[name] = {"value": value, "unit": unit}
        counts[name] = n

    st = r["setup"]
    put("setup_s", st["session_s"] + statistics.median(st["prepare_s"]) + st["warmup_s"],
        "s", len(st["prepare_s"]))
    for kind in ("read", "write"):
        xs = [o[2] for o in ops if o[0] == kind and o[3]]
        p50 = statistics.median(xs)
        put(f"{kind}_p50_ms", p50, "ms", len(xs))
        p = tail_pct(len(xs))
        put(f"{kind}_tail_ms", pct(xs, p) if p > 50 else p50, "ms", len(xs))
        counts[f"{kind}_tail_ms"] = f"{len(xs)} (p{p})"
    put("work_per_s", c["work_units"] / r["timed_wall_s"], "1/s", c["work_units"])
    failed = sum(1 for o in ops if not o[3]) + len(r["check_failures"])
    attempted = len(ops) + r["checks_run"]
    put("ok_frac", (attempted - failed) / attempted, "ratio", attempted)
    put("heap_peak_mb", c["heap_live_mb"], "MB", 1)
    put("space_amp", c["space.disk_bytes"] / c["space.logical_bytes"], "ratio", 1)
    return m, counts, attempted, failed


def show(metrics, counts):
    """One line per metric, with its sample count, ahead of the JSON line."""
    for k, v in metrics.items():
        print(f"{k:32s} {v['value']:14.4f} {v['unit']:8s} n={counts.get(k, '')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(UNITS_PER_SECOND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("no graft sources under src/main/scala/graft; run from a checkout root")
    if shutil.which("java") is None:
        die("java not found")
    jars = spark_jars()
    built = build(root, jars)
    # a run must end 180 s after it starts, not counting a first build
    deadline = time.monotonic() + 170
    units = max(1, round(a.seconds * UNITS_PER_SECOND[a.workload]))

    # a traced run is compared with an untraced run of the same seed; one
    # made earlier from this build is reused rather than run again
    cache = os.path.join(built[2], "untraced", f"{a.workload}-{a.seed}-{units}.json")
    if a.trace and os.path.exists(cache):
        with open(cache) as fh:
            plain = json.load(fh)
    else:
        plain = run_jvm(root, built, a.workload, a.seed, units, False, deadline)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(plain, fh)
    metrics, counts, attempted, failed = end_to_end(plain)
    result = plain
    if a.trace:
        result = run_jvm(root, built, a.workload, a.seed, units, True, deadline)
        metrics, everything = layers.per_layer(result, plain, root)
        _, _, attempted, failed = end_to_end(result)
        counts = {k: v["n"] for k, v in everything.items()}
        show({k: v for k, v in everything.items()}, counts)
        print("layers: " + json.dumps(everything))
    else:
        st = plain["setup"]
        print(f"setup: session {st['session_s']:.2f} s, prepare "
              f"{', '.join(f'{x:.2f}' for x in st['prepare_s'])} s, warm-up "
              f"{st['warmup_s']:.2f} s; timed {plain['timed_wall_s']:.2f} s")
        show(metrics, counts)
    for f in result["check_failures"][:20]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
