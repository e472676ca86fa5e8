#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run starts one JVM that sets up
the workload, warms it, and measures one window (see `perfbench/README.md`).

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it describes the run
(workload, seed, run kind, commit, host, load, master, heap). The full
result, and in a traced run the spans and per-op layered profile, are
written under `.bench_build/results/`.

`--survey N` runs N traced passes of the workload's gates (or of `--gates`)
with no warm-up and writes every op's layer times and digest; it is how the
gate lists and `expected_digests.txt` were chosen and recorded.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "src", "main", "java")]
HARNESS_SOURCES = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties")]
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_digests.txt")
JVM_TIMEOUT_S = 170
# A fixed heap size keeps the collector from resizing it run by run, which
# otherwise dominates the spread of the peak RSS.
HEAP = "2g"
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    for top in LIB_SOURCES + HARNESS_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(fingerprint, prefix):
    """Compile library + harness with sbt; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = f.read().split("\n", 1)
        if saved[0] == fingerprint and len(saved) == 2:
            return saved[1].strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # The Spark installation the build compiles against: the first
        # spark-submit on PATH that sits next to a jars directory.
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.abspath(d))
            if os.path.isfile(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.run(
            prefix + ["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "-Djna.tmpdir=" + tmp, "-Dsbt.server.autostart=false",
                      "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if proc.returncode != 0 or not lines:
        fail("build failed, see " + log)
    classpath = lines[-1]
    with open(stamp, "w") as f:
        f.write(fingerprint + "\n" + classpath + "\n")
    return classpath


def host_info():
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "nproc": os.cpu_count(), "cpu_model": model}


def private_tmp_prefix():
    """Command prefix that gives a child process (the build, the JVM)
    private, empty tmpfs mounts at /tmp and /dev/shm, which vanish when it
    exits. graft's streaming drains stage sources under /tmp and checkpoint
    under /dev/shm; this keeps every write a run makes out of the shared host
    directories. Empty when the host does not allow a private mount
    namespace."""
    probe = ["unshare", "-m", "--propagation", "private", "true"]
    try:
        if subprocess.run(probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                          timeout=10).returncode != 0:
            return []
    except (OSError, subprocess.SubprocessError):
        return []
    mounts = " && ".join("mount -t tmpfs -o size=2g,mode=1777 perfbench " + d
                         for d in ("/tmp", "/dev/shm"))
    return ["unshare", "-m", "--propagation", "private",
            "sh", "-c", mounts + ' && exec "$@"', "sh"]


def run_jvm(classpath, args, work, log, prefix, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = prefix + [java, "-Xms" + HEAP, "-Xmx" + HEAP,
                    "-Djava.io.tmpdir=" + tmp] + ADD_OPENS + [
        "-cp", classpath, "graft.perfbench.Main"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s, see %s" % (timeout, log))
    if code != 0:
        fail("JVM exited with %d, see %s" % (code, log))


def main():
    t_launch = time.time()
    load1 = os.getloadavg()[0]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="gate digests to check against")
    ap.add_argument("--survey", type=int, default=0, metavar="PASSES")
    ap.add_argument("--gates", help="comma list overriding the workload's gates")
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no graft sources under " + ROOT + "; run from a full checkout")
    if not os.path.isdir(DATA):
        fail("no data under " + DATA)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail("unknown workload %r (have %s)" % (a.workload, ", ".join(workloads)))
    wl = workloads[a.workload]
    with open(bench_json) as f:
        spec = json.load(f)

    fingerprint = source_fingerprint()
    prefix = private_tmp_prefix()
    classpath = build(fingerprint, prefix)
    # Set-up is timed from process start, so a build in this run is not
    # part of it (the first run of a fresh checkout builds).
    t_launch = max(t_launch, time.time())

    cores = os.cpu_count() or 1
    tag = "%s-seed%d-%s" % (a.workload, a.seed,
                            "survey" if a.survey else ("traced" if a.trace else "timed"))
    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--cores", str(cores), "--work", work, "--out", out,
            "--spans", os.path.join(results, tag + ".spans.json"),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--warmup-passes", str(wl["warmup_passes"]),
            "--timed-passes", str(wl["timed_passes"])]
    if wl["kind"] == "gates":
        gates = a.gates or ",".join(wl["gates"])
        args += ["--data", DATA, "--gates", gates]
        if os.path.exists(a.expected):
            args += ["--expected", a.expected]
    else:
        args += ["--text-rows", str(wl["text_rows"]), "--int-rows", str(wl["int_rows"]),
                 "--vec-rows", str(wl["vec_rows"]), "--dim", str(wl["dim"]),
                 "--partitions", str(wl["partitions"])]
    if a.survey:
        args += ["--mode", "survey", "--passes", str(a.survey)]
    run_jvm(classpath, args, work, os.path.join(results, tag + ".log"), prefix,
            None if a.survey else JVM_TIMEOUT_S)
    with open(out) as f:
        res = json.load(f)
    if a.survey:
        print(out)
        return

    r = res["result"]
    timed = r["timed"]
    run = dict(host_info(), workload=a.workload, seed=a.seed,
               kind="traced" if a.trace else "timed", source_sha256=fingerprint,
               load1_start=load1, master=res["master"], private_tmp=bool(prefix),
               jvm_heap_mb=res["jvm_heap_mb"], spark_version=res["spark_version"],
               seconds=a.seconds, warmup_passes=wl["warmup_passes"],
               timed_passes=wl["timed_passes"],
               setup_split_s={
                   "jvm_and_session": r["session_ready_epoch_ms"] / 1000.0 - t_launch,
                   "data": (r["data_ready_epoch_ms"] - r["session_ready_epoch_ms"]) / 1000.0,
                   "warmup": (r["first_timed_epoch_ms"] - r["data_ready_epoch_ms"]) / 1000.0},
               timed_wall_s=timed["wall_s"], op_tail_pct=timed["op_tail_pct"],
               timed_jvm={k: timed[k] for k in ("jit_compile_s", "gc_s",
                                                "classes_loaded", "codegen_compiles")},
               failures=r["warmup"]["failures"] + timed["failures"],
               result_file=os.path.relpath(out, ROOT))
    if a.trace:
        window = r["traced"]["window"]
        got = r["traced"]["metrics"]
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in got:
                value = got[name]
            elif name.startswith("kernel.") and wl["kind"] == "gates" or \
                    name == "build.tbl_s" and wl["kind"] == "kernel":
                value = 0.0  # a layer this workload does not enter
            else:
                fail("traced run did not produce " + name)
            metrics[name] = {"value": value, "unit": m["unit"]}
        run["failures"] += window["failures"]
    else:
        window = timed
        e2e = {
            "setup_s": r["first_timed_epoch_ms"] / 1000.0 - t_launch,
            "ops_per_s": timed["ops_per_s"],
            "op_p50_s": timed["op_p50_s"],
            "op_tail_s": timed["op_tail_s"],
            "cpu_s_per_op": timed["cpu_s_per_op"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"run": run}, sort_keys=True))
    print(json.dumps({
        "correct": not run["failures"],
        "attempted": window["ops"],
        "failed": window["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
