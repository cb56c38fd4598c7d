#!/usr/bin/env python3
"""The benchmark: builds the checked-out program, generates seeded inputs,
runs one workload through the program's public functions, checks every
output and prints the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  Build output, inputs and scratch
files go to `.bench_build/` there.  With `--trace 0` the last stdout line
holds the end-to-end metrics, with `--trace 1` the per-layer metrics of a
traced run; see perfbench/NOTES.md for what each one means.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Inputs per workload (see NOTES.md for why each was chosen).
WORKLOADS = {
    "query_mix": dict(sf=0.005, docs=400, vecs=400, dup_share=0.15, vocab=64,
                      lang_weights=(1, 6, 2, 1, 1), clusters=24, batches=4),
    "store_serve": dict(sf=0.005, docs=1000, vecs=1000, batches=40),
}
CPUS = 2  # Spark threads: leaves the driver, JIT and GC cores of a 4-vCPU box
HEAP = "1g"
DEADLINE_S = 165
BUILD = ".bench_build"
# Spark 4 on JDK 17 outside spark-submit (as in build.sbt's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def spark_jars(root):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(f"{root}/build.sbt").read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(root, jars):
    """Compiles src/main/scala with the benchmark's own sources, by the
    Scala compiler the jar directory ships; cached by source hash."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)) + \
        sorted(glob.glob(f"{root}/perfbench/scala/*.scala"))
    h = hashlib.sha256()
    for p in srcs + [f"{root}/build.sbt"]:
        h.update(p.encode() + open(p, "rb").read())
    dest = f"{root}/{BUILD}/classes-{h.hexdigest()[:16]}"
    if os.path.exists(f"{dest}/.ok"):
        return dest
    t0 = time.time()
    for stale in glob.glob(f"{root}/{BUILD}/classes-*"):
        shutil.rmtree(stale)
    os.makedirs(dest)
    compiler = ":".join(glob.glob(f"{jars}/scala-compiler-*.jar") + glob.glob(f"{jars}/scala-library-*.jar")
                        + glob.glob(f"{jars}/scala-reflect-*.jar"))
    with open(f"{root}/{BUILD}/build.log", "w") as out:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-usejavacp", "-classpath", f"{jars}/*", "-d", dest] + srcs,
                       check=True, stdout=out, stderr=subprocess.STDOUT, timeout=800)
    if os.path.isdir(f"{root}/src/main/resources"):
        shutil.copytree(f"{root}/src/main/resources", dest, dirs_exist_ok=True)
    open(f"{dest}/.ok", "w").close()
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return dest


def inputs(root, workload, seed):
    cfg = WORKLOADS[workload]
    tag = hashlib.sha256(json.dumps([seed, cfg], sort_keys=True).encode()).hexdigest()[:12]
    data = f"{root}/{BUILD}/data/{workload}-{tag}"
    if not os.path.exists(f"{data}/.ok"):
        shutil.rmtree(data, ignore_errors=True)
        gen.write(data, seed, **cfg)
        open(f"{data}/.ok", "w").close()
    sizes = {n: os.path.getsize(f"{data}/{n}") for n in sorted(os.listdir(data)) if n.endswith(".parquet")}
    log(f"inputs seed={seed} sha256={gen.digest(data)} total={sum(sizes.values()) / 1e6:.2f} MB")
    log("  " + " ".join(f"{n.split('.')[0]}={b / 1e6:.2f}MB" for n, b in sizes.items()))
    return data


def run_jvm(root, classes, jars, args, tmp, deadline):
    # a fixed, pre-touched heap: otherwise heap growth makes the RSS high-water mark noise
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:ParallelGCThreads=2",
           "-XX:ConcGCThreads=1",
           # a fixed set of JIT compiler threads, whose CPU time the metrics leave out
           "-XX:-UseDynamicNumberOfCompilerThreads", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main", *args]
    with open(f"{tmp}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=root)
        try:
            proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"workload did not finish in time; see {tmp}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        tail = open(f"{tmp}/jvm.log").read()[-3000:]
        raise SystemExit(f"JVM exited with {proc.returncode}:\n{tail}")


def end_to_end(raw, workload):
    """Per-kind medians of CPU time: every pass runs each operation kind
    once, so one pass costs the sum of the kinds' medians, and a typical
    operation their geometric mean. Wall-clock figures are logged only:
    on a shared host they move with the other tenants' load."""
    wall, cpu = {}, {}
    for s in raw["samples"]:
        wall.setdefault(s["op"], []).append(s["s"])
        cpu.setdefault(s["op"], []).append(s["cpu_s"])
    if not wall or not raw["passes"]:
        raise SystemExit("no operation completed in the measured window")
    wall = {k: stats.median(v) for k, v in wall.items()}
    cpu = {k: stats.median(v) for k, v in cpu.items()}
    samples = [s["s"] for s in raw["samples"]]
    p, tail_v, beyond = stats.tail(samples)
    log(f"{len(raw['passes'])} passes of {len(wall)} operations: "
        + ", ".join(f"{t:.2f}" for t in raw["passes"]) + " s wall")
    log(f"wall clock (logged, not a metric): pass {sum(wall.values()):.3f} s, typical operation "
        f"{stats.geomean(wall.values()):.3f} s, tail p{p:g} of {len(samples)} samples "
        f"({beyond} beyond it) {tail_v:.3f} s")
    log("median wall / CPU s per operation: " + ", ".join(
        f"{k}={wall[k]:.3f}/{cpu[k]:.3f}" for k in sorted(wall, key=lambda k: -cpu[k])))
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "pass_cpu_s": (sum(cpu.values()), "s"),
        "op_cpu_s": (stats.geomean(cpu.values()), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


UNIT_SUFFIXES = (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"),
                 ("_yield", "ratio"), ("_recall", "ratio"), ("_skew", "ratio"), ("_byte", "ratio"))


def unit_of(name):
    """A per-layer metric's unit, from its name's suffix; plain counts otherwise."""
    return next((u for suffix, u in UNIT_SUFFIXES if name.endswith(suffix)), "count")


def per_layer(raw):
    return {k: (v, unit_of(k)) for k, v in sorted(raw["layers"].items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt") and os.path.isdir(f"{root}/src/main/scala")):
        raise SystemExit("run from the root of a checkout: build.sbt and src/main/scala are missing")
    os.makedirs(f"{root}/{BUILD}", exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, jars)
    deadline = time.time() + DEADLINE_S  # the build, done once per checkout, has its own budget
    t_gen = time.time()
    data = inputs(root, a.workload, a.seed)
    t_jvm = time.time()
    tmp = f"{root}/{BUILD}/run-{a.workload}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/out")
    args = ["--workload", a.workload, "--data", data, "--out", f"{tmp}/out",
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(CPUS),
            "--tmp", tmp]
    run_jvm(root, classes, jars, args, tmp, deadline)
    t_check = time.time()
    raw = json.load(open(f"{tmp}/out/raw.json"))
    if not raw["jit_threads"]:
        raise SystemExit("found no JIT compiler threads to leave out of the CPU time")
    log(f"Spark unified memory {raw['unified_mb']:.0f} MB; set-up runs "
        + ", ".join(f"{t:.2f}" for t in raw["setup_s"]) + " s; "
        + ", ".join(f"{k} {v:.1f} s" for k, v in raw["phases"].items()))

    failures = [(f["op"], f["why"]) for f in raw["failures"]]
    attempted = len(raw.get("samples", [])) + raw.get("traced_calls", 0) + len(failures)
    if not a.trace:
        if a.workload == "store_serve":
            n, problems = check.check_stores(data, f"{tmp}/out/dump", raw["store"]["rounds"])
            # the untimed applies; the timed ones are samples already
            attempted += len(raw["store"]["applies"]) - sum(
                s["op"].startswith("apply_") for s in raw["samples"])
        else:
            names = sorted({s["op"] for s in raw["samples"]} | set(raw["oracles"])
                           | {op for op, _ in failures})
            n, problems = check.check_queries(data, f"{tmp}/out/dump", names, raw["oracles"],
                                              {op for op, _ in failures})
        attempted += n
        failures += problems
        metrics = end_to_end(raw, a.workload)
    else:
        metrics = per_layer(raw)
    log(f"phases: inputs {t_jvm - t_gen:.1f} s, JVM {t_check - t_jvm:.1f} s, "
        f"checks {time.time() - t_check:.1f} s")
    for op, why in failures:
        log(f"FAILED {op}: {why}")
    log(f"fail_ratio {len(failures)}/{attempted}")
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(stats.result_line(not failures, max(attempted, 1), len(failures), metrics)))


if __name__ == "__main__":
    main()
