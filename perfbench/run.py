#!/usr/bin/env python3
"""Benchmark entry point: builds graft and the harness from source, runs
one workload in a fresh JVM, and prints the result as one JSON line.

    python3 perfbench/run.py --workload qalert_hourly --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload driver_chains --seed 3 --seconds 10 --trace 0 --repin

Run it from the root of a checkout. Build outputs, generated inputs and
logs go under $CARGO_TARGET_DIR (default .bench_build) in the checkout.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData"]
# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_files(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    j = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not j or not os.path.exists(j):
        fail("no java found (set JAVA_HOME)")
    return j


def compile_tree(java, jars, srcs, out, classpath, build, tag, dep_key=""):
    """scalac `srcs` into `out` unless its stamp matches the sources."""
    key = tree_hash(srcs, extra=dep_key + "|" + " ".join(sorted(os.listdir(jars))))
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build, f"{tag}-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java, "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    t0 = time.time()
    r = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
        fail(f"compiling {tag} failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    print(f"perfbench: built {tag} ({len(srcs)} files) in {time.time() - t0:.1f} s", flush=True)
    return key


def revision(root, graft_key):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "src-sha256:" + graft_key[:16]
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return "git:" + r.stdout.decode().strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + graft_key[:16]


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cmd, log_path, timeout):
    """Runs the harness JVM; returns (exit code, stdout lines). Every line
    but the result line is echoed as it arrives."""
    lines = []
    with open(log_path, "w") as log:
        # spark.local.dir (set inside the checkout) only applies when the
        # environment does not override it
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, start_new_session=True, env=env)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        deadline = time.time() + timeout
        try:
            sel = selectors.DefaultSelector()
            sel.register(p.stdout, selectors.EVENT_READ)
            buf = b""
            while True:
                left = deadline - time.time()
                if left <= 0:
                    stop()
                    p.wait()
                    fail(f"run exceeded {timeout} s; killed (log: {log_path})", 3)
                if sel.select(timeout=min(left, 1.0)):
                    chunk = os.read(p.stdout.fileno(), 65536)
                    if not chunk:
                        break
                    buf += chunk
                    while b"\n" in buf:
                        line, buf = buf.split(b"\n", 1)
                        s = line.decode(errors="replace")
                        lines.append(s)
                        if not s.startswith("perfbench-result "):
                            print(s, flush=True)
            p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            stop()
            p.wait()
            raise
        finally:
            signal.signal(signal.SIGTERM, old)
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the harness's own tests")
    ap.add_argument("--repin", action="store_true",
                    help="record this run's output digests as the pinned ones for (workload, seed); "
                         "a traced run also pins its companion's")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    graft_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft_src, "graft")):
        fail(f"no graft sources under {graft_src}: run from the root of a graft checkout")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the checkout root")
    spec = json.load(open(spec_path))

    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(build, exist_ok=True)
    jars, java = spark_jars(), java_bin()
    graft_classes = os.path.join(build, "classes-graft")
    bench_classes = os.path.join(build, "classes-bench")
    graft_key = compile_tree(java, jars, scala_files(graft_src), graft_classes, "", build, "graft")
    compile_tree(java, jars, scala_files(os.path.join(HERE, "src"), os.path.join(HERE, "test")),
                 bench_classes, graft_classes, build, "harness", dep_key=graft_key)
    cp = os.pathsep.join([bench_classes, graft_classes, os.path.join(jars, "*")])

    work = os.path.join(build, "work", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = [java] + JVM_FLAGS + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false", "-cp", cp]
    os.makedirs(os.path.join(build, "logs"), exist_ok=True)
    try:
        if a.selftest:
            rc, _ = run_jvm(jvm + ["perfbench.SelfTest", "--work", work],
                            os.path.join(build, "logs", "selftest.log"), RUN_TIMEOUT_S)
            sys.exit(rc)
        pins_path = os.path.join(HERE, "digests.json")
        pins = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
        pinned = {} if a.repin else {w: p[str(a.seed)] for w, p in pins.items() if str(a.seed) in p}
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpu_count()),
                "--work", work, "--pins", ",".join(f"{w}={d}" for w, d in sorted(pinned.items())),
                "--revision", revision(root, graft_key)]
        log = os.path.join(build, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
        rc, lines = run_jvm(jvm + args, log, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = [l for l in lines if l.startswith("perfbench-result ")]
    if not res:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the harness exited with {rc} and no result (log: {log})", rc or 4)
    raw = json.loads(res[-1][len("perfbench-result "):])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    declared = set(raw["declared"])
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None and a.trace and m["name"] not in declared:
            v = 0.0  # a layer neither this workload nor its companion calls
        if v is None and not raw["correct"]:
            continue  # a failed run reports what it measured
        if v is None:
            fail(f"metric {m['name']} was not measured", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    missing = sorted(declared - set(raw["metrics"]))
    if missing and raw["correct"]:
        fail(f"declared layer metrics were not recorded: {', '.join(missing)}", 5)
    if a.repin and raw["correct"]:
        stamp = next(l for l in lines if l.startswith("perfbench-stamp "))
        for w, digest in json.loads(stamp[len("perfbench-stamp "):])["digests"].items():
            pins.setdefault(w, {})[str(a.seed)] = digest
        with open(pins_path, "w") as fh:
            json.dump({w: dict(sorted(p.items(), key=lambda kv: int(kv[0]))) for w, p in sorted(pins.items())},
                      fh, indent=1)
            fh.write("\n")
    out = {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
           "failed": int(raw["failed"]), "metrics": metrics}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
