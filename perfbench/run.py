#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the graft library.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the library and the
harness with sbt (classes under perfbench/target, classpath cached under
perfbench/work/build); later runs reuse the build while the sources are
unchanged. Each run starts one JVM, prints its detail line, writes a
record with the host context to perfbench/work/records, and prints as its
last line one JSON object: correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
CDS = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("warehouse", "ann_churn", "corpus_dedup")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def env():
    e = dict(os.environ)
    if not e.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        e["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return e


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from a checkout of the repository: src/main/scala/graft is missing")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "-batch", "-no-colors", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            env=env(), start_new_session=True)
        try:
            text, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(p.pid)
            p.wait()
            fail(f"build timed out; see {log}")
        out.write(text)
    if p.returncode != 0:
        fail(f"build failed; see {log}")
    lines = [l.strip() for l in text.splitlines()
             if l.strip() and not l.startswith("[") and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1]
    # A class data sharing archive of the classes one tiny warehouse round
    # loads: it halves the JVM and Spark start-up of each run.
    if os.path.exists(CDS):
        os.remove(CDS)
    code, out, _ = jvm(cp, ["--train", "1", "--k", "2",
                            "--work", os.path.join(WORK, "train")],
                       BUILD_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(os.path.join(WORK, "train"), ignore_errors=True)
    if code != 0:
        print("\n".join(out), file=sys.stderr)
        fail("the training run after the build failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def steal_seconds():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def kill_group(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def jvm(cp, args, timeout, flags=None):
    """Runs the harness; returns (exit code, stdout lines, peak RSS in MB)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    # A fixed heap and young generation: the collector's adaptive sizing
    # would otherwise differ from run to run. The JIT is the default
    # tiered compiler, as deployed; the set-ups' warm-up passes warm it.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + flags
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    out_path = os.path.join(WORK, "jvm.out")
    with open(out_path, "w") as out, \
            open(os.path.join(WORK, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=log,
                             env=env(), start_new_session=True)
        timer = threading.Timer(timeout, kill_group, (p.pid,))
        timer.start()
        # wait4 gives this child's own resource usage, not the build's
        _, status, usage = os.wait4(p.pid, 0)
        timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        lines = f.read().splitlines()
    # Linux reports ru_maxrss in KiB
    return p.returncode, lines, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload twice at tiny scale and compare")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    started = time.time()  # a run may take 180 s once the build is done
    nproc = len(os.sched_getaffinity(0))
    k = min(4, nproc)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        if a.selftest:
            code, out, _ = jvm(cp, ["--selftest", "1", "--k", str(k),
                                    "--work", run_dir], 900)
            print("\n".join(out))
            sys.exit(code)
        load_before, steal_before = os.getloadavg(), steal_seconds()
        spans = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.jsonl")
        remaining = JVM_TIMEOUT_S - (time.time() - started)
        code, out, rss = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds),
                                  "--trace", str(a.trace), "--k", str(k),
                                  "--work", run_dir, "--spans", spans],
                                 remaining)
        load_after, steal_after = os.getloadavg(), steal_seconds()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    tagged = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in out if " " in l}
    if code != 0 or "result" not in tagged:
        fail(f"the harness failed (exit {code}); see {os.path.join(WORK, 'jvm.log')}")
    detail = json.loads(tagged["detail"])
    result = json.loads(tagged["result"])
    if not a.trace:
        result["metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    host = {"nproc": nproc, "k": k, "seed": a.seed,
            "load_before": load_before, "load_after": load_after,
            "steal_s": round(steal_after - steal_before, 2),
            "trace": a.trace, "seconds": a.seconds}
    record = {"host": host, "detail": detail, "result": result}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print("host " + json.dumps(host))
    print("detail " + json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
