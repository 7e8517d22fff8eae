#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload okcupid_tree --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (about two minutes); later calls reuse the
build until a source file changes. Build products and the run's scratch
files stay under `.bench_build/` in the checkout, traces under
`perfbench/out/`. Spark and harness logs go to standard error.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero without printing a result on any failure.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("okcupid_tree", "text_corpus", "events_relational")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, stdout=None):
    """Runs cmd in its own process group; kills the whole group on
    timeout or error and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def source_stamp():
    """Digest of every input of the build: a changed file rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Builds if needed and returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the engine and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    out_path = os.path.join(BUILD, "sbt.out")
    with open(out_path, "wb") as out:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            HERE, BUILD_TIMEOUT_S, stdout=out)
    with open(out_path, encoding="utf-8", errors="replace") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed with code {code}")
    cp = lines[-1]
    entries = cp.split(os.pathsep)
    if not all(os.path.exists(e) for e in entries):
        raise SystemExit(f"sbt did not print a classpath: {cp[:200]}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def java_cmd(cp, tmp, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: in runs this short, C2 compile threads compete with the
    # task threads for the cores and make passes slower and less steady.
    # C1 alone defaults to a 48 MB code cache, which Spark's generated
    # code fills about 45 s into a run; flushing it then slowed the next
    # pass by a third.
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "perfbench.Main"] + main_args)


def fresh_tmp():
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def check_result(line):
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
    return res


def main(argv):
    # a terminated run still reaches run_group's cleanup of its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse_args(argv)
    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and os.path.exists(engine)):
        log(f"no engine sources next to {HERE}: run from a full checkout")
        return 2
    cp = classpath()
    tmp = fresh_tmp()
    main_args = [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--expected", os.path.join(HERE, "expected", "outputs.json"),
        "--out", os.path.join(HERE, "out")]
    try:
        code, out = run_group(java_cmd(cp, tmp, main_args), ROOT,
                              RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if code != 0 or not lines:
        log(f"harness exited with code {code}")
        return 1
    res = check_result(lines[-1])
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
