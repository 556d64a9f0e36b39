#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the engine in one JVM.

    python3 perfbench/run.py --workload <llm-curation|crystal-store>
        --seed <n> --seconds <s> --trace <0|1> [--keep <dir>]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed into a fresh temp dir under `.bench_build/tmp/`, launches the
JVM harness (`perfbench.Main`), checks the outputs, deletes the temp dir and
prints two lines: a record with every measured value, and last a result line
`{"correct", "attempted", "failed", "metrics"}` holding the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). `--keep` copies
the record, the raw call log and (traced) the span file to a directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# A run must end within 180 s of its start, the build excepted; the JVM gets
# what is left of that once the inputs are generated, less a margin for the
# checks that follow it.
RUN_DEADLINE_S = 180
CHECK_MARGIN_S = 12
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    files = ["build.sbt", "project/build.properties"]
    files += sorted(glob.glob("src/main/**/*", recursive=True))
    files += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    files += sorted(glob.glob("perfbench/src/**/*", recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f) and "/target/" not in f and "__pycache__" not in f:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, work, timeout):
    for d in ("spark-local", "tmp", "warehouse", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/tmp",
            "-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"harness exceeded {timeout:.0f} s")
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"harness exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the record, call log and span file here")
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"run from the repository root: {need} is missing")
    spec = json.load(open("BENCHMARK.json"))
    cp = build()
    start = time.time()

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "tmp"))
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        gen_info = gen.GENERATORS[a.workload](a.seed, inputs)
        gen_s = time.time() - t0
        cpus = min(4, os.cpu_count() or 1)
        out = os.path.join(work, "out")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--inputs", inputs, "--work",
                     os.path.join(work, "work"), "--out", out, "--cpus", str(cpus)], work,
                timeout=RUN_DEADLINE_S - CHECK_MARGIN_S - (time.time() - start))
        rec, result = metrics.evaluate(a.workload, a.trace == 1, inputs, out, gen_info, spec)
        rec["gen_s"] = gen_s
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            for f in ("calls.jsonl", "spans.jsonl", "meta.json"):
                if os.path.exists(os.path.join(out, f)):
                    shutil.copy(os.path.join(out, f), os.path.join(a.keep, f))
            with open(os.path.join(a.keep, "record.json"), "w") as f:
                json.dump(rec, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
