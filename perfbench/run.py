#!/usr/bin/env python3
"""Benchmark of the CDC -> vector sink -> /query service and its curation
queries. Run from the repository root:

    python3 perfbench/run.py --workload quiet_fleet --seed 1 --seconds 20 --trace 0

Builds the program (`sbt compile`, offline) and this benchmark's Scala
sources when either changed, runs one JVM with the flags build.sbt gives
forked runs, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).

Everything it writes goes under `.bench_build/` in the repository root:
build stamps and classes, `out/<run>/` results and traces, and a scratch
`tmp/` directory that is removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # the JVM's share of the 180 s a run may take; builds are extra


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the repository root (build.sbt and src/main/scala not found)")
    return read(path)


def jars_dir(sbt):
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def jvm_flags(sbt):
    """build.sbt's forked-run javaOptions: the add-opens set and -D flags."""
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    opens = re.findall(r'"(java\.base/[^"]+)"', block.group(1)) if block else []
    if not opens:
        raise SystemExit("perfbench: build.sbt add-opens list not found")
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts = re.search(r"javaOptions \+\+=(.*?)\n\)", sbt, re.S)
    flags += re.findall(r'"(-D[^"]+)"', opts.group(1)) if opts else []
    return flags + [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def program_sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += [os.path.join(ROOT, "build.sbt")] + glob.glob(os.path.join(ROOT, "project", "*.*"))
    return [f for f in files if os.path.isfile(f)]


def bench_sources():
    return sorted(glob.glob(os.path.join(HERE, "src", "*.scala")) + glob.glob(os.path.join(HERE, "tests", "*.scala")))


def sbt_compile():
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_conf = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repo_conf):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_conf}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    logf = os.path.join(BUILD, "sbt.log")
    with open(logf, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: sbt compile failed, see {logf}")


def scalac(jars, classes, out_dir, sources):
    """Compile Scala sources against the program's classes and the jars."""
    compiler = [os.path.join(jars, n) for n in
                ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar")]
    if not all(os.path.isfile(c) for c in compiler):
        raise SystemExit("perfbench: scala-compiler-2.13.17.jar not found beside the program's jars")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cp = ":".join([classes] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    r = subprocess.run(["java", "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-deprecation",
                        "-classpath", cp, "-d", out_dir] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compiling the benchmark failed:\n{r.stdout[-3000:]}")


def build(sbt, jars):
    """Build the program and this benchmark unless both are up to date.
    Returns the classpath to run with."""
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "program.stamp")
    stamp = fingerprint(program_sources())
    if not (os.path.isdir(classes) and os.path.isfile(stamp_file) and read(stamp_file) == stamp):
        t0 = time.time()
        sbt_compile()
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"sbt compile {time.time() - t0:.1f} s")
    sources = bench_sources()
    bench_classes = os.path.join(BUILD, "classes")
    bstamp_file = os.path.join(BUILD, "bench.stamp")
    bstamp = fingerprint(sources) + stamp
    if not (os.path.isfile(bstamp_file) and read(bstamp_file) == bstamp):
        t0 = time.time()
        scalac(jars, classes, bench_classes, sources)
        with open(bstamp_file, "w") as f:
            f.write(bstamp)
        log(f"benchmark compile {time.time() - t0:.1f} s")
    return f"{bench_classes}:{classes}:{jars}/*"


def fixtures_dir():
    """The sf0.01 fixture directory TESTDATA.md names (the curation input)."""
    path = os.path.join(ROOT, "TESTDATA.md")
    m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", read(path)) if os.path.isfile(path) else None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: TESTDATA.md names no readable sf0.01 fixture directory")
    return m.group(1).rstrip("/")


def run_jvm(cp, flags, main_args, work, out, timeout):
    os.makedirs(work, exist_ok=True)
    cmd = ["java", "-cp", cp] + flags + [f"-Djava.io.tmpdir={work}", "perfbench.Main"] + main_args
    logf = os.path.join(out, "jvm.log")
    with open(logf, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the run took longer than {timeout} s, see {logf}")
    text = read(logf)
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited {r.returncode}:\n{text[-3000:]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    sbt = build_sbt()
    jars = jars_dir(sbt)
    cp = build(sbt, jars)
    fixtures = fixtures_dir() if a.trace else None
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(BUILD, "out", tag)
    work = os.path.join(BUILD, "tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_start = time.time()
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores()), "--work", work, "--out", out]
        if fixtures:
            args += ["--fixtures", fixtures]
        run_jvm(cp, jvm_flags(sbt), args, work, out, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = json.loads(read(os.path.join(out, "result.json")))
    attempted, failed = res["attempted"], res["failed"]
    if fixtures:
        import curation_check
        problems = curation_check.compare_all(fixtures, os.path.join(out, "curation"))
        attempted += len(curation_check.queries(os.path.join(out, "curation")))
        failed += len(problems)
        res["problems"] += problems
    for p in res["problems"]:
        log(f"FAILED {p}")
    log(f"run {time.time() - run_start:.1f} s, total {time.time() - start:.1f} s; outputs in {out}")
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["metrics"].items()}
    if any(v["value"] is None or not math.isfinite(v["value"]) for v in metrics.values()):
        raise SystemExit(f"perfbench: a metric is not a finite number: {metrics}")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
