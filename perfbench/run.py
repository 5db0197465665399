#!/usr/bin/env python3
"""Benchmark entry point: build, make the inputs, run one workload, print JSON.

    python3 perfbench/run.py --workload search|relational|llm_pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the repository's
main sources together with the benchmark (sbt, in perfbench/) and writes
the fixture tables; later runs reuse both while the sources are unchanged.
Everything a run writes goes under $CARGO_TARGET_DIR (default
.bench_build): the build, the fixture, and a per-run work dir holding
the index dir, Spark local and warehouse dirs and the Search tree, which
is deleted when the run ends. The last line of stdout is the result.

    python3 perfbench/run.py --workload relational --record-goldens
re-records that workload's goldens into perfbench/goldens.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SOURCES = os.path.join(ROOT, "src", "main", "scala")
GOLDENS = os.path.join(HERE, "goldens.json")
WORKLOADS = ("search", "relational", "llm_pipeline")
FIXTURE_SCALE = 0.01
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "4g"
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


def source_stamp():
    h = hashlib.sha256()
    roots = [MAIN_SOURCES, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile once per source state; return the runtime classpath."""
    target = os.path.join(build_dir, "sbt")
    cp_file = os.path.join(target, "runtime.classpath")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, PERFBENCH_BUILD=target)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read()


def fixture(build_dir):
    """The fixture tables, written once and reused (they never depend on --seed)."""
    d = os.path.join(build_dir, f"fixture-{FIXTURE_SCALE}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"), d,
                        str(FIXTURE_SCALE)], check=True, timeout=300)
    return d


def load_goldens():
    if not os.path.exists(GOLDENS):
        return {}
    with open(GOLDENS) as f:
        g = json.load(f)
    if g.get("fixture_scale") != FIXTURE_SCALE:
        fail("goldens.json was recorded at another fixture scale")
    return g["queries"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(MAIN_SOURCES, "graft")):
        fail(f"no program sources under {os.path.relpath(MAIN_SOURCES)}; "
             "run from the root of a checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("index", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--cores", str(len(os.sched_getaffinity(0)))]
    if a.workload != "search":
        args += ["--data", fixture(build_dir)]
        goldens = os.path.join(work, "goldens.tsv")
        with open(goldens, "w") as f:
            for k, v in sorted(load_goldens().items()):
                f.write(f"{k}\t{v}\n")
        args += ["--goldens", goldens]
    if a.record_goldens:
        args += ["--record", os.path.join(work, "recorded.tsv")]
    log_conf = os.path.join(work, "log4j2.properties")
    with open(log_conf, "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={log_conf}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines:
            fail(f"benchmark exited with code {r.returncode}")
        result = json.loads(lines[-1])
        if a.record_goldens:
            with open(os.path.join(work, "recorded.tsv")) as f:
                recorded = dict(l.rstrip("\n").split("\t") for l in f if l.strip())
            merged = dict(load_goldens(), **recorded)
            with open(GOLDENS, "w") as f:
                json.dump({"fixture_scale": FIXTURE_SCALE, "queries": dict(sorted(merged.items()))},
                          f, indent=1)
                f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
