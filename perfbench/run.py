#!/usr/bin/env python3
"""Vector-serving benchmark for the library in ../src (see NOTES.md).

    python3 perfbench/run.py --workload serve_quant --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 8     # every workload, named metrics

Builds the library and the harness with sbt on first use (offline, into
perfbench/target), then runs one JVM per workload. The JVM prints a report
line and, as the last line of stdout, the result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exits non-zero when any answer is wrong, the run fails, or the library's
sources are missing.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
# Class-data sharing archive of the classes a run loads, dumped once per
# build: it roughly halves the JVM's and Spark's cold start, which would
# otherwise be a third of every run.
CDS_ARCHIVE = os.path.join(HERE, "target", "bench.jsa")
# digest of the sources the classpath was built from (see source_digest)
STAMP = os.path.join(HERE, "target", "bench.stamp")
WORKLOADS = ["serve_quant", "exact_knn", "ingest_compact"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build compiles from, by relative path and
    content: a checkout that is copied or moved (new mtimes, new absolute
    paths) keeps its build, while a changed source forces a new one."""
    h = hashlib.sha1()
    for root in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, or None when it is missing or names a jar that
    does not exist. Entries inside this directory are stored relative to it,
    so the build survives the checkout being moved."""
    if not os.path.exists(CLASSPATH):
        return None
    with open(CLASSPATH) as f:
        entries = [os.path.join(HERE, e) for e in f.read().strip().split(os.pathsep) if e]
    return os.pathsep.join(entries) if entries and all(map(os.path.exists, entries)) else None


def java_bin():
    return os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")


def archive_usable(cp):
    """True when the JVM maps the class-data sharing archive with this
    classpath; it records absolute jar paths, so a moved checkout needs a
    new one."""
    if not os.path.exists(CDS_ARCHIVE):
        return False
    r = subprocess.run([java_bin(), "-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
                        "-XX:-UsePerfData", "-Xlog:disable", "-cp", cp, "-version"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                       timeout=60)
    return r.returncode == 0


def build():
    """Compiles with sbt when the sources differ from the last build or a
    classpath jar is missing, then dumps the class-data sharing archive
    from a toy traced run when the current one does not map."""
    digest = source_digest()
    stamp = None
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = f.read().strip()
    if stamp != digest or classpath() is None:
        sbt = shutil.which("sbt")
        if sbt is None:
            sys.exit("perfbench: sbt not found on PATH")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts = (opts + " -Dsbt.offline=true").strip()
        tmp = os.path.join(HERE, "target", "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # sbt binds a unix socket under $XDG_RUNTIME_DIR (else the temp
        # directory); a socket path is limited to about 100 bytes, which a
        # deep checkout exceeds, so it gets a path relative to the build
        env["XDG_RUNTIME_DIR"] = os.path.relpath(tmp, HERE)
        for f in (CDS_ARCHIVE, STAMP):
            if os.path.exists(f):
                os.remove(f)
        log("building (sbt writeClasspath)")
        try:
            # sbt's output goes to stderr: stdout carries only the result
            r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: build timed out")
        if r.returncode != 0 or classpath() is None:
            sys.exit("perfbench: build failed")
        with open(STAMP, "w") as f:
            f.write(digest + "\n")
    if not archive_usable(classpath()):
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        log("dumping the class-data sharing archive (toy traced run)")
        # the dump's per-class notes (signed jars, old class versions) are not warnings worth reading
        code, _ = run_workload("exact_knn", 1, 2, 1, scale="toy",
                               jvm_flags=[f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", "-Xlog:cds*=off:stderr"])
        if code != 0 or not archive_usable(classpath()):
            if os.path.exists(CDS_ARCHIVE):
                os.remove(CDS_ARCHIVE)
            log("no class-data sharing archive; runs start without it")


def run_workload(workload, seed, seconds, trace, scale="full", inject_fault=False, jvm_flags=None):
    """Runs one workload in its own JVM; returns (exit code, stdout lines)."""
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = classpath()
    java = java_bin()
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    # JVM warnings (an unusable archive, say) go to stderr, never stdout
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
           "-Xlog:all=warning:stderr", *jvm_flags, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--scale", scale]
    if inject_fault:
        cmd.append("--inject-fault")
    # Spark's scratch space stays in the work directory whatever the caller's environment says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_EXECUTOR_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{workload} exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 3, []
    finally:
        shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "stores"), ignore_errors=True)
    lines = out.splitlines()
    # the full report (ledger, host stamp, samples) stays next to the run
    with open(os.path.join(work, "report.json"), "w") as f:
        f.write("\n".join(l for l in lines if l.startswith('{"perfbench"')) + "\n")
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload and list its named metrics")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one answer before it is checked (self-test)")
    a = ap.parse_args()
    if not a.all and a.workload is None:
        ap.error("--workload or --all is required")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"perfbench: library sources not found under {LIB_SRC}")
    build()

    if not a.all:
        code, lines = run_workload(a.workload, a.seed, a.seconds, a.trace, a.scale, a.inject_fault)
        for line in lines:
            print(line)
        sys.exit(code)

    spec = os.path.join(ROOT, "BENCHMARK.json")
    units = {m["name"]: m["unit"] for m in json.load(open(spec))["per_layer"]} \
        if os.path.exists(spec) else {}
    worst = 0
    for w in WORKLOADS:
        code, lines = run_workload(w, a.seed, a.seconds, a.trace, a.scale, a.inject_fault)
        worst = worst or code
        report = next((json.loads(l)["perfbench"] for l in lines if l.startswith('{"perfbench"')), None)
        if report is None:
            print(f"{w}: no report (exit {code})")
            continue
        print(f"{w}: {report['attempted']} ops, {report['failed']} failed, "
              f"error_rate {report['error_rate']}, hot {report['host']['hot']}")
        for name, m in report["named"].items():
            print(f"  {name:28s} {m['value']:>14.6g} {m['unit']:6s} (n={m['samples']})")
        print(f"  {'error_rate':28s} {report['error_rate']:>14.6g} {'ratio':6s} (n={report['attempted']})")
        if a.trace:
            for name, v in report["per_layer"].items():
                print(f"  {name:32s} {v:>14.6g} {units.get(name, '')}")
            print("  ledger: " + json.dumps(report["details"].get("ledger")))
    sys.exit(worst)


if __name__ == "__main__":
    main()
