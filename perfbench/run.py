#!/usr/bin/env python3
"""graft benchmark: run one workload from a seed, check its outputs against
the engine's DuckDB oracle SQL, and print its metrics.

    python3 perfbench/run.py --workload serve --seed 7 --seconds 14 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/. The last stdout line is one JSON
object {correct, attempted, failed, metrics}; the line before it carries the
workload's named metrics, input properties and, for traced runs, span self
times. Exit status is 0 only when every output matched the oracle.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("backfill", "stream", "serve", "registry")
SETUP_REPS = 5
JVM_TIMEOUT_S = 150
JVM_HEAP = "3g"
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath.

    The compiled classes are packed into one jar so the classpath holds jars
    only, and a short serve run records a class-data-sharing archive of the
    classes the JVM loads. Every later run maps that archive instead of
    loading and verifying those classes again, which takes about 5 s off each
    run's JVM start on a 4-vCPU host and keeps a full comparison campaign
    inside its time budget. Set-up times are taken on warm repetitions, so the
    archive does not move setup_s.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if all(map(os.path.exists, (cp_file, stamp_file, ARCHIVE))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    env.setdefault("SPARK_HOME", spark_home())
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".bench_build" in ln and ":" in ln]
    if rc != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (sbt exit {rc}); log in {log}")
    entries = cp[-1].split(":")
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for sub, _, fs in os.walk(d):
                for f in sorted(fs):
                    z.write(os.path.join(sub, f), os.path.relpath(os.path.join(sub, f), d))
    classpath = ":".join([jar] + [e for e in entries if not os.path.isdir(e)])
    record_archive(classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def spark_home():
    """The installation of the first spark-submit on PATH that ships jars."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def record_archive(classpath):
    """Run one short serve workload that dumps the class-data archive; fail
    the build when the run fails or writes no archive."""
    run_dir = os.path.join(BUILD, "runs", "archive")
    try:
        spec_path = prepare(run_dir, "serve", 0, 1.0, 0)
        status, _ = run_jvm(classpath, spec_path, run_dir, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        if status != 0 or not os.path.exists(ARCHIVE):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                print(f.read()[-6000:], file=sys.stderr)
            fail(f"class-data archive not recorded (harness JVM exited with {status})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def dir_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def run_jvm(cp, spec_path, run_dir, extra=()):
    """Run the harness JVM; return (exit status, peak RSS in MB)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           *(extra or [f"-XX:SharedArchiveFile={ARCHIVE}"])]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", spec_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            _, status, usage = os.wait4(proc.pid, 0)
            return -9, usage.ru_maxrss / 1024.0
        time.sleep(0.05)


def prepare(run_dir, workload, seed, seconds, trace):
    """Generate a run's inputs and write its spec; return the spec path."""
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    os.makedirs(input_dir)
    props, extra = gen.generate(workload, seed, seconds, input_dir)
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(props, f)
    spec = dict(workload=workload, seed=seed, seconds=seconds, trace=trace, run_dir=run_dir,
                input_dir=input_dir, setup_reps=SETUP_REPS, cores=len(os.sched_getaffinity(0)),
                **{"registry.corpus": CORPUS}, **extra)
    path = os.path.join(run_dir, "spec.properties")
    with open(path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in spec.items())
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    input_dir = os.path.join(run_dir, "input")
    try:
        spec_path = prepare(run_dir, a.workload, a.seed, a.seconds, a.trace)
        with open(os.path.join(run_dir, "inputs.json")) as f:
            props = json.load(f)
        status, rss_mb = run_jvm(cp, spec_path, run_dir)
        leaked_mb = dir_mb(os.path.join(run_dir, "tmp")) + dir_mb(os.path.join(run_dir, "spark-local"))
        result_path = os.path.join(run_dir, "result.json")
        if status != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                print(f.read()[-6000:], file=sys.stderr)
            fail(f"harness JVM exited with {status}", 3)
        with open(result_path) as f:
            result = json.load(f)
        attempted, failed, known, problems = oracle.CHECKS[a.workload](result, input_dir)
        named, generic, n_ops = metrics.end_to_end(a.workload, result, props)
        late = late_ms(a.workload, result["samples"])
        detail = dict(workload=a.workload, seed=a.seed, inputs=props,
                      metrics={k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                      operations=n_ops,
                      known_failures={k: dict(count=n, defect=oracle.KNOWN_DEFECTS[k])
                                      for k, n in known.items() if n},
                      problems=problems[:20], tmp_leaked_mb=leaked_mb, gen_late_max_ms=late)
        detail["metrics"]["failed_share"] = {"value": failed / max(attempted, 1), "unit": "share"}
        detail["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        if a.trace:
            spans = result["trace"]["spans"]
            out = metrics.per_layer(a.workload, result, n_ops, leaked_mb, late)
            detail["self_ms"] = metrics.self_times(spans)
            detail["exec_task_ms_by_span"] = metrics.exec_by_layer(spans, result["trace"]["counters"])
            report = {k: {"value": v, "unit": layer_unit(k)} for k, v in out.items()}
            keep_trace(a, result)
        else:
            report = {k: {"value": v, "unit": u} for k, (v, u) in generic.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = not problems
    print(json.dumps(detail))
    print(json.dumps(dict(correct=correct, attempted=attempted, failed=failed, metrics=report)))
    sys.exit(0 if correct else 1)


def late_ms(workload, samples):
    """How late the open-loop generator (stream) or writer (serve) ran."""
    if workload == "stream":
        return max(f["landed_ms"] - f["due_ms"] for f in samples["landed"] if f["phase"] == "open")
    if workload == "serve" and samples["writes"]:
        return max(w["start_ms"] - w["due_ms"] for w in samples["writes"])
    return 0.0


def layer_unit(name):
    units = {"_ms": "ms", "_s": "s", "_mb": "MB", "_pct": "%", "_ratio": "ratio", "_amp": "ratio"}
    return next((u for suffix, u in units.items() if name.endswith(suffix)), "count")


def keep_trace(a, result):
    """Spans stay in memory in the JVM and are written out at exit."""
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{a.workload}-s{a.seed}.json"), "w") as f:
        json.dump(result["trace"], f)


if __name__ == "__main__":
    main()
