#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the project and
the benchmark (an sbt build in this directory that depends on the project in
the parent directory) and caches the classpath under perfbench/.work; later
runs start the benchmark JVM directly. Each run starts one fresh JVM, checks
every output against a computation made apart from the program, and prints
one JSON object as the last line of standard output.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

RUN_LIMIT_S = 170        # a run must end within 180 s
BUILD_LIMIT_S = 840      # the first run in a checkout may take 900 s
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    return env


def build():
    """Compile the project and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.join(WORK, "build"), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if p.returncode != 0 or not lines:
        fail("build failed; see " + log + "\n" + "\n".join(lines[-30:]))
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        fail("build did not export a usable classpath; see " + log)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, deadline):
    out = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           "-Dsun.net.httpserver.nodelay=true",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args + ["--work", run_dir, "--out", out]
    env = dict(os.environ)
    # the catalog's chain-dump oracles read these; keep them inside the run
    env["GRAFT_CHAIN_DUMP_DIR"] = os.path.join(run_dir, "chain_dump")
    env["GRAFT_SIG_DUMP_DIR"] = os.path.join(run_dir, "sig_dump")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the benchmark JVM ran past its time limit; see " + log_path)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read().splitlines()[-40:]
        fail(f"the benchmark JVM exited with {p.returncode}\n" + "\n".join(tail))
    with open(out) as f:
        return json.load(f)


KNOWN_FAULTS = ("c67_bool_aggs",)


def oracle_check(fixture_dir, results_dir, deadline):
    """Compares the catalog's results with their DuckDB oracles through the
    project's own checker, dev/check_oracle.py (same columns, same row count,
    same rows in any order, floats to 10 significant digits). Returns (its
    failures, the known faults among them).
    """
    p = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "check_oracle.py"),
                        fixture_dir, results_dir], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=max(5, deadline - time.time()))
    lines = p.stdout.splitlines()
    if not lines or not lines[-1].endswith(" pass"):
        return [f"the oracle check did not finish: {p.stderr.strip()[-500:]}"], []
    bad = [line[2:] for line in lines if line.startswith("\u2717 ") or "EMPTY!" in line]
    named = [b for b in bad if b.split(":")[0] in KNOWN_FAULTS]
    return [b for b in bad if b not in named], named


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the root of a checkout that holds BENCHMARK.json", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft project (build.sbt, src/main/scala/graft) is not in the parent directory", 2)

    cp = build()
    deadline = time.time() + RUN_LIMIT_S - 25  # leave room for the checks below
    if a.workload == "catalog" or a.trace:
        import fixture
        fixture_dir = fixture.ensure(os.path.join(WORK, "fixtures"), a.seed)
    else:
        fixture_dir = None
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if fixture_dir:
        args += ["--fixture", fixture_dir]
    res = run_jvm(cp, args, run_dir, deadline)

    problems = list(res["problems"])
    failed = res["failed"]
    metrics = res["metrics"]
    if a.workload == "catalog" and not a.trace:
        bad, named = oracle_check(fixture_dir, os.path.join(run_dir, "results"), deadline + 20)
        # c67_bool_aggs is counted as failed, not as wrong, when it misses its
        # oracle: a known fault of the program (StockOps.scala, c67_bool_aggs)
        failed += len(named)
        problems += [f"known fault: {n}" for n in named] + bad
        correct = not bad and res["wrong"] == 0
    else:
        correct = res["wrong"] == 0
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None or v["value"] is None:
            fail(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)  # a failed run keeps its directory
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": out}))
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - started:.1f} s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
