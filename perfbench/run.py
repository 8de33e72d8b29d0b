#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload suite|neardup --seed N \
      --seconds S --trace 0|1 [--smoke] [--record-refs]

Builds the harness (perfbench/harness, which depends on the root build)
with sbt when its sources changed, generates the workload's input under
perfbench/work/data when it is missing (the harness makes the corpus from
--seed itself, after its cold set-up), runs the harness in one JVM at
local[nproc], and prints as its last line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The harness's full record, with the stamp,
distributions and, when traced, per-query rows and spans, is written to
perfbench/work/out/<workload>-seed<N>-trace<T>.json.

--smoke runs the same path on tiny inputs; --record-refs adds or replaces
the reference digests of this run's queries (never to make a failing query
pass). Exit codes:
0 ok, 1 harness failed or metrics missing, 2 nothing to build here,
3 timed out.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
HARNESS = os.path.join(BENCH, "harness")
sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402

# Inputs: the scale of the generated table set (lineitem ~ 6M x sf rows)
# every workload sets up on, and for a corpus workload the number of
# documents of the corpus the harness makes from the run's seed.
TABLES_SF, SMOKE_SF = "0.01", "0.001"
CORPUS_DOCS, SMOKE_DOCS = {"neardup": 10000}, 1000
DATA_SEED = 42
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the harness build depends on."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256(ROOT.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the root build and the harness; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    stamp_f, cp_f = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_hash()
    if os.path.exists(stamp_f) and os.path.exists(cp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                          "export harness/Runtime/fullClasspath"],
                         HARNESS, env, fh, BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1] or lines[-1].startswith("["):
        fail(1, f"build failed (exit {rc}); see {log}")
    with open(cp_f, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip(), stamp


def run_bounded(cmd, cwd, env, stdout, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True, text=True)
    try:
        p.communicate(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def tables_dir(sf):
    d = os.path.join(WORK, "data", f"tables_sf{sf}_d{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_READY")):
        gen_tables.generate(d, float(sf), DATA_SEED)
        open(os.path.join(d, "_READY"), "w").close()
    return d


def heap():
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def commit(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + stamp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-refs", action="store_true")
    a = ap.parse_args()

    spec_f = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, f"no graft sources under {ROOT}; nothing to benchmark")
    spec = json.load(open(spec_f))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(2, f"unknown workload {a.workload}")

    cp, stamp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    for d in ("tmp", "dump", "out", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tables = tables_dir(SMOKE_SF if a.smoke else TABLES_SF)
    docs = (SMOKE_DOCS if a.smoke else CORPUS_DOCS[a.workload]) if a.workload in CORPUS_DOCS else 0
    corpus = os.path.join(WORK, "data", f"corpus_n{docs}_seed{a.seed}") if docs else ""
    artifact = os.path.join(
        WORK, "out", f"{a.workload}{'-smoke' if a.smoke else ''}-seed{a.seed}-trace{a.trace}.json")
    # reference digests belong to the table set
    refs = "" if docs else os.path.join(BENCH, "refs", os.path.basename(tables) + ".json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_DUMP_BASE=os.path.join(WORK, "dump"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"))
    cmd = ["java", f"-Xmx{heap()}", "--add-modules=jdk.incubator.vector",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--tables", tables, "--corpus", corpus, "--docs", str(docs),
            "--refs", refs,
            "--record-refs", "1" if a.record_refs else "0", "--artifact", artifact,
            "--cpus", str(os.cpu_count() or 1),
            "--commit", commit(stamp), "--smoke", "1" if a.smoke else "0"]
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=None,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(3, f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(1, f"harness exited {p.returncode} after {time.time() - t0:.1f} s without a result")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    got = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if not a.trace:
                fail(1, f"metric {m['name']} missing from the harness result")
            v = 0.0  # a layer the workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: record written to {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
