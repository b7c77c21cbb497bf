#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The script builds the program and the
benchmark's Scala code from source with sbt (only when a source file changed),
generates the input tables once (perfbench/gen.py: the query corpus and the
smaller pipeline corpus), runs one workload in a
fresh JVM from a temporary working directory under perfbench/.work, checks
every timed output against perfbench/expected.tsv and prints, as its last
line, one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1.

`--workload all` runs every workload in turn and prints one result line
each. `--record` re-derives expected.tsv from two recording JVMs.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
EXPECTED = os.path.join(BENCH, "expected.tsv")
ARCHIVE = os.path.join(WORK, "classes.jsa")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
# The pipeline reads a corpus with a tenth of the orders. A warm pass costs
# about the same at either size (Spark job and planning overhead, not data),
# and the cold warm-up pass is shorter, which leaves time in a run for it.
PIPELINE_DIVISOR = 10

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]

# The query_mix set, each query with the module its work exercises: the
# custom operators later work is most likely to change (TopKPerKey with a
# literal and a non-literal k; the driver-ranked x110 and the build-heavy
# x283 graph; salted and key-skew aggregation), association
# rules over baskets, the DataSourceV2 read connector, a canary and a
# stateful stream. One or two per module, so that a run fits the
# run-time budget. The write-path queries (q27, q28, q37, q39) and q36
# write under the program's fixed scratch root outside the checkout, so
# they are left out.
PINNED = {
    "x261_topk_perkey": "plans.TopKPerKey",
    "x279_topk_tiered": "plans.TopKPerKey",
    "x110_trade_pagerank": "ops.Graph",
    "x283_part_pagerank": "ops.Graph",
    "x42_skew_sum_salted": "ops.Skew",
    "x188_key_skew": "ops.Skew",
    "x97_basket_rules": "ext",
    "q26_dsv2_source": "sources",
    "a13_small_qty_parts": "queries.Analytics",
    "s03_stream_stateful": "streaming",
}


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names]
    return out


def build_inputs():
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    projects = [os.path.join(d, "project", n) for d in (ROOT, BENCH)
                for n in ("build.properties", "plugins.sbt")]
    return [p for p in tops + projects if os.path.isfile(p)] + files_under(
        os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def build():
    """Compiles program and benchmark when a source changed; returns (classpath, built)."""
    stamp = digest(build_inputs())
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_LIMIT_S)
    with open(log, "a") as out:
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "classes" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (log: {log})", 3)
    classpath = pack(lines[-1])
    for stale in (ARCHIVE, ARCHIVE + ".tmp"):
        if os.path.exists(stale):
            os.remove(stale)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, True


def pack(classpath):
    """Packs the classpath's class directories into jars under .work/jars,
    because the JVM's class-data archive takes classes from jars only."""
    jars = os.path.join(WORK, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for path in sorted(files_under(entry)):
                    z.write(path, os.path.relpath(path, entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


def inputs():
    """Generates the query corpus and the pipeline's corpus (a tenth of its
    orders) once per generator version; returns both dirs."""
    gen = os.path.join(BENCH, "gen.py")
    dirs = []
    for name, divisor in (("data", 1), ("pipeline", PIPELINE_DIVISOR)):
        d = os.path.join(WORK, f"{name}-" + digest([gen])[:12])
        if not os.path.isdir(d):
            tmp = tempfile.mkdtemp(prefix=f"{name}-", dir=WORK)
            subprocess.run([sys.executable, gen, tmp, str(divisor)], check=True)
            os.rename(tmp, d)
        dirs.append(d)
    return dirs


def jvm(classpath, args, run_dir, limit_s):
    """Runs perfbench.Main in its own process group; returns its stdout.

    The first JVM after a build writes the archive of the classes it loaded
    (class-data sharing) at exit; later ones map it, which takes about 6 s
    off a JVM's first session start."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.isfile(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, "-Xlog:cds=off", *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main", "--work", run_dir] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            fail(f"run exceeded {limit_s:.0f} s", 4)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    if os.path.isfile(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    return out


def run_workload(spec, classpath, data, pipeline_data, workload, seed, seconds, trace, deadline):
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(WORK, "runs"))
    try:
        result_path = os.path.join(run_dir, "result.json")
        out = jvm(classpath, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--pipeline-data", pipeline_data,
            "--expected", EXPECTED,
            "--out", result_path,
            "--spans", os.path.join(WORK, f"spans-{workload}.jsonl")],
            run_dir, max(1.0, deadline - time.time()))
        sys.stdout.write(out)
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] not in missing}
    for name, m in metrics.items():
        print(f"[perfbench] {workload} {name} = {m['value']:.6g} {m['unit']}")
    for name in missing:
        print(f"[perfbench] {workload} metric {name} missing", file=sys.stderr)
    return {"correct": result["failed"] == 0 and result["attempted"] > 0 and not missing,
            "attempted": max(1, result["attempted"]),
            "failed": result["failed"], "metrics": metrics}


def record(classpath, data, pipeline_data):
    """Two recording JVMs; an operation's fingerprint is kept only if all
    four readings agree."""
    runs = []
    for _ in range(2):
        run_dir = tempfile.mkdtemp(prefix="record-", dir=WORK)
        try:
            out = os.path.join(run_dir, "record.tsv")
            jvm(classpath, ["--data", data, "--pipeline-data", pipeline_data, "--record", out,
                            "--queries", ",".join(PINNED)], run_dir, 3600)
            with open(out) as f:
                runs.append({l.split("\t")[0]: l.rstrip("\n").split("\t")[1:]
                             for l in f if l.strip()})
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    rows = ["# id\tfingerprint\tmodule\trole"]
    for op in runs[0]:
        readings = runs[0][op] + runs[1].get(op, [])
        if len(readings) != 4 or "error" in readings or len(set(readings)) > 1:
            fail(f"{op} did not give one fingerprint in four readings: {readings}", 6)
        module, role = (PINNED[op], "pinned") if op in PINNED else ("-", "pipeline")
        rows.append("\t".join([op, readings[0], module, role]))
    with open(EXPECTED, "w") as f:
        f.write("\n".join(rows) + "\n")
    print(f"[perfbench] wrote {EXPECTED}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    started = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_path) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft source tree next to {BENCH}; run from a full checkout", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    classpath, built = build()
    data, pipeline_data = inputs()
    if args.record:
        record(classpath, data, pipeline_data)
        return
    names = [w["name"] for w in spec["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in workloads):
        fail(f"unknown workload {args.workload}; choose from {names + ['all']}", 2)
    print(f"[perfbench] seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"data={os.path.relpath(data, ROOT)}")
    for w in workloads:
        deadline = (started if w == workloads[0] else time.time()) + \
            (BUILD_LIMIT_S if built and w == workloads[0] else RUN_LIMIT_S)
        result = run_workload(spec, classpath, data, pipeline_data, w, args.seed, args.seconds,
                              args.trace, deadline)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
