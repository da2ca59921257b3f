#!/usr/bin/env python3
"""graft benchmark: one command that builds, generates seeded inputs, runs
one workload and prints every metric with its unit, after checking the
workload's outputs.

    python3 perfbench/run.py --workload etl_landing --seed 1 --seconds 5 --trace 0

Run it from the root of a graft checkout. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it is the run's metadata. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD_DIR = os.path.join(".bench_build", "perfbench")
HEAP = "3g"
HEAP_START = "2g"
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
MAX_CORES = 4
RUN_LIMIT_S = 175.0
# JVM flags a SparkSession needs on JDK 17 outside spark-submit
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


def source_stamp(root):
    """Digest of everything the build reads: graft's build and sources and
    the benchmark's own."""
    h = hashlib.sha256()
    paths = ["build.sbt", "perfbench/build.sbt"]
    for top in ["project", "src/main", "perfbench/project", "perfbench/src"]:
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            paths += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for p in sorted(set(paths)):
        full = os.path.join(root, p)
        if os.path.isfile(full):
            h.update(p.encode())
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Xmx2g -Dsbt.server.autostart=false").strip()
    return env


def jar_classpath(cp):
    """The classpath with every class directory packed into a jar: the
    JVM's class-data archive covers jars only."""
    jars = []
    jar_dir = os.path.join(BUILD_DIR, "jars")
    shutil.rmtree(jar_dir, ignore_errors=True)
    os.makedirs(jar_dir)
    for i, p in enumerate(cp.split(os.pathsep)):
        if not os.path.isdir(p):
            jars.append(p)
            continue
        jar = os.path.abspath(os.path.join(jar_dir, f"classes-{i}.jar"))
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(p)):
                for f in sorted(files):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, p))
        jars.append(jar)
    return os.pathsep.join(jars)


def build(root):
    """Compile graft and the benchmark once per source state. Returns the
    runtime classpath and graft's declared oracle SQL. The build also
    records a class-data archive from one toy-size run of every workload,
    which later runs map instead of loading and verifying the same classes."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp(root)
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    oracle_file = os.path.join(BUILD_DIR, "oracles.json")
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(cp_file) and os.path.exists(oracle_file))
    if not fresh:
        for f in (stamp_file, cp_file, oracle_file, ARCHIVE):
            if os.path.exists(f):
                os.remove(f)
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=sbt_env(),
                stdout=subprocess.PIPE, stderr=out, text=True, timeout=600)
            out.write(r.stdout)
        lines = [x for x in r.stdout.splitlines() if x.strip()]
        if r.returncode != 0 or not lines:
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed")
        cp = jar_classpath(lines[-1].strip())
        r = subprocess.run(["java", "-cp", cp, "perfbench.Oracles"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=120)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            fail("could not read graft's oracle SQL")
        oracles = json.loads(r.stdout)
        # every run maps this archive (-Xshare:on), so a build without it fails
        runs = [prepare(oracles, w, seed=0, toy=True) for w in metrics.WORKLOADS]
        args = []
        for run_dir, margs, _, _ in runs:
            args += (["--next"] if args else []) + margs + ["--seconds", "0", "--trace", "0"]
        tmp = runs[0][1][runs[0][1].index("--work") + 1] + "/tmp"
        train_log = os.path.join(BUILD_DIR, "train.log")
        rc = java(cp, "perfbench.Train", args,
                  [f"-Djava.io.tmpdir={tmp}", f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                  train_log, timeout=400)
        for run_dir, _, _, _ in runs:
            shutil.rmtree(run_dir, ignore_errors=True)
        if rc != 0 or not os.path.exists(ARCHIVE):
            sys.stderr.write(open(train_log).read()[-4000:])
            fail("recording the class-data archive failed")
        with open(oracle_file, "w") as f:
            json.dump(oracles, f)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip(), json.load(open(oracle_file)), stamp


def prepare(oracles, workload, seed, toy=False):
    """Generate one run's inputs. Returns (run dir, the JVM's workload
    arguments, generation seconds, expected values)."""
    import inputs
    t0 = time.time()
    run_dir = os.path.join(BUILD_DIR, "runs", f"{workload}-seed{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.abspath(os.path.join(run_dir, "in"))
    work = os.path.abspath(os.path.join(run_dir, "work"))
    os.makedirs(os.path.join(work, "tmp"))
    expected = inputs.generate(workload, seed, in_dir, oracles, toy=toy)
    gen_s = time.time() - t0
    exp_file = os.path.abspath(os.path.join(run_dir, "expected.json"))
    with open(exp_file, "w") as f:
        json.dump(expected, f)
    # one core stays free for the driver thread, the JIT and the GC
    cores = max(1, min((os.cpu_count() or 2) - 1, MAX_CORES))
    args = ["--workload", workload, "--seed", str(seed), "--cores", str(cores),
            "--input", in_dir, "--work", work, "--expected", exp_file,
            "--out", os.path.join(os.path.abspath(run_dir), "out.json")]
    return run_dir, args, gen_s, expected


def java(cp, main, args, jvm_opts, log, timeout):
    """Run a benchmark JVM to completion or until `timeout`; returns its
    exit code (None when it ran out of time)."""
    # the serial collector leaves every core but the client's to Spark and
    # sizes the heap from the allocations alone; a preset heap and metaspace
    # keep resizing collections out of the timed and the memory figures
    cmd = (["java", f"-Xms{HEAP_START}", f"-Xmx{HEAP}", "-XX:+UseSerialGC",
            "-XX:MetaspaceSize=256m", *jvm_opts]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main, *args])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(10.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def launch(cp, oracles, workload, seed, seconds, trace, toy=False):
    """Generate the inputs and run the benchmark JVM on them. Returns
    (generation seconds, expected values, the JVM's result or None)."""
    t_start = time.time()
    run_dir, args, gen_s, expected = prepare(oracles, workload, seed, toy)
    work = args[args.index("--work") + 1]
    # -Xshare:on: a missing or mismatched archive stops the JVM instead of
    # silently starting it without
    jvm_opts = [f"-Djava.io.tmpdir={work}/tmp", f"-XX:SharedArchiveFile={ARCHIVE}",
                "-Xshare:on"]
    log = os.path.join(run_dir, "jvm.log")
    rc = java(cp, "perfbench.Main",
              args + ["--seconds", str(seconds), "--trace", str(trace)],
              jvm_opts, log, RUN_LIMIT_S - (time.time() - t_start))
    out_file = args[args.index("--out") + 1]
    res = None
    if rc == 0 and os.path.exists(out_file):
        res = json.load(open(out_file))
        res["meta"]["cores"] = int(args[args.index("--cores") + 1])
        spans = res["meta"].get("spans_file")
        if spans:
            keep = os.path.join(BUILD_DIR, "spans")
            os.makedirs(keep, exist_ok=True)
            res["meta"]["spans_file"] = shutil.move(
                spans, os.path.join(keep, os.path.basename(spans)))
    else:
        sys.stderr.write(open(log).read()[-4000:])
    shutil.rmtree(run_dir, ignore_errors=True)
    return gen_s, expected, res


def cpu_times():
    """(steal, total) CPU time of the host's CPUs so far, from /proc/stat;
    steal is time the hypervisor gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return (r.stdout.strip() or None) if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    cp, oracles, stamp = build(root)
    toy = os.environ.get("PERFBENCH_SCALE") == "toy"
    gen_s, expected, res = launch(cp, oracles, args.workload, args.seed,
                                  args.seconds, args.trace, toy=toy)
    if res is None:
        fail("the benchmark JVM failed or ran out of time")

    e2e = res["end_to_end"]
    if args.trace:
        specs = metrics.per_layer()
        values = {k: res["per_layer"].get(k, 0.0) for k in specs}
    else:
        specs = metrics.END_TO_END
        values = dict(e2e, setup_s=gen_s - expected["oracle_s"] + e2e["session_s"]
                      + e2e["layout_s"] + e2e["warmup_s"])
    meta = dict(res["meta"])
    cpu_end = cpu_times()
    meta.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "heap": f"{HEAP_START}-{HEAP} serial",
        "load_start": load_start, "load_end": os.getloadavg(),
        "cpu_steal_share": (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1]),
        "git_commit": git_commit(root), "source_sha256": stamp,
        "input_rows": expected["input_rows"], "input_bytes": expected["input_bytes"],
        "inputs_s": gen_s - expected["oracle_s"], "oracle_s": expected["oracle_s"],
        "session_s": e2e["session_s"], "layout_s": e2e["layout_s"],
        "warmup_s": e2e["warmup_s"], "passes": e2e["passes"],
        "call_samples": e2e["call_samples"], "call_p90_s": e2e["call_p90_s"],
    })
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": specs[k][0]} for k in specs},
    }))


if __name__ == "__main__":
    main()
