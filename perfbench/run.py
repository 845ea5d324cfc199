#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 12 --trace 0

`--workload all` runs every workload in turn and prints one result line each.

Builds graft and the benchmark with sbt when their sources changed since the
last build, writes the workload's input tables once per build, then runs
the workload in a fresh JVM. All outputs (JVM flags and classpath, tables,
per-run scratch, logs, span files) go under $CARGO_TARGET_DIR, or
.bench_build when that is unset, inside the checkout. See
perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("uniform", "clustered")
# one run, its table generation included
RUN_TIMEOUT_S = 170
# a fixed heap (-Xms = -Xmx): a heap that grows while the run measures
# makes the young collections, and so every timing, depend on how far it
# has grown. live_mb is read after full collections, so the fixed size does
# not enter it.
HEAP = "3g"
BUILD_TIMEOUT_S = 840
# bulky per-run inputs and artifacts, deleted once the run has reported
RUN_SCRATCH = ("serve", "knn", "index", "tmp", "spark-local",
               "spark-warehouse", "metastore_db")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def out_base():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_fingerprint():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout. Returns
    the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(base):
    """Compile graft and the benchmark; return the JVM flags (graft's own,
    from its build) and the runtime classpath."""
    launch_file = os.path.join(base, "launch.json")
    fp_file = os.path.join(base, "fingerprint.txt")
    fp = source_fingerprint()
    if os.path.isfile(launch_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(launch_file) as g:
                    launch = json.load(g)
                return launch["opts"], launch["cp"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(base, "build.log")
    t0 = time.time()
    # the launch task prints the JVM flags and the classpath on stdout
    with open(log_path, "w") as lf:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "perfbench/launch"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("build timed out")
        lf.write(out)
    jvm_opts = [l[len("PERFBENCH_OPT "):].strip() for l in out.splitlines()
                if l.startswith("PERFBENCH_OPT ")]
    cps = [l[len("PERFBENCH_CP "):].strip() for l in out.splitlines()
           if l.startswith("PERFBENCH_CP ")]
    if p.returncode != 0 or len(cps) != 1 or "perfbench" not in cps[0]:
        raise SystemExit(f"build failed (exit {p.returncode}); see {log_path}")
    with open(launch_file, "w") as f:
        json.dump({"opts": jvm_opts, "cp": cps[0]}, f)
    with open(fp_file, "w") as f:
        f.write(fp)
    # tables from an earlier build may no longer match the generator
    shutil.rmtree(os.path.join(base, "tables"), ignore_errors=True)
    log(f"built in {time.time() - t0:.0f} s")
    return jvm_opts, cps[0]


def java_cmd(jvm_opts, cp, scratch, main_class):
    """A JVM with graft's flags whose temporary and index files stay under
    scratch."""
    return (["java"] + jvm_opts +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Dgraft.index.dir={scratch}/index",
             f"-Djava.io.tmpdir={scratch}/tmp",
             f"-Dspark.local.dir={scratch}/spark-local",
             f"-Dderby.system.home={scratch}",
             "-cp", cp, main_class])


def remaining(deadline):
    return max(1.0, deadline - time.time())


def tables(jvm_opts, cp, base, workload, cpus, deadline):
    """Generate the workload's pipeline tables once per build (they depend
    only on the workload) and return their directory."""
    done = os.path.join(base, "tables", workload)
    if os.path.isdir(done):
        return done
    work = os.path.join(base, "tables", f".{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("index", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cmd = java_cmd(jvm_opts, cp, work, "perfbench.Generate") + [
        "--workload", workload, "--out", os.path.join(work, "out"), "--cpus", str(cpus)]
    t0 = time.time()
    with open(os.path.join(base, f"generate-{workload}.log"), "w") as lf:
        rc = run_bounded(cmd, work, dict(os.environ), remaining(deadline), lf, lf)
    if rc != 0:
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"table generation failed (exit {rc}); see {lf.name}")
    os.rename(os.path.join(work, "out"), done)
    shutil.rmtree(work, ignore_errors=True)
    log(f"generated {workload} tables in {time.time() - t0:.0f} s")
    return done


def run_workload(jvm_opts, cp, base, workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return its result object."""
    deadline = time.time() + RUN_TIMEOUT_S
    cpus = len(os.sched_getaffinity(0))
    table_dir = tables(jvm_opts, cp, base, workload, cpus, deadline)
    run_dir = os.path.join(base, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("index", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = (java_cmd(jvm_opts, cp, run_dir, "perfbench.Main") +
           ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", trace,
            "--out", run_dir, "--tables", table_dir, "--cpus", str(cpus),
            "--reference", os.path.join(HERE, "reference", f"{workload}.tsv")])
    stdout_path = os.path.join(run_dir, "stdout.log")
    with open(stdout_path, "w") as so, open(os.path.join(run_dir, "stderr.log"), "w") as se:
        rc = run_bounded(cmd, run_dir, dict(os.environ), remaining(deadline), so, se)
    for d in RUN_SCRATCH:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if rc is None:
        raise SystemExit(f"run timed out after {RUN_TIMEOUT_S} s; see {run_dir}")
    if rc != 0:
        raise SystemExit(f"run failed (exit {rc}); see {run_dir}/stderr.log")
    with open(stdout_path) as f:
        for line in f:
            if line.startswith("PERFBENCH_RESULT "):
                return json.loads(line[len("PERFBENCH_RESULT "):])
    raise SystemExit(f"no result line; see {run_dir}/stderr.log")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them in turn (one result line each)")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"graft sources not found: {need} is missing")
    base = os.path.join(out_base(), "perfbench")
    os.makedirs(base, exist_ok=True)
    jvm_opts, cp = build(base)
    for w in (WORKLOADS if args.workload == "all" else (args.workload,)):
        if args.workload == "all":
            log(f"workload {w}")
        result = run_workload(jvm_opts, cp, base, w, args.seed, args.seconds, args.trace)
        print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
