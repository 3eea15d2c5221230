#!/usr/bin/env python3
"""Run one benchmark workload against the repository in the current directory.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first call builds the program from source
(sbt, offline) into the checkout; later calls reuse the build while the sources
are unchanged. Each call starts one JVM (`perfbench.Main`), which generates its
inputs from the seed, runs the workload and checks every outcome against the
planted faults. The last line of standard output is the JSON result. Working
files go under `.perfbench/` and are removed after the run, apart from each
run's `artifact.json` and JVM log in `.perfbench/runs/<workload>-s<seed>-t<trace>/`.

A traced run (`--trace 1`) reports the per-layer metrics. Its artifact also
records the tracing overhead (traced / untraced, per end-to-end metric) against
the untraced run of the same workload and seed, or else the latest correct
untraced run of the workload; it names the run it compared with, or says why
there is none.

`--smoke` runs every workload at toy size, then once more with a planted wrong
expectation, and fails unless the first pass is correct and the second is not.
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

BENCH_DIR = "perfbench"
STATE_DIR = ".perfbench"
JVM_TIMEOUT_S = 170
# runnable on their own; not in BENCHMARK.json's workload list (see NOTES.md)
COMPONENT_WORKLOADS = ["batch_small", "stream_intake", "batch_large"]
BUILD_TIMEOUT_S = 870
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the program's build and sources, and ours."""
    tops = ["build.sbt", os.path.join("project", "build.properties")]
    trees = [os.path.join("src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "project")]
    files = [t for t in tops if os.path.isfile(os.path.join(root, t))]
    files.append(os.path.join(BENCH_DIR, "build.sbt"))
    for t in trees:
        for d, dirs, names in os.walk(os.path.join(root, t)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.relpath(os.path.join(d, n), root) for n in sorted(names)]
    files += [os.path.join("project", n) for n in sorted(os.listdir(os.path.join(root, "project")))
              if n.endswith(".sbt") or n.endswith(".scala")]
    return sorted(set(files))


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    out = os.path.join(root, STATE_DIR, "build")
    os.makedirs(out, exist_ok=True)
    want = stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == want and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(root, BENCH_DIR), env=env,
                               stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {os.path.join(out, 'build.log')}")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_jvm(root, cp, args, run_dir):
    """Run perfbench.Main; return (exit code, last stdout line or None)."""
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap: no resizing between runs
    cmd = ["java", "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir under the run directory
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            stdout = ""
            log.write(f"\nperfbench: killed after {JVM_TIMEOUT_S} s\n")
        except BaseException:
            # interrupted or terminated: take the JVM down too
            proc.kill()
            proc.wait()
            raise
    artifact = os.path.join(work, "artifact.json")
    if os.path.isfile(artifact):
        shutil.move(artifact, os.path.join(run_dir, "artifact.json"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    return proc.returncode, (lines[-1] if lines else None)


def record_overhead(root, run_dir, workload, seed):
    """Traced / untraced, per end-to-end metric, into the traced artifact."""
    traced_f = os.path.join(run_dir, "artifact.json")
    if not os.path.isfile(traced_f):
        return
    with open(traced_f) as fh:
        traced = json.load(fh)
    runs = os.path.join(root, STATE_DIR, "runs")
    twin = f"{workload}-s{seed}-t0"
    candidates = sorted(
        (d for d in os.listdir(runs)
         if d.startswith(f"{workload}-s") and d.endswith("-t0")
         and os.path.isfile(os.path.join(runs, d, "artifact.json"))),
        key=lambda d: (d == twin, os.path.getmtime(os.path.join(runs, d, "artifact.json"))),
        reverse=True)
    plain, compared = None, None
    for d in candidates:
        with open(os.path.join(runs, d, "artifact.json")) as fh:
            a = json.load(fh)
        if a.get("correct") and a.get("workload") == workload:
            plain, compared = a, d
            break
    if not traced.get("correct"):
        traced["tracing_overhead"] = None
        traced["tracing_overhead_reason"] = "the traced run is not correct"
    elif plain is None:
        traced["tracing_overhead"] = None
        traced["tracing_overhead_reason"] = (
            f"no correct untraced run of {workload} in {os.path.join(STATE_DIR, 'runs')}; "
            f"run it with --trace 0 first")
    else:
        traced["tracing_overhead"] = {
            k: traced["end_to_end"][k] / v
            for k, v in plain["end_to_end"].items() if v and k in traced["end_to_end"]}
        traced["tracing_overhead_compared_with"] = compared
    with open(traced_f, "w") as fh:
        json.dump(traced, fh, indent=1, sort_keys=True)


def smoke(root, cp):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    ok = True
    for name in names + COMPONENT_WORKLOADS:
        for trace in ("0", "1"):
            base = ["--workload", name, "--seed", "7", "--seconds", "1", "--trace", trace,
                    "--toy"]
            code, line = run_jvm(root, cp, base, os.path.join(root, STATE_DIR, "smoke", f"{name}-t{trace}"))
            good = code == 0 and line is not None and json.loads(line)["correct"]
            print(f"smoke {name} trace={trace}: {'ok' if good else 'FAILED'}")
            ok &= good
        code, line = run_jvm(root, cp, base + ["--plant-wrong"],
                             os.path.join(root, STATE_DIR, "smoke", f"{name}-wrong"))
        caught = code != 0 and line is not None and not json.loads(line)["correct"] \
            and not json.loads(line)["metrics"]
        print(f"smoke {name} planted wrong expectation: {'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    return ok


def main():
    # SIGTERM unwinds like Ctrl-C, so run_jvm stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join(BENCH_DIR, "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    cp = build(root)
    if a.smoke:
        sys.exit(0 if smoke(root, cp) else 1)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        fail("need --workload, --seed, --seconds and --trace (or --smoke)")
    run_dir = os.path.join(root, STATE_DIR, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    code, line = run_jvm(root, cp, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", a.trace], run_dir)
    if a.trace == "1":
        record_overhead(root, run_dir, a.workload, a.seed)
    if line is None:
        fail(f"no result (exit {code}); see {os.path.join(run_dir, 'jvm.log')}")
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
