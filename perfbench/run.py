#!/usr/bin/env python3
"""graft production-path benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the program and the
benchmark harness from source with sbt (offline): graft into the root
build's `target/`, the harness (its own build, `perfbench/build.sbt`) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run then
generates its inputs from the seed, starts one JVM on `local[4]`, and
prints every metric with its unit. The last stdout line is the JSON
summary: end-to-end metrics with `--trace 0`, per-layer metrics of a
separate traced pass with `--trace 1`. Full per-operation, per-span and
per-check records go to `perfbench/out/`.

The work per workload is fixed by `gen.SIZES` (sized so a timed pass takes
about 25 s on a 4-core host), so that two commits always run the same
operations; `--seconds` is recorded with the result. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("daily_load", "dedup_gate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    "-Xmx3g", "-Dspark.callstack.depth=200",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def steal_seconds():
    """Hypervisor steal time so far, summed over CPUs (0 off Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "project"), os.path.join(root, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, bdir):
    """Compile graft and the harness with the harness's own sbt build
    (perfbench/build.sbt, which depends on the root build); returns the
    runtime classpath."""
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == stamp, g.read().strip()
        # a clean of the root build removes graft's classes
        if same and all(os.path.exists(d) for d in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime / fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cps:
        fail("build produced no classpath")
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    cp = os.pathsep.join(os.path.normpath(x) for x in cps[-1].split(os.pathsep))
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft "
             "not found in %s)" % root, 2)
    bdir = os.path.join(root, ".bench_build", "perfbench")
    classpath = build(root, bdir)

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(bdir, "work-" + tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        inputs = os.path.join(work, "inputs")
        expected = gen.generate(args.workload, args.seed, inputs)
        gen_s = time.time() - t0
        result_file = os.path.join(work, "result.json")
        steal0 = steal_seconds()
        launch_ms = int(time.time() * 1000)
        cmd = ["java"] + JVM_OPTS + [
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", classpath,
            "perfbench.Main", "--workload", args.workload, "--inputs", inputs,
            "--work", work, "--out", result_file, "--trace", str(args.trace),
            "--gen-s", repr(gen_s), "--launch-ms", str(launch_ms)]
        proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S - gen_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            fail("run exceeded %d s" % RUN_TIMEOUT_S)
        steal = steal_seconds() - steal0
        if rc != 0 or not os.path.exists(result_file):
            fail("benchmark JVM failed (exit %d)" % rc)
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    res["workload"] = args.workload
    res["seed"] = args.seed
    res["seconds"] = args.seconds
    res["input_properties"] = expected["input_properties"]
    # CPU time the host withheld from this VM during the run: the figure
    # that tells a slow run on a busy host from a slow program
    res["host_steal_s"] = steal
    if args.trace:
        res["layer"]["host.steal_s"] = steal
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print("workload %s seed %d: %d operations, %d failed, correct=%s"
          % (args.workload, args.seed, res["attempted"], res["failed"],
             str(res["correct"]).lower()))
    for k, v in res["e2e"].items():
        print("  %-45s %14.6f %s" % (k, v["value"], v["unit"]))
    print("  %-45s %14.6f %s" % ("host_steal_s", steal, "s"))
    for k, v in res["layer"].items():
        print("  %-45s %14.6f %s" % (k, v, units.get(k, "")))
    bad = [c for c in res["checks"] if not c["ok"]]
    for c in bad[:10]:
        print("  check failed: %s: %s" % (c["name"], c["detail"]))

    if args.trace:
        metrics = {m["name"]: {"value": res["layer"].get(m["name"]),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        fail("metrics not produced: " + ", ".join(missing))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
