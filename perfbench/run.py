#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) into the checkout;
later runs reuse that build while the sources are unchanged. Every run
starts one JVM, which makes its inputs from the seed, sets up a
local[nproc] Spark session, measures for --seconds and checks every
output. --trace 1 prints the per-layer metrics instead of the end-to-end
ones. --size tiny shrinks every input for smoke tests.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_mixed", "catalog_core")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit; the program's own
# build passes the same list to its forked runs.
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
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build used the same sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program source (src/main/scala) next to perfbench/")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0:
        fail(f"build failed, see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if "classes" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cps:
        fail(f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def owner(metric):
    """The workload whose traced run measures a per-layer metric."""
    prefix = metric.split(".")[0]
    if prefix in ("catalog", "analytics"):
        return "catalog_core"
    if prefix in ("bench", "sessions", "jvm", "trace"):
        return "all"
    return "serve_mixed"


def heap_arg():
    # a quarter of memory, between 2 and 6 GB: the host is shared
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        gb = max(2, min(6, kb // (4 * 1048576)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def run_jvm(args, cp, extra_props):
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", heap_arg(), "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    cmd += [f"-D{k}={v}" for k, v in extra_props.items()]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work-dir", work]
    if args.gen_only:
        cmd.append("--gen-only")
    log_path = os.path.join(BUILD, f"last-{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}")
    if not args.gen_only:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"run exited with {proc.returncode}, see {log_path}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--gen-only", action="store_true",
                    help="make the inputs under .bench_build/run and stop")
    ap.add_argument("--record-expected", metavar="FILE",
                    help="catalog_core: write the expected results of this run")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    expected = "catalog_core_tiny.json" if args.size == "tiny" else "catalog_core.json"
    props = {"graftbench.expected": os.path.join(HERE, "expected", expected)}
    if args.record_expected:
        props["graftbench.record"] = os.path.abspath(args.record_expected)
    out = run_jvm(args, cp, props)
    if args.gen_only:
        return
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        fail("the run printed no result")
    res = json.loads(lines[-1])

    # the JVM prints the metrics its workload measures; per-layer metrics
    # of layers another workload exercises read 0 here
    got = res["metrics"]
    section = "per_layer" if args.trace else "end_to_end"
    declared = [m["name"] for m in spec[section]]
    unknown = sorted(set(got) - set(declared))
    if unknown:
        fail(f"undeclared metrics {unknown}")
    units = {m["name"]: m["unit"] for m in spec[section]}
    metrics = {}
    for name in declared:
        if name in got:
            metrics[name] = got[name]
        elif args.trace and owner(name) not in ("all", args.workload):
            metrics[name] = {"value": 0, "unit": units[name]}
        else:
            fail(f"{args.workload} did not report {name}")
        if metrics[name]["unit"] != units[name]:
            fail(f"{name}: unit {metrics[name]['unit']}, declared {units[name]}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
