#!/usr/bin/env python3
"""Benchmark of the graft engine: four seeded workloads, closed loop, local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--smoke] [--plant checksum|fingerprint] [--save DIR]

Run from the repository root. The first run builds the engine and the
harness with sbt (the engine from its own build one directory up) and caches
the classpath under .bench_build/; later runs start the JVM directly.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). The full run record -- every op, the
setup times, spans with self times, and a host busy-loop probe taken before
and after the run -- is written to .bench_build/graftbench/runs/ and, with
--save, copied to DIR.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "sf0.001.json")
FINGERPRINTS = os.path.join(HERE, "expected", "tile_fingerprints.json")
WORKLOADS = ["tile_ingest", "spatial_queries", "dedup_closure", "codec_roundtrip"]

# Spark on JDK 17 needs these when started outside spark-submit (the same
# list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d != r else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} is missing next to perfbench/)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"sbt build failed (see {os.path.join(BUILD, 'build.log')})", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java(cp, work):
    """The JVM command line up to the main class's arguments."""
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp, "graftbench.Main"]


BUSY = "import sys\ns=0\nfor i in range(int(sys.argv[1])): s+=i*i\n"


def host_probe(iters=600_000):
    """Busy-loop capacity probe: wall seconds of a fixed CPU loop run as 1 and
    as 4 parallel processes. A slow host window shows up here, not as a
    regression of the engine."""
    out = {}
    for k in (1, 4):
        t0 = time.perf_counter()
        procs = [subprocess.Popen([sys.executable, "-c", BUSY, str(iters)]) for _ in range(k)]
        for p in procs:
            p.wait()
        out[f"k{k}_s"] = round(time.perf_counter() - t0, 4)
    out["per_core_capacity_k4"] = round(out["k1_s"] / out["k4_s"], 4)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's own tests")
    ap.add_argument("--plant", choices=["checksum", "fingerprint"],
                    help="plant a wrong expected value; the run must then report failures")
    ap.add_argument("--save", help="also copy the run record into this directory")
    a = ap.parse_args()

    cp = build()
    if not os.path.isdir(DATA):
        fail("bundled query tables are missing")
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(BUILD, "work", stamp)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    record_path = os.path.join(BUILD, "runs", stamp + ".json")
    jvm_record = os.path.join(work, "record.json")

    probe_before = host_probe()
    cmd = java(cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--data", DATA, "--expected", EXPECTED,
        "--fingerprints", FINGERPRINTS, "--record", jvm_record]
    if a.smoke:
        cmd.append("--smoke")
    if a.plant:
        cmd += ["--plant", a.plant]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                timeout=170 if not a.smoke else 400).returncode
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out (log: {os.path.join(work, 'jvm.log')})", 1)
    if rc != 0 or not os.path.exists(jvm_record):
        fail(f"benchmark JVM failed with code {rc} (log: {os.path.join(work, 'jvm.log')})", 1)
    probe_after = host_probe()

    with open(jvm_record) as fh:
        record = json.load(fh)
    record["host_probe"] = {"before": probe_before, "after": probe_after,
                            "cpus": os.cpu_count()}
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        shutil.copy(record_path, os.path.join(a.save, os.path.basename(record_path)))
    # keep the run record, drop the run's scratch tables and spill files
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record["summary"]))


if __name__ == "__main__":
    main()
