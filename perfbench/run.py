#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the product and the harness (perfbench/build.py), prepares the
inputs, runs the JVM harness once and prints two lines on stdout: an
evidence record (environment, gate verdicts, failures), then the result
object whose `metrics` are the end-to-end metrics of BENCHMARK.json
(`--trace 0`) or its per-layer metrics (`--trace 1`). Everything it
writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
HERE = os.path.join(ROOT, "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
SCALE_GEN = os.path.join(ROOT, "tools", "scale_gen.py")
WORKLOADS = ("relational", "curation", "curation_dup", "nem_week")
FIXTURE = {"relational": "sf0.01", "curation": "sf0.01", "curation_dup": "sf0.01x10"}
JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def fixture_dir(name):
    """The registry input `name`: `sf0.01` is the copy of the sf0.01 test
    tables (TESTDATA.md) kept in perfbench/data; `sf0.01x10` is ten copies
    of them made by tools/scale_gen.py, once per checkout. The directory
    is named after the input: that name keys its fingerprints in pins.json."""
    if name == "sf0.01":
        return DATA
    dst = os.path.join(OUT, "fixtures", name)
    digest = hashlib.sha256()
    for path in [SCALE_GEN] + sorted(os.path.join(DATA, f) for f in os.listdir(DATA)):
        with open(path, "rb") as fh:
            digest.update(fh.read())
    stamp_file = dst + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == digest.hexdigest()):
        shutil.rmtree(dst, ignore_errors=True)
        subprocess.run([sys.executable, SCALE_GEN, DATA, dst, "10"], check=True,
                       stdout=subprocess.DEVNULL)
        with open(stamp_file, "w") as fh:
            fh.write(digest.hexdigest())
    return dst


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("src/main/scala not found: the benchmark builds graft from source")
    classpath, source_digest = build.build()
    data = fixture_dir(FIXTURE[a.workload]) if a.workload in FIXTURE else None

    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    try:
        gen_s = 0.0
        nem = os.path.join(work, "nem_raw")
        nem_warm = os.path.join(work, "nem_warm")
        if a.workload == "nem_week":
            t0 = time.time()
            gen.nem(nem, a.seed)
            gen.nem(nem_warm, a.seed, n_ts=12)
            gen_s = time.time() - t0
        record = os.path.join(work, "record.json")
        spans = os.path.join(OUT, "trace", f"{a.workload}-seed{a.seed}.json")
        # A fixed heap: with a growing one the timings spread far wider
        # from run to run (perfbench/README.md, Steadiness). Pre-touched, so
        # the resident memory outside it is VmHWM minus the heap.
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-XX:ActiveProcessorCount={nproc}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
                "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100"] +
               [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
               ["-cp", classpath, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--nem", nem, "--nem-warm", nem_warm, "--work", work,
                "--pins", os.path.join(HERE, "pins.json"), "--out", record]
               + (["--data", data] if data else [])
               + (["--spans", spans] if a.trace else []))
        load_before = os.getloadavg()
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"harness exceeded {JVM_LIMIT_S} s")
        load_after = os.getloadavg()
        if proc.returncode != 0 or not os.path.exists(record):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness exited with code {proc.returncode}")
        rec = json.load(open(record))
        rec["e2e"]["setup_s"] = rec["e2e"].get("setup_s", 0.0) + gen_s

        metrics, missing, idle = {}, [], []
        source = rec["layer"] if a.trace else rec["e2e"]
        for m in spec["per_layer" if a.trace else "end_to_end"]:
            value = source.get(m["name"])
            if value is None and a.trace:
                # A layer this workload never enters (stream.* on a registry
                # workload, kernels on nem_week) reads 0 and is listed.
                value = 0.0
                idle.append(m["name"])
            if value is None:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        if missing:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"run produced no value for {', '.join(missing)}; failures: {rec['failures']}")
        evidence = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": nproc, "commit": commit(), "source_sha256": source_digest,
            "load_before": load_before, "load_after": load_after,
            "fail_frac": rec["failed"] / max(1, rec["attempted"]),
            "info": rec["info"], "failures": rec["failures"], "layers_not_entered": idle,
            "end_to_end": rec["e2e"] if a.trace else None}
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            json.dump({"evidence": evidence, "metrics": metrics}, fh)
        print(json.dumps({"evidence": evidence}))
        print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                          "failed": rec["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
