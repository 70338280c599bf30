#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (first
run only; see build.py), generates the fixtures (gen_data.py) and, for
`ingest`, the seeded batches (inputs.py), then runs one workload in a
fresh JVM (perfbench.Main). Prints every metric with its name and unit,
then, as the last stdout line, the JSON summary
`{"correct", "attempted", "failed", "metrics"}`. The full record is
written to `<build dir>/perfbench/results/`. Everything it writes stays
under the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen_data  # noqa: E402
import inputs  # noqa: E402

# the fixture scales the workloads read, and the ingest batch count
SCALES = {"sf0.01": 0.01, "sf0.001": 0.001}
INGEST_SCALE = "sf0.01"
INGEST_BATCHES = 1
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}", 2)
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources in this directory; run from a checkout", 2)

    out = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not out.is_absolute():
        out = ROOT / out
    base = out / "perfbench"
    classes = build.build(ROOT, base)
    data = base / "data"
    for name, sf in SCALES.items():
        gen_data.write(str(data / name), sf)
    ingest_in = base / "inputs" / f"seed{a.seed}-b{INGEST_BATCHES}"
    if a.workload == "ingest":
        inputs.write(str(data / INGEST_SCALE), str(ingest_in), a.seed,
                     INGEST_BATCHES)
    tmp = base / "tmp" / f"{a.workload}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    (base / "results").mkdir(exist_ok=True)
    (base / "logs").mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record = base / "results" / f"{tag}.json"
    log = base / "logs" / f"{tag}.log"

    cpus = len(os.sched_getaffinity(0))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", build.classpath(ROOT, classes), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(data), "--inputs", str(ingest_in),
            "--expected", str(HERE / "expected_digests.txt"),
            "--record", str(record), "--tmp", str(tmp), "--cpus", str(cpus)]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, cwd=str(tmp))
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"timed out after {JVM_TIMEOUT_S} s; log in {log}", 3)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.strip().splitlines()
    try:
        summary = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"no summary (exit {proc.returncode}); log in {log}")
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if proc.returncode != 0 or set(summary) != {"correct", "attempted", "failed", "metrics"} \
            or set(summary["metrics"]) != want:
        fail(f"malformed summary (exit {proc.returncode}): {lines[-1][:300]}")
    for line in lines[:-1]:
        print(line)
    print(f"record {record}")
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
