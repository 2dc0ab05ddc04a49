#!/usr/bin/env python3
"""Runs one benchmark workload against the graft engine and prints its result.

    python3 perfbench/run.py --workload registry_surface --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source on first use (into
`.bench_build/`), generates the input tables from the seed, runs the workload
in a fresh `local[nproc]` Spark JVM, gates the outputs for correctness, and
prints a report followed by one JSON result line. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("registry_surface", "consume_stream")
# per-layer metrics (a name, or a prefix ending in ".") of layers a workload
# does not exercise; they report 0, and any other metric the harness does
# not emit fails the run
NOT_EXERCISED = {
    "registry_surface": ("streaming.", "state.", "sink.", "functions.decode_eps", "spark.scaling"),
    "consume_stream": ("queries.",),
}
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint() -> str:
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    for f in files + [HERE / "build.sbt", HERE / "project" / "build.properties"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home() -> str:
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return str(Path(submit).resolve().parent.parent)


def build() -> str:
    """Compiles the engine and harness if their sources changed; returns the
    runtime classpath."""
    fp, cp_file = fingerprint(), BUILD / "classpath.txt"
    if cp_file.exists() and (BUILD / "fingerprint").read_text() == fp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cp_file.write_text(lines[-1])
    (BUILD / "fingerprint").write_text(fp)
    return lines[-1]


def run_jvm(classpath: str, args, work: Path, cpus: int, budget_s: float) -> dict:
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = [str(java), "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(work / "data"), str(work), str(cpus)]
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    for name in ("jvm.log", "spans.json", "profile.json"):
        if (work / name).exists():
            shutil.copy(work / name, BUILD / f"last-{args.workload}-{name}")
    result = work / "result.json"
    if code != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.exit(f"perfbench: harness failed ({code})")
    return json.loads(result.read_text())


def main() -> int:
    t_start = time.monotonic()
    # a terminated run still stops and reaps its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # scale of the generated tables in TPC-H scale-factor units: sf 0.01 has
    # 60,000 lineitems and 10,000 events
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not spec_file.exists():
        sys.exit("perfbench: run from a checkout of the repository (engine sources missing)")
    spec = json.loads(spec_file.read_text())

    classpath = build()
    log(f"build ready at {time.monotonic() - t_start:.1f} s")
    sys.path.insert(0, str(HERE))
    import gen
    import gate

    cpus = len(os.sched_getaffinity(0))
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.write(work / "data", args.sf, args.seed)
        log(f"inputs ready at {time.monotonic() - t_start:.1f} s")
        res = run_jvm(classpath, args, work, cpus, RUN_LIMIT_S - (time.monotonic() - t_start))
        log(f"harness done at {time.monotonic() - t_start:.1f} s")
        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload.startswith("registry"):
            bad = gate.mismatches(work / "data", work / "out", res["queries"])
            oracle = json.loads((work / "out" / "oracle_sql.json").read_text())
            attempted += len(oracle)
            failed += len(bad)
            errors += [f"oracle mismatch {n}: {why}" for n, why in sorted(bad.items())]
            print(f"oracle gate: {len(oracle) - len(bad)}/{len(oracle)} queries match; "
                  f"{len(res['queries']) - len(oracle)} without oracle")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"gate done at {time.monotonic() - t_start:.1f} s")

    kind = "per_layer" if args.trace else "end_to_end"
    measured = res["metrics"]
    idle = NOT_EXERCISED[args.workload] if args.trace else ()
    for m in spec[kind]:
        if m["name"] not in measured:
            if not any(m["name"] == p or (p.endswith(".") and m["name"].startswith(p)) for p in idle):
                sys.exit(f"perfbench: the harness did not measure {m['name']}")
            measured[m["name"]] = 0.0
    metrics = {m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]}
               for m in spec[kind]}
    if args.trace:
        # every job, stage and task the listener saw must belong to a span
        attempted += 1
        stray = {k: v for k, v in measured.items() if k.startswith("trace.unattributed_") and v > 0}
        if stray:
            failed += 1
            errors.append(f"trace attribution: {stray}")
    passes = f"{res['passes']} passes in " if "passes" in res else ""
    print(f"workload {args.workload} seed {args.seed}: {passes}{res['window_s']:.1f} s window, cpus {cpus}")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")
    for key in ("rungs", "contention"):
        for row in res.get(key, []):
            print(f"  {key}: {json.dumps(row)}")
    if "generator_sha256" in res:
        print(f"  drain {res['drain_eps']:.0f} events/s, mean record {res['record_bytes']:.0f} B")
        print(f"  generator sha256 {res['generator_sha256']}")
    print(f"  error_rate {failed / max(1, attempted):.6g} ({failed} of {attempted})")
    for e in errors:
        print(f"  error: {e}")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
