#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (`perfbench/build.sbt`, a source dependency on
the engine's build) and caches the runtime classpath under
`perfbench/.build/`, keyed by a hash of the sources. Each run then starts
one fresh JVM (`perfbench.Main`) with its own warehouse, checkpoint, sink
and temp directories under `perfbench/.work/`, removed when the run ends.

The harness writes a run record to `perfbench/out/`; this script turns it
into metrics, prints a table to stderr and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. End-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`. Any op that
throws or returns a wrong answer is named with its cause on stderr and the
exit code is 1.
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

import metrics

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_DIR = BENCH / ".build"
WORK_DIR = BENCH / ".work"
OUT_DIR = BENCH / "out"
WORKLOADS = ("reference_pipeline", "operator_batch")
# reference_pipeline reads the 1,500-user events table at sf0.1;
# operator_batch runs at sf0.01, where a cold and a warm pass fit in a run
# of under a minute
DATA = {"reference_pipeline": "sf0.1", "operator_batch": "sf0.01"}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of everything the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    stamp = BUILD_DIR / f"classpath-{source_hash()}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    log("building the engine and the harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True)
    try:
        out, err = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"sbt build did not finish within {BUILD_LIMIT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        errors = [l for l in (out + err).splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:]) + "\n" if errors else err[-4000:])
        fail(f"sbt build failed (exit {proc.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    for old in BUILD_DIR.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(lines[-1].strip())
    return lines[-1].strip()


def java_command(work, main_class):
    """A JVM for the harness, with every file it writes kept under `work`."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    # a fixed-size heap: with one that grew during the run, pass times
    # spread more between runs (perfbench/NOTES.md)
    cmd = [str(java), "-Xms3g", "-Xmx3g"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dio.netty.tryReflectionSetAccessible=true",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        "-cp", classpath(),
        main_class,
    ]
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    return cmd, env


def run_harness(args, work, out):
    cmd, env = java_command(work, "perfbench.Main")
    cmd += [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", str(BENCH / "data" / DATA[args.workload]),
        "--expected", str(BENCH / "expected"), "--work", str(work), "--out", str(out),
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run did not finish within {RUN_LIMIT_S} s", code=1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def print_table(rec, values):
    counts = metrics.sample_counts(rec)
    log(f"{rec['workload']} seed {rec['seed']}: {len(rec['ops'])} ops, "
        f"{counts['warm_passes']} warm passes, samples {counts}")
    if not rec["trace"]:
        values = dict(values, **{k: {"value": v, "unit": metrics.EXTRA_FIGURES[k]}
                                 for k, v in metrics.extra_figures(rec).items()})
    for k, v in values.items():
        log(f"  {k:<38} {v['value']:>14.6f} {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"the engine's sources are missing next to {BENCH.name}/ (run from a full checkout)")
    if not (BENCH / "data" / DATA[args.workload]).is_dir():
        fail(f"missing input data {BENCH.name}/data/{DATA[args.workload]}")

    OUT_DIR.mkdir(parents=True, exist_ok=True)
    out = OUT_DIR / f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    work = WORK_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        code = run_harness(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not out.exists():
        fail(f"the harness exited {code} without a run record", code=1)

    rec = metrics.load(out)
    failed = metrics.failures(rec)
    for o in failed:
        arg = f"({o['arg']})" if o["arg"] else ""
        log(f"FAILED op {o['kind']}:{o['name']}{arg} in pass {o['pass']}: {o['error']}")
    values = metrics.metrics(rec)
    print_table(rec, values)
    ok = code == 0 and not failed
    print(json.dumps({"correct": ok, "attempted": len(rec["ops"]), "failed": len(failed), "metrics": values}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
