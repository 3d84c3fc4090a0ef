"""Benchmark entry point: build, run one workload in one JVM, check, report.

    python3 perfbench/run.py --workload ingest|dashboard|neardup \
        --seed N --seconds S --trace 0|1

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per layer with --trace 1), each metric
with its unit. Lines before it say how the figures were taken. Everything a
run writes stays under .bench_build/ in the checkout.

`--selftest 1` runs the generator self-tests instead.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest", "dashboard", "neardup")
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_LIMIT_S = 170
HEAP = "1536m"


def cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def jvm(classes: Path, work: Path, main_args: list, limit: float) -> int:
    """Run perfbench.Main; its output goes to work/jvm.log. Waits for it."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + main_args)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def log_tail(work: Path) -> str:
    try:
        return (work / "jvm.log").read_text()[-6000:]
    except OSError:
        return ""


def complete(measured: dict, trace: int, info: list) -> dict:
    """Every metric BENCHMARK.json lists for this mode, in its order. A
    layer this workload does not exercise reads 0 and is named in `info`;
    an end-to-end metric must always be measured."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return measured
    listed = json.loads(spec.read_text())["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in measured]
    if missing and not trace:
        raise SystemExit(f"perfbench: end-to-end metrics not measured: {missing}")
    if missing:
        info.append("layers not exercised by this workload (reported as 0): " + " ".join(missing))
    return {m["name"]: measured.get(m["name"], {"value": 0.0, "unit": m["unit"]}) for m in listed}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classes = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    started = time.monotonic()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    runs = build.build_dir().parent / "perfbench-runs"
    work = runs / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    keep = runs / "last" / name
    try:
        if a.selftest:
            code = jvm(classes, work, ["--selftest", "1"], JVM_LIMIT_S)
            sys.stdout.write(log_tail(work))
            return 0 if code == 0 else 1
        code = jvm(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--work", str(work), "--out", str(work / "result.json")],
            JVM_LIMIT_S - (time.monotonic() - started))
        if code != 0 or not (work / "result.json").is_file():
            sys.stderr.write(log_tail(work))
            sys.stderr.write(f"perfbench: benchmark JVM exited with {code}\n")
            return 3
        res = json.loads((work / "result.json").read_text())
        info = list(res["info"])
        errors = list(res["errors"])
        if a.workload == "dashboard":
            import oracle
            problems = oracle.check(work / "outputs")
            errors += problems
            info.append(f"duckdb oracle check: {'pass' if not problems else 'FAIL'}")
        info.append(f"log, result and spans are kept in {keep.relative_to(ROOT)}")
        metrics = complete(res["metrics"], a.trace, info)
        for line in info:
            print(line)
        for e in errors:
            print(f"check failed: {e}")
        for k, m in sorted(metrics.items()):
            print(f"{k} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": bool(res["correct"]) and not errors,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }))
        return 0
    finally:
        # keep the small artefacts of the last run of each kind, drop inputs
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True, exist_ok=True)
        for f in ["jvm.log", "result.json", f"spans-{a.workload}.jsonl"]:
            if (work / f).is_file():
                shutil.move(str(work / f), str(keep / f))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
