#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload batch_sf0.01 --seed 1 --seconds 20 --trace 0

Builds the engine and harness from source (build.py), starts one JVM pinned
to local[<cores>] with a fixed heap, checks the outputs (oracle.py and the
in-JVM MQ checks) and prints, as the last line, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

Everything a run writes (Spark local dir, checkpoints, tmpdir, the rows the
checks read) lives under .bench_run/<pid> in the repository root and is
removed when the run ends.
"""
import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

STARTED = time.time()
sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def java(classes: Path, run_dir: Path, args: list, timeout: float) -> None:
    """Run graft.perfbench.Main to completion; its log goes to run_dir/jvm.log."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_GRAFT_LOCAL_DIR=str(run_dir / "local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main", *args]
    with open(run_dir / "jvm.log", "w") as log:
        # stdin stays an open pipe: the JVM exits when it reaches end of input
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=log,
                                stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-8000:])
        raise SystemExit(f"run: JVM exited with {code}")


@contextlib.contextmanager
def scratch(name: str):
    """A fresh directory under .bench_run, removed (with .bench_run, once
    empty) on the way out."""
    d = ROOT / ".bench_run" / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
        try:
            d.parent.rmdir()
        except OSError:
            pass


def oracle_sql() -> dict:
    """Oracle SQL of every batch workload's queries, {scale: {query: sql}}."""
    classes = build.build()
    with scratch(f"oracle-sql-{os.getpid()}") as run_dir:
        java(classes, run_dir, ["mode=oracle-sql", f"out={run_dir}"], DEADLINE_S)
        return json.loads((run_dir / "oracle_sql.json").read_text())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"run: unknown workload {a.workload}")
    if not (oracle.DATA / "sf0.01" / "lineitem.parquet").is_file():
        raise SystemExit("run: fixture data missing under perfbench/data")
    classes = build.build()

    with scratch(str(os.getpid())) as run_dir:
        launched_ms = int(time.time() * 1000)
        java(classes, run_dir, [
            f"workload={a.workload}", f"data={oracle.DATA}", f"out={run_dir}",
            f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"launched_ms={launched_ms}"], DEADLINE_S - (time.time() - STARTED))
        result = json.loads((run_dir / "result.json").read_text())
        if "mq" in result:
            failures = list(result["check_failures"])
            failures += oracle.check_windows(run_dir / "windows.csv",
                                             dict(result["mq"], scale=result["scale"]))
        else:
            failures = oracle.check_batch(run_dir / "rows", result["scale"],
                                          result["queries"], result["oracle_sql"])

    detail = {k: v for k, v in result.items()
              if k not in ("oracle_sql", "check_failures", "mq", "queries")}
    print(json.dumps(detail), file=sys.stderr)
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    if a.trace:
        source = result["layers"]
        wanted = spec["per_layer"]
    else:
        source = result
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": int(result["operations"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
