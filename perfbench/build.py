#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine (src/main/scala)
together with the harness (perfbench/src) into one class directory, with the
Scala compiler that ships among the Spark jars. Nothing is downloaded.

    python3 perfbench/build.py            # prints the class directory

The output goes to $CARGO_TARGET_DIR (default: .bench_build) under the
repository root. A stamp of the sources' hash skips a build that is current.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        found = sorted(d.rglob("*.scala")) if d.is_dir() else []
        if not found:
            raise SystemExit(f"build: no Scala sources under {d.relative_to(ROOT)}")
        files += found
    return files


def build() -> Path:
    """Compile if the sources changed; return the class directory. A lock
    file serialises concurrent callers."""
    build_dir().mkdir(parents=True, exist_ok=True)
    with open(build_dir() / "perfbench.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build() -> Path:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "perfbench-classes"
    stamp_file = build_dir() / "perfbench-classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = build_dir() / "perfbench-classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    cmd += [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"build: scalac exited with {proc.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build())
