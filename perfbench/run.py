#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline)
and generates the input tables (perfbench/gen_data.py); both are cached in
.bench_build/ and rebuilt when their sources change. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. Exits non-zero, printing no result, when the build, the data
or the run fails.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
SCALES = {"sf0.1": "0.1", "sf0.01": "0.01"}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    sources = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
               BENCH / "project" / "build.properties"]
    missing = [str(p) for p in sources if not p.exists()]
    if missing:
        raise RuntimeError(f"engine sources not found: {', '.join(missing)}")
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    want = digest(sources)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    log("building engine and benchmark (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    with open(BUILD / "logs" / "build.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed (rc={proc.returncode}); see {BUILD}/logs/build.log")
    cp_file.write_text(lines[-1])
    stamp.write_text(want)
    return lines[-1]


def data():
    """Generate the input tables once per generator version."""
    gen = BENCH / "gen_data.py"
    stamp, out = BUILD / "data.stamp", BUILD / "data"
    want = digest([gen])
    if stamp.exists() and stamp.read_text() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    for name, sf in SCALES.items():
        log(f"generating {name}")
        subprocess.run([sys.executable, str(gen), str(out / name), sf], check=True, timeout=300)
    stamp.write_text(want)
    return out


def heap():
    """JVM heap: a quarter of physical memory, clamped to [2g, 8g]."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{max(2, min(8, kb // 1048576 // 4))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def java_cmd(cp, args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", cp, "perfbench.Main", *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--probe", action="store_true",
                    help="run one traced round and print each statement's layer split")
    ap.add_argument("--record", metavar="DIR",
                    help="record expected results of the workload's scale factor into DIR")
    a = ap.parse_args()
    try:
        BUILD.mkdir(exist_ok=True)
        cp = build()
        datadir = data()
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"set-up failed: {e}")
        return 2
    work = BUILD / "work"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", str(datadir), "--expected", str(BENCH / "expected"),
            "--work", str(work), "--traces", str(BUILD / "traces")]
    if a.probe:
        args += ["--probe"]
    if a.record:
        args += ["--record", str(pathlib.Path(a.record).resolve())]
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    err_log = BUILD / "logs" / f"{a.workload}-{a.seed}-{a.trace}.log"
    try:
        with open(err_log, "w") as err:
            # the session exactly as Graft.session builds it: no override confs
            env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
            proc = subprocess.run(java_cmd(cp, args), cwd=BUILD, env=env, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=900 if a.record or a.probe else 170)
    except subprocess.TimeoutExpired:
        log(f"run timed out; see {err_log}")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.probe or a.record:
        sys.stderr.write(err_log.read_text())
    if a.record:
        return proc.returncode
    results = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not results:
        log(f"run failed (rc={proc.returncode}); see {err_log}")
        return 1
    result = json.loads(results[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
