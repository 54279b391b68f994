#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine's main sources together with the benchmark's own
(perfbench/build.sbt) on first use, then runs the workload in one JVM and
prints, as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Build
output goes to .bench_build/, scratch data to .bench_work/ (removed after
the run), span files of traced runs to .bench_out/.
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
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("binlog_live", "corpus_batch")
# Per-layer metrics of layers only one workload exercises: the other
# workload reports them as 0 (not exercised).
LAYER_OWNER = (("sources.", "binlog_live"), ("streaming.", "binlog_live"),
               ("binlog.", "binlog_live"), ("corpus.", "corpus_batch"),
               ("plans.corpus.", "corpus_batch"), ("spark.rdds_persisted_after", "corpus_batch"),
               ("spark.dedup.", "corpus_batch"), ("spark.graph.", "corpus_batch"),
               ("spark.multimodal.", "corpus_batch"))
# JVM settings of both workloads, each for a measured reason (DESIGN.md):
# - half the machine's cores: Spark (local[N] with N = the JVM's processor
#   count) and the JVM's GC and JIT threads then leave the other half to
#   the driver thread and the machine. On 4 cores, with all of them, the
#   corpus pass time of runs of the same code ranged over 2.4-3.5 s; with
#   2, over 3.2-3.3 s.
# - C1 only: under tiered C2 the compiler threads took 1.5 of 4 cores
#   through a binlog_live run and the corpus passes kept speeding up for
#   7+ passes, so runs ended at different points of the warm-up.
# - a 512 MB code cache: C1 alone reserves 48 MB, which Spark's generated
#   classes filled about a minute into a run; the flush and recompile
#   doubled one pass's CPU time and slowed the passes after it.
# - compiler threads kept alive: cpu_s leaves out their CPU time, which a
#   stopped thread would take with it.
def jvm_opts():
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    return ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={cores}",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UseDynamicNumberOfCompilerThreads"]


RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    if not all(Path(p).exists() for p in cp.split(os.pathsep)):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build did not report a usable classpath")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work):
    cmd = (["java"] + jvm_opts()
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dgraft.warehouse={work / 'warehouse'}",
              f"-Dderby.system.home={work / 'derby'}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", cp, "perfbench.Main"] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    result = None
    try:
        deadline = time.time() + RUN_TIMEOUT_S
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            log(line)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"workload failed (exit {proc.returncode})")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit("engine sources (src/main/scala/graft) are missing")
    cp = build()

    work = ROOT / ".bench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--out", str(ROOT / ".bench_out")]
        # the seeded inputs are written before the JVM starts; their time
        # counts in setup_s
        sys.path.insert(0, str(HERE))
        import corpus_data
        import live_data
        t0 = time.time()
        if a.workload == "corpus_batch":
            corpus_data.generate(a.seed, work / "data")
        else:
            live_data.generate(a.seed, a.seconds, work / "data")
        args += ["--data", str(work / "data"), "--staging-s", str(time.time() - t0)]
        r = run_jvm(cp, args, work)
        if a.workload == "corpus_batch":
            oracle = json.loads((work / "results" / "oracle_sql.json").read_text())
            for name, sql in sorted(oracle.items()):
                diff = corpus_data.check(work / "data", work / "results", name, sql)
                if diff:
                    log(f"FAILED {name}: result differs from the DuckDB oracle: {diff}")
                    r["failed"] += 1
                    r["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in sorted(r["report"].items()):
        print(f"{k} = {v}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r["layers"] if a.trace else r["e2e"]
    if a.trace:
        for m in wanted:
            owner = next((w for p, w in LAYER_OWNER if m["name"].startswith(p)), None)
            if owner not in (None, a.workload):
                source.setdefault(m["name"], 0)
    missing = [m["name"] for m in wanted
               if not isinstance(source.get(m["name"]), (int, float))]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
