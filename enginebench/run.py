#!/usr/bin/env python3
"""Engine benchmark launcher.

    python3 enginebench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark harness
from source (sbt, cached until a source file changes), makes the query
tables once per checkout, runs one workload in a fresh JVM and prints, as
its last stdout line, one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with --trace 1 the per-layer
ones). The line before it carries the regime stamp and sample counts.
Exits non-zero on a build failure, a crash, or any correctness mismatch.
See enginebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "enginebench")

WORKLOADS = ("ingest", "relational", "corpus")
END_TO_END = ("wall_s", "op_p50_s", "op_tail_s", "rows_per_s", "setup_s", "heap_live_peak_mb")
HEAP = "3g"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    """Hash of every file under `paths` (names and bytes), in sorted order."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine plus harness; returns the runtime classpath."""
    sources = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip(), stamp
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, text=True,
                           stdin=subprocess.DEVNULL)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp, stamp


def java(cp, run_dir, args, log_path, jvm_flags=()):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *jvm_flags]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
            "-cp", cp, "enginebench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run dir.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 3)
        finally:
            # Never leave the JVM behind: timeout, SIGTERM or Ctrl-C alike.
            if p.poll() is None:
                p.kill()
                p.wait()


def source_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def history_path(stamp, workload, seconds):
    return os.path.join(WORK, "history", f"{stamp}-{workload}-{seconds}.jsonl")


def trace_overhead(stamp, workload, seconds, seed, traced_wall):
    """Traced wall_s over the untraced wall_s of the same build, workload
    and run length in this checkout (same seed if recorded, else the median)."""
    path = history_path(stamp, workload, seconds)
    if not os.path.exists(path):
        return None, None
    with open(path) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    same = [r["wall_s"] for r in rows if r["seed"] == seed]
    base = same[-1] if same else statistics.median(r["wall_s"] for r in rows)
    return traced_wall / base - 1.0, ("same seed" if same else f"median of {len(rows)} seeds")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite expected_digests.tsv from this run's results")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, stamp = build()
    tables = os.path.join(WORK, "tables-" + tree_hash([os.path.join(BENCH, "src", "main", "scala",
                                                                   "enginebench", "Gen.scala")]))
    # Class-data-sharing archive of this build's classes: cuts JVM and session
    # start (not steady state) and is dumped by the table-generation JVM.
    archive = os.path.join(WORK, f"classes-{stamp}.jsa")
    if not os.path.exists(os.path.join(tables, "_DONE")) or not os.path.exists(archive):
        for old in os.listdir(WORK):
            stale = os.path.join(WORK, old)
            if old.startswith("classes-") and old.endswith(".jsa"):
                os.remove(stale)
            elif old.startswith("tables-") and not os.path.exists(os.path.join(stale, "_DONE")):
                shutil.rmtree(stale)
            elif old.startswith("tables-") and stale != tables:
                shutil.rmtree(stale)
        gen_dir = os.path.join(WORK, f"gen-{os.getpid()}")
        try:
            code = java(cp, gen_dir, ["generate", tables], os.path.join(WORK, "generate.log"),
                        [f"-XX:ArchiveClassesAtExit={archive}"])
        finally:
            shutil.rmtree(gen_dir, ignore_errors=True)
        if code != 0:
            die(f"table generation failed (see {WORK}/generate.log)")
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    # A build, table generation or the previous run leaves up to hundreds of
    # MiB for the kernel to write back: flush them now, not during the run.
    os.sync()

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(WORK, "results", tag + ".json")
    log = os.path.join(WORK, "results", tag + ".log")
    run_dir = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(result):
        os.remove(result)
    args = ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), tables, run_dir,
            os.path.join(BENCH, "expected_digests.tsv"), result]
    if a.record_digests:
        args.append("record")
    try:
        code = java(cp, run_dir, args, log, cds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(result):
        die(f"run produced no result (exit {code}; log: {log})", 1)
    with open(result) as fh:
        res = json.load(fh)

    wall = res["end_to_end"]["wall_s"]["value"]
    detail = {"workload": a.workload, "source": source_id() or f"tree:{stamp}",
              "regime": res["regime"], "samples": res["samples"], "detail": res["detail"],
              "failures": res["failures"], "log": os.path.relpath(log, ROOT)}
    if a.trace:
        over, basis = trace_overhead(stamp, a.workload, a.seconds, a.seed, wall)
        detail["trace_overhead"] = over
        detail["trace_overhead_basis"] = basis
        detail["trace_files"] = [os.path.relpath(result + s, ROOT) for s in (".spans.jsonl", ".ops.json")]
        metrics = res["per_layer"]
    else:
        if res["correct"]:
            os.makedirs(os.path.join(WORK, "history"), exist_ok=True)
            with open(history_path(stamp, a.workload, a.seconds), "a") as fh:
                fh.write(json.dumps({"seed": a.seed, "wall_s": wall, "t": time.time()}) + "\n")
        metrics = {k: res["end_to_end"][k] for k in END_TO_END}
        detail["end_to_end_units"] = {k: v["unit"] for k, v in metrics.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": bool(res["correct"]) and code == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
