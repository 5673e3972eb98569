#!/usr/bin/env python3
"""graft benchmark: one command for the benchmark's workloads.

    python3 perfbench/run.py --workload motor_ingest --seed 1 --seconds 1 --trace 0

Builds the program from the checkout's own sources (cached by a hash of
them), generates the workload's inputs from the seed (cached per seed
and size), runs the workload in one JVM, checks the outputs apart from
the program, and prints one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything it writes stays
under ``perfbench/.work``. See README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("motor_ingest", "policy_table")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile graft + the harness with sbt (offline) once per source
    hash; returns the runtime classpath and the hash."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build", h.hexdigest()[:16] + ".classpath")
    if os.path.exists(stamp):
        return open(stamp).read().strip(), h.hexdigest()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        die(f"build failed (see {log})", 3)
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip(), h.hexdigest()


def run_jvm(cp, run_dir, argv):
    """Run the harness; its stdout/stderr go to a log beside its result.
    The JVM is killed (and waited for) if it overruns."""
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS],
           "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main", *argv]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload overran {JVM_TIMEOUT_S}s (see {run_dir}/jvm.log)", 4)
        finally:  # never leave the JVM behind, also when this process is stopped
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        tail = open(f"{run_dir}/jvm.log").read()[-3000:]
        die(f"harness exited {code}:\n{tail}", 5)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not beside this benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run graft")

    cp, source_hash = build()
    sys.path.insert(0, HERE)
    import checks
    import gen
    t_gen = time.time()
    data = gen.ensure(os.path.join(WORK, "data"), a.workload, a.seed)
    gen_s = time.time() - t_gen

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # two executor threads: with four, executors plus JIT and GC threads
    # keep every vCPU of a 4-vCPU host busy (README, Budget)
    cores = min(2, os.cpu_count() or 1)
    argv = ["--workload", a.workload, "--data", data, "--work", run_dir,
            "--out", f"{run_dir}/result.json", "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)]
    if a.workload == "motor_ingest":
        size = gen.SIZES["motor_ingest"]
        with open(f"{run_dir}/motor_template.json", "w") as f:
            json.dump(gen.motor_metadata(data, "__OUT__", size["days"]), f, indent=1)
        argv += ["--meta", f"{run_dir}/motor_template.json", "--days", str(size["days"]),
                 "--anchor", gen.motor_day(0).isoformat()]
    else:
        argv += ["--commits", str(gen.SIZES["policy_table"]["commits"])]
    run_jvm(cp, run_dir, argv)

    res = json.load(open(f"{run_dir}/result.json"))
    bad, notes = checks.check(a.workload, res, run_dir, data)
    ops = res["ops"]
    failed = sum(1 for i, op in enumerate(ops) if not op["ok"] or i in bad)
    for note in notes[:20]:
        print(f"check: {note}", file=sys.stderr)

    # timings that host load moves too much to gate: every run records
    # them; the traced run prints them as per-layer metrics (README,
    # End-to-end metrics)
    n = len(ops)
    timings = {"run.wall_s": statistics.median(res["round_wall_s"]),
               "run.op_p50_s": statistics.median(op["s"] for op in ops),
               "run.setup_wall_s": statistics.median(res["setup_runs_s"]),
               "run.op_cpu_s": res["region_app_cpu_s"] / n,
               "run.op_jvm_cpu_s": res["region_cpu_s"] / n}
    if a.trace:
        layers = {**res["per_layer"], **timings, "jvm.heap_live_mb": res["peak_heap_mb"]}
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench_spec()["per_layer"]}
    else:
        values = {"setup_s": statistics.median(res["setup_app_cpu_s"]),
                  "op_jobs": res["region_jobs"] / n,
                  "op_read_mb": res["region_input_mb"] / n, "written_mb": res["written_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench_spec()["end_to_end"]}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "git_commit": git_commit(), "source_sha256": source_hash, "generation_s": gen_s,
              "rounds": len(res["round_wall_s"]), "round_wall_s": res["round_wall_s"],
              "setup_runs_s": res["setup_runs_s"], "setup_cpu_s": res["setup_cpu_s"],
              "setup_app_cpu_s": res["setup_app_cpu_s"], "region_cpu_s": res["region_cpu_s"],
              "region_app_cpu_s": res["region_app_cpu_s"],
              "region_jobs": res["region_jobs"], "region_input_mb": res["region_input_mb"],
              "timings": timings, "op_s": [op["s"] for op in ops],
              "per_layer": res["per_layer"], "env": res["env"], "check_notes": notes,
              "metrics": metrics, "attempted": len(ops), "failed": failed}
    for k in ("write_amp", "written_mb", "stored_mb"):
        if k in res:
            record[k] = res[k]
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(f"{run_dir}/result.trace.json", os.path.join(records, os.path.basename(run_dir) + ".trace.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": True, "attempted": len(ops), "failed": failed, "metrics": metrics}))


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
