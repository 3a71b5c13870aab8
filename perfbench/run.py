#!/usr/bin/env python3
"""Benchmark of the file pipeline and the stored-query surface.

    python3 perfbench/run.py --workload ingest|maintain --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run works in its own directory under
``perfbench/.runs/``, generates its inputs from the seed, starts one JVM
(``perfbench.Main``), checks the outputs against computations made apart from
the program, deletes its directory and prints one JSON line.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CPUS = min(4, len(os.sched_getaffinity(0)))
JVM_TIMEOUT_S = 140


def build_inputs():
    if not os.path.isdir(f"{ROOT}/src/main"):
        raise SystemExit(f"no program sources under {ROOT}")
    files = [f"{ROOT}/build.sbt", f"{BENCH}/build.sbt"]
    for d in (f"{ROOT}/project", f"{BENCH}/project"):
        files += [f"{d}/{n}" for n in sorted(os.listdir(d))
                  if n.endswith((".sbt", ".properties", ".scala"))]
    for d in (f"{ROOT}/src/main", f"{BENCH}/src"):
        for dp, dns, fns in os.walk(d):
            dns.sort()
            files += [os.path.join(dp, n) for n in sorted(fns)]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled program plus harness; builds when stale."""
    stamp = build_inputs()
    out = f"{BENCH}/.build"
    try:
        with open(f"{out}/stamp") as f, open(f"{out}/classpath") as g:
            if f.read() == stamp:
                return g.read()
    except OSError:
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if "perfbench/target" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/classpath", "w") as f:
        f.write(lines[-1].strip())
    with open(f"{out}/stamp", "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, workload, seconds, trace, run_dir, data_dir, setup_start, gen_cpu_s):
    for d in ("tmp", "local", "work"):
        os.makedirs(f"{run_dir}/{d}")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    p = gen.PARAMS
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seconds), str(trace), run_dir,
            data_dir, str(int(setup_start * 1000)), str(gen_cpu_s), str(CPUS),
            str(p["chunk"]), str(p["nsym"]), str(p["max_file_bytes"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local", TMPDIR=f"{run_dir}/tmp")
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=f"{run_dir}/work", env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{run_dir}/jvm.log", errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    with open(f"{run_dir}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    cp = build()
    setup_start = time.time()  # set-up runs from here: the build is not part of it

    run_dir = f"{BENCH}/.runs/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_cpu0 = time.process_time()
        if a.workload == "ingest":
            data_dir = f"{run_dir}/gen"
            manifest = gen.ingest(a.seed, data_dir)
        else:
            data_dir = f"{run_dir}/data"
            gen.tables(a.seed, data_dir)
        t_gen = time.time()
        res = run_jvm(cp, a.workload, a.seconds, a.trace, run_dir, data_dir, setup_start,
                      time.process_time() - gen_cpu0)
        t_jvm = time.time()
        errs = list(res["errors"])
        if a.workload == "ingest":
            errs += check.ingest(manifest, f"{run_dir}/pipe", int(res["info"]["waves_landed"]),
                                 a.seed)
        else:
            oerrs, checked = check.oracle(ROOT, data_dir, f"{run_dir}/results",
                                          res["info"]["queries"], f"{run_dir}/tmp")
            errs += oerrs
            if checked == 0:
                errs.append("no query had an oracle to check against")
        sys.stderr.write("measured: " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}) + "\n")
        sys.stderr.write(f"phases: start {t_gen - T0:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
                         f"checks {time.time() - t_jvm:.1f} s; info {json.dumps(res['info'])[:600]}\n")
        for e in errs:
            sys.stderr.write(f"check failed: {e}\n")
        if a.trace:
            # spans plus the traced run's end-to-end figures (set beside an
            # untraced run's, they give the tracing overhead)
            os.makedirs(f"{BENCH}/.traces", exist_ok=True)
            with open(f"{run_dir}/trace.json") as f:
                spans = json.load(f)
            with open(f"{BENCH}/.traces/{a.workload}-{a.seed}.json", "w") as f:
                json.dump({"metrics": res["metrics"], "info": res["info"], "spans": spans}, f)
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["metrics"]
        metrics = {}
        for m in wanted:
            # a layer the workload does not exercise reads 0
            v = got.get(m["name"], {"value": 0.0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": not errs, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
