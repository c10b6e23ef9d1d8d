#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck          # tiny smoke run of every workload

Run it from the repository root. It builds the engine and the
benchmark's JVM code from source (sbt, in perfbench/), makes the
workload's inputs from the seed, runs the workload in a fresh JVM,
checks the outputs and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The full record (context, details, per-layer self
times) is the line before it. Exits non-zero when a check fails.
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
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402  (the benchmark's own input generator, next to this file)

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
# JVMs whose set-up is timed per run: the run's own, then a probe. More
# probes would not fit the run budget (70 runs in 3420 s).
SETUP_SAMPLES = 2
DEADLINE_S = 170

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build: the engine's main sources, the
    benchmark's JVM sources and its build files."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=850)
    lines = [l.strip() for l in r.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def java_cmd(cp, heap="3g"):
    return ["java", f"-Xmx{heap}", "-Xms1g", *ADD_OPENS, "-cp", cp, "graft.perfbench.PerfBench"]


def jvm_env(work):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def run_jvm(cmd, work, deadline, probe=False):
    """Runs one JVM in its own process group; returns (setup_s, RESULT
    json or None, rc). A set-up probe is stopped as soon as it reports,
    a run as soon as it has printed its result."""
    os.makedirs(work, exist_ok=True)
    err = open(os.path.join(work, "jvm.err"), "w")
    t_launch = time.time_ns()
    cmd = [cmd[0], f"-Djava.io.tmpdir={work}"] + cmd[1:]
    p = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdout=subprocess.PIPE, stderr=err,
                         text=True, start_new_session=True)
    setup_s, result = None, None
    try:
        for line in p.stdout:
            if line.startswith("SETUP_DONE "):
                setup_s = (int(line.split()[1]) - t_launch) / 1e9
                if probe:
                    break
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
                break
            if time.time() > deadline:
                break
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        err.close()
    return setup_s, result, 0 if (result or (probe and setup_s)) else p.returncode


def check_oracle(tables, out):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"), tables, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    return r.returncode == 0, r.stdout.strip().splitlines()


def run_workload(name, seed, seconds, trace, cp, digest, bench):
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    cfg = WORKLOADS[name]
    work = os.path.join(BUILD, "work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--mode", "run", "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--source-digest", digest,
            "--routes", os.path.join(HERE, "routes.toml")]
    failures = []
    if name == "nozzle-bulk":
        rows = cfg["rows_per_file"]
        files = max(2, -(-seconds * cfg["nominal_rate"] // rows))
        gen_tables.events_surrogate(os.path.join(work, "events"), seed, rows, files)
        gen_tables.events_surrogate(os.path.join(work, "warm"), seed ^ 0x5EED, rows, 1)
        args += ["--rows-per-file", str(rows), "--events", os.path.join(work, "events"),
                 "--warm", os.path.join(work, "warm")]
        if trace:
            gen_tables.events_surrogate(os.path.join(work, "scale"), seed ^ 0x5CA1E, rows, 3)
            args += ["--scale-events", os.path.join(work, "scale")]
    if name == "nozzle-ws":
        args += ["--rate", str(cfg["rate"])]
    if name == "batch-sample":
        tables = os.path.join(work, "tables")
        gen_tables.generate(tables, seed, cfg["scale"])
        args += ["--tables", tables, "--queries", os.path.join(HERE, cfg["queries"]),
                 "--validate-out", os.path.join(work, "validate")]

    # Set-up samples: the run's own JVM, then probe JVMs one after
    # another once it has exited, so no two JVMs set up at the same time.
    t_inputs = time.time() - t_start
    s, rec, rc = run_jvm(java_cmd(cp) + args, work, deadline)
    t_jvm = time.time() - t_start
    if s is None or rec is None:
        tail = open(os.path.join(work, "jvm.err")).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"{name}: benchmark JVM produced no result (rc={rc})", 1)
    setups = [s]
    for i in range(SETUP_SAMPLES - 1):
        ps, _, prc = run_jvm(java_cmd(cp) + ["--mode", "setup"], os.path.join(work, f"setup{i}"),
                             deadline, probe=True)
        if ps is None or prc != 0:
            fail(f"set-up probe JVM failed (rc={prc})")
        setups.append(ps)
    failures += rec["check_failures"]

    if name == "batch-sample":
        ok, lines = check_oracle(tables, os.path.join(work, "validate"))
        rec["detail"]["oracle"] = lines[-1] if lines else ""
        if not ok:
            failures += [l for l in lines if l.startswith("FAIL")] or ["oracle check failed"]

    metrics = dict(rec["metrics"])
    metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    rec["detail"]["setup_samples_s"] = setups
    rec["detail"]["run_s"] = {"inputs": t_inputs, "jvm": t_jvm, "total": time.time() - t_start}
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    own = set(cfg["layers"]) if trace else {m["name"] for m in wanted}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for k, got in metrics.items():
        if units.get(k) != got["unit"]:
            failures.append(f"metric {k} ({got['unit']}) is not in BENCHMARK.json with that unit")
    out = {}
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            if m["name"] in own:
                failures.append(f"metric {m['name']} was not measured")
            got = {"value": 0.0, "unit": m["unit"]}  # the layer does not run in this workload
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    rec["emitted"] = sorted(metrics)
    rec["check_failures"] = failures
    if trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, "traces", f"{name}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": not failures and rec["failed"] == 0, "attempted": max(1, rec["attempted"]),
              "failed": rec["failed"] + (len(failures) if rec["failed"] == 0 else 0), "metrics": out}
    return rec, result


def selfcheck(cp, digest, bench):
    """Tiny runs of every workload in both modes. A run already fails
    when the JVM emits a metric that BENCHMARK.json lacks or names with
    another unit, or omits one of the mode's metrics (per-layer: one of
    the workload's layers); here every run must also pass its checks."""
    bad = []
    for w in bench["workloads"]:
        for trace in (False, True):
            rec, res = run_workload(w["name"], 1, 2, trace, cp, digest, bench)
            if not res["correct"]:
                bad.append(f"{w['name']} trace={trace}: {rec['check_failures']}")
            print(json.dumps({"workload": w["name"], "trace": trace, **res}))
    for b in bad:
        print("SELFCHECK FAIL " + b, file=sys.stderr)
    print("SELFCHECK " + ("OK" if not bad else "FAILED"))
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the repository root")
    bench = json.load(open(bench_file))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are needed to build and run the benchmark")
    digest = source_digest()
    cp = build(digest)
    if a.selfcheck:
        sys.exit(0 if selfcheck(cp, digest, bench) else 1)
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")
    seconds = a.seconds or bench["run_seconds"]
    rec, result = run_workload(a.workload, a.seed, seconds, bool(a.trace), cp, digest, bench)
    print(json.dumps(rec, sort_keys=True))
    for f in rec["check_failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
