#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <query_suite|etl_ticks|point_ops>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the harness from source (once per source state,
cached under .bench_build/), generates the workload's inputs from the seed,
runs the workload in one JVM and prints one JSON result line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.

Extra modes:
    --workload all        run every workload untraced, then print each
                          workload's own end-to-end figures
    --selftest 1          sf0.001, a handful of ops per workload; asserts
                          every metric named in BENCHMARK.json is emitted
                          with its unit and that the correctness checks ran

Everything the run writes stays inside the checkout: .bench_build/ (build
stamp, classpath, the seed-independent query_suite tables), .bench_work/
(scratch, removed after each run) and
.bench_work/captures/ (one capture per run, never overwritten).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
QUERY_SF = 0.01  # query_suite table scale; etl_ticks' history has the same shape

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources plus harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile (if the sources changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources at src/main/scala: nothing to benchmark")
        sys.exit(2)
    stamp = source_stamp()
    stamp_f, cp_f = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read().strip() == stamp:
                with open(cp_f) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if not l.startswith("[") and ("/classes" in l or ".jar" in l)), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (rc={p.returncode})")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


def tables(sf):
    """The query_suite input tables at scale sf. They do not depend on the
    run's seed, so they are generated once per generator version and kept
    under .bench_build/ like the build itself."""
    sys.path.insert(0, HERE)
    import gen_tables
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(BUILD, "tables", f"sf{sf}-{key}")
    if not os.path.isdir(data):
        tmp = f"{data}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.generate(tmp, sf)
        os.replace(tmp, data)
    return data


def run_jvm(cp, workload, seed, seconds, trace, t0_ms, selftest=False, extra=()):
    """One workload in one JVM; returns (rc, result dict or None)."""
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_f = os.path.join(work, "result.json")
    sf = 0.001 if selftest else QUERY_SF
    args = ["--sf", str(sf), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work-dir", work, "--t0-ms", str(t0_ms),
            "--result-file", result_f, "--selftest", "1" if selftest else "0",
            "--fingerprints", os.path.join(HERE, "fingerprints.json"),
            "--spec", os.path.join(ROOT, "BENCHMARK.json"),
            "--layers", os.path.join(HERE, "layers.json")] + list(extra)
    if workload == "query_suite":
        args += ["--data-dir", tables(sf)]
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
        "-cp", cp, "graftbench.Main"] + args
    err_f = open(os.path.join(work, "jvm.err"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=err_f, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload}: JVM exceeded {JVM_TIMEOUT_S}s, killed")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = -9
    err_f.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.err")) as f:
            sys.stderr.write(f.read()[-3000:])
    res = None
    if os.path.exists(result_f):
        with open(result_f) as f:
            res = json.loads(f.read())
    shutil.rmtree(work, ignore_errors=True)
    return rc, res


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def selftest(cp, seed):
    spec = load_spec()
    problems = []
    runs = [(x["name"], t) for x in spec["workloads"] for t in (False, True)]
    runs.append(("point_ops", False))  # not in BENCHMARK.json, still checked
    for w, trace in runs:
        names = spec["per_layer"] if trace else spec["end_to_end"]
        rc, res = run_jvm(cp, w, seed, 2, trace, int(time.time() * 1000), selftest=True)
        if rc != 0 or res is None:
            problems.append(f"{w} trace={int(trace)}: rc={rc}, no result")
            continue
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            problems.append(f"{w} trace={int(trace)}: correct={res['correct']} "
                            f"failed={res['failed']} attempted={res['attempted']}")
        for m in names:
            got = res["metrics"].get(m["name"])
            if got is None or got.get("unit") != m["unit"] or got.get("value") is None:
                problems.append(f"{w} trace={int(trace)}: {m['name']} missing or wrong unit: {got}")
        log(f"selftest {w} trace={int(trace)}: attempted={res['attempted']} "
            f"failed={res['failed']} metrics={len(res['metrics'])}")
    print(json.dumps({"selftest": "pass" if not problems else "fail", "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    cp = build()
    if a.workload == "query_suite":
        tables(QUERY_SF)
    t0_ms = int(time.time() * 1000)  # set-up time excludes the one-off build
    if a.selftest:
        return selftest(cp, a.seed)
    if a.workload == "all":
        out = {}
        for w in [x["name"] for x in load_spec()["workloads"]]:
            rc, res = run_jvm(cp, w, a.seed, a.seconds, False, int(time.time() * 1000))
            out[w] = {"rc": rc, "result": res}
        print(json.dumps(out))
        return 0 if all(v["rc"] == 0 and v["result"] and v["result"]["correct"]
                        for v in out.values()) else 1
    rc, res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), t0_ms)
    if res is None:
        log(f"no result (rc={rc})")
        return rc or 4
    print(json.dumps(res), flush=True)
    if rc != 0:
        return rc
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
