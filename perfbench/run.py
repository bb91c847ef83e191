#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {school,crawl} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt) into perfbench/target and
records the classpath under .bench_build/; later runs reuse it until a
source file changes. Each run generates its inputs from the seed under
.bench_build/runs/, runs one JVM (graftbench.Main) that measures for the
given seconds, checks the outputs, deletes the run directory and prints one
JSON result line last. Progress and engine logs go to stderr.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170           # a run ends within 180 s of its build
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.001")
JVM_OPTS = [
    "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt's launcher script starts a JVM child) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    fp = sources_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp:
            return s["classpath"]
    log("building engine + benchmark with sbt (first run in this checkout)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temp files, sockets and JVM perf data out of /tmp
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS=(
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"))
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.boot.lock=false",
            "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(tmp, "sbt.log")
    with open(log_path, "w") as logf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       850, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cp = [x for x in lines if "scala-2.13/classes" in x and not x.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def registry_inputs(seed, out_dir):
    """The registry's tables with every table's rows in a seeded order.
    Every query result is order-independent, so the expected digests hold
    for every seed while the engine sees differently laid-out files."""
    import pyarrow.parquet as pq
    import random
    rng = random.Random(f"registry-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(REGISTRY_DATA)):
        t = pq.read_table(os.path.join(REGISTRY_DATA, name))
        order = list(range(t.num_rows))
        rng.shuffle(order)
        pq.write_table(t.take(order), os.path.join(out_dir, name))
    with open(os.path.join(HERE, "registry_expected.json")) as f:
        return json.load(f)


def run_jvm(classpath, workload, a, inputs, work, t_start, extra=()):
    """One benchmark JVM; returns the JSON it wrote."""
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graftbench.Main", workload, inputs, work, str(a.trace), out]
           + list(extra))
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", TMPDIR=f"{work}/tmp")
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as logf:
            rc = run_group(cmd, max(10, DEADLINE_S - (time.time() - t_start)),
                           stdout=logf, stderr=subprocess.STDOUT, env=env)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine's sources (src/main/scala) are "
                         "not in this checkout; nothing to benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    t_start = time.time()     # the 180 s limit starts after a build
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    try:
        g0 = time.perf_counter()
        manifest = gen.GENERATORS[a.workload](a.seed, os.path.join(inputs, a.workload))
        expected = {}
        extra = []
        if a.trace and a.workload == "school":
            expected = registry_inputs(a.seed, os.path.join(inputs, "registry"))
            extra = [os.path.join(inputs, "registry"), ",".join(sorted(expected))]
        gen_s = time.perf_counter() - g0

        # Fresh benchmark JVMs one after another until the time is spent:
        # each is set up, then runs one cold and one incremental phase, as
        # one CLI run of the engine does. A traced run is a single JVM.
        launches = []
        t_measure = time.time()
        while not launches or (not a.trace and time.time() - t_measure < a.seconds):
            last = (time.time() - t_measure) / len(launches) if launches else 0
            if launches and time.time() - t_start + 1.5 * last > DEADLINE_S:
                break
            launches.append(run_jvm(classpath, a.workload, a, os.path.join(inputs, a.workload),
                                    os.path.join(work, str(len(launches))), t_start, extra))
        res = launches[0]

        its = [i for r in launches for i in r["iterations"]]
        check = checks.check_school if a.workload == "school" else checks.check_crawl
        attempted, failed, problems = check(its, manifest)
        if expected:
            n, f, p = checks.check_registry(res["hashes"], expected)
            attempted, failed, problems = attempted + n, failed + f, problems + p
        for p in problems[:20]:
            log(f"check failed: {p}")

        first = [r["iterations"][0] for r in launches]
        e2e = {
            "setup_s": statistics.median([r["setup_s"] for r in launches]),
            "cold_s": statistics.median([i["cold_s"] for i in first]),
            "incr_s": statistics.median([i["incr_s"] for i in first]),
        }
        context = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "nproc": res["nproc"], "heap_mb": res["heap_mb"],
            "sentinel_start_s": res["sentinel_start_s"],
            "sentinel_end_s": res["sentinel_end_s"],
            "sf_dir": os.path.relpath(REGISTRY_DATA, ROOT) if expected else None,
            "jvms": len(launches), "gen_s": gen_s,
            # where the first JVM's phases spent their time
            "phases": {p: {k: v for k, v in res["iterations"][0][p].items()
                           if k.endswith("_s") or k in (
                               "requests", "errors_5xx", "peak_inflight", "peak_rps")}
                       for p in ("cold", "incr")},
        }
        if a.workload == "school":
            # the reference's limits, beside the peaks the simulator saw
            context["llm_caps"] = {"peak_inflight": 250, "peak_rps": 10000 / 60}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        print(json.dumps({"context": context}))
        # the end-to-end figures with memory and the failure share beside them
        summary = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        summary["peak_rss_mb"] = {"value": statistics.median(
            [r["peak_rss_mb"] for r in launches]), "unit": "MB"}
        summary["failed_share"] = {"value": failed / attempted, "unit": "share"}
        print(json.dumps({"summary": summary}))
        if a.trace:
            layer = dict(res["per_layer"])
            layer.update({
                "env.gen_s": gen_s,
                "env.sentinel_start_s": res["sentinel_start_s"],
                "env.sentinel_end_s": res["sentinel_end_s"],
                "env.peak_rss_mb": res["peak_rss_mb"],
                "checks.failed_share": failed / attempted,
            })
            names = [m["name"] for m in spec["per_layer"]]
            unknown = sorted(set(layer) - set(names))
            if unknown:
                raise SystemExit(f"perfbench: per-layer metrics missing from "
                                 f"BENCHMARK.json: {unknown}")
            # a layer this workload does not exercise did no work: 0
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]}
                       for n in names}
            with open(os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(res["spans"] + res.get("registry_spans", []), f)
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
