#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve|ingest|surface --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs the workload in one JVM on
local[<cores>], checks its outputs and prints, as the last line, the
end-to-end metrics (trace 0) or the per-layer metrics (trace 1) named in
BENCHMARK.json. Everything it writes stays under perfbench/.work/.
"""
import argparse
import glob
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
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the benchmark unless the sources are
    unchanged since the last build; returns the runtime classpath and the
    sources' stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (src/main/scala) are missing")
    build = os.path.join(WORK, "build")
    os.makedirs(build, exist_ok=True)
    stamp, cp_file = os.path.join(build, "stamp"), os.path.join(build, "classpath")
    want = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip(), want
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as out:
        rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       timeout=800, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or "perfbench" not in cp or ":" not in cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, want


def host_record():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = max(2, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "mem_total_gb": round(mem_kb / 1048576, 1),
            "heap_gb": heap_gb, "loadavg": open("/proc/loadavg").read().split()[:3]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "surface"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json missing")
    spec = json.load(open(spec_path))
    cp, stamp = classpath()
    started = time.time()

    host = host_record()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        if a.workload == "surface":
            import tables
            tables.generate(a.seed, os.path.join(run_dir, "tables"))
        out = os.path.join(run_dir, "result.json")
        java = shutil.which("java") or fail("java not found")
        cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += [f"-Xmx{host['heap_gb']}g", f"-Xms{host['heap_gb']}g", "-XX:+AlwaysPreTouch",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                str(a.trace), run_dir, out]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as err:
            rc = run_group(cmd, timeout=RUN_LIMIT_S - (time.time() - started), cwd=run_dir,
                           env=env, stderr=err)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"workload {a.workload} {'timed out' if rc is None else f'exited {rc}'}")
        res = json.load(open(out))
        attempted, failed = res["attempted"], res["failed"]
        measured = res["metrics"]

        if a.workload == "surface":
            import oracle
            checked, failures = oracle.check(os.path.join(run_dir, "tables"),
                                             os.path.join(run_dir, "results"))
            for msg in failures:
                print(f"oracle mismatch: {msg}", file=sys.stderr)
            attempted += checked
            failed += len(failures)
            print(f"oracle: {checked - len(failures)}/{checked} queries match DuckDB")
            if a.trace:
                measured["failed_ops_ratio"] = failed / attempted

        kept = os.path.join(WORK, "results")
        os.makedirs(kept, exist_ok=True)
        with open(os.path.join(kept, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump({"stamp": stamp, "seconds": a.seconds, "host": host,
                       "info": res["info"], "metrics": measured,
                       "attempted": attempted, "failed": failed}, f, indent=1)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
            shutil.copy(os.path.join(run_dir, "spans.json"), dest)
            print(f"spans: {os.path.relpath(dest, ROOT)}")
            # tracing overhead: this run against the untraced runs of the same
            # sources and window kept here
            plain = []
            for path in glob.glob(os.path.join(kept, f"{a.workload}-seed*-trace0.json")):
                r = json.load(open(path))
                if r.get("stamp") == stamp and r.get("seconds") == a.seconds:
                    plain.append(r["metrics"])
            for name in ("query_p50_ms", "round_s"):
                vals = [m[name] for m in plain if m.get(name)]
                if vals and measured.get(name):
                    over = measured[name] / statistics.median(vals) - 1
                    print(f"tracing overhead: {name} {over:+.1%} against the median of "
                          f"{len(vals)} untraced run(s)")
            if not plain:
                print("tracing overhead: no untraced run of this workload to compare with")
        print("host: " + " ".join(f"{k}={v}" for k, v in host.items()) + " " +
              " ".join(f"{k}={v}" for k, v in res["info"].items()))
        print(f"ops: {attempted} attempted, {failed} failed")

        group = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in group:
            if m["name"] not in measured and not a.trace:
                fail(f"workload {a.workload} did not measure {m['name']}")
            metrics[m["name"]] = {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        logs = os.path.join(WORK, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"),
                        os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
