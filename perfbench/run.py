#!/usr/bin/env python3
"""Table-layer benchmark of graft: one workload, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) and caches the classpath and a class-data-
sharing archive under perfbench/target; later runs reuse them until a
source file changes. A host-speed probe is timed before and after the
run and printed, with the share of CPU time the hypervisor gave to
other guests while the JVM ran (steal). The last line of standard
output is one JSON object
with the keys correct, attempted, failed and metrics; the lines before
it list every figure of the workload by name, and the full result (and,
in traced runs, the spans) is kept under perfbench/out. Exits non-zero
when an output is wrong or the run could not be made. See
perfbench/README.md.
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
# BENCHMARK.json lists the first two; inventory is run by hand (README.md)
WORKLOADS = ("upsert_ingest", "mor_read", "inventory")
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD_DIR = os.path.join(HERE, "target", "bench")
OUT_DIR = os.path.join(HERE, "out")
# a fixed heap (-Xms = -Xmx), so that heap resizing adds no run-to-run noise
JVM_HEAP = "2g"
# The benchmark JVM sees half the host's cores, and its Spark master is
# local[N] over what the JVM sees: N task threads next to the client
# thread and the JIT and GC threads would otherwise oversubscribe the
# cores, so that run times follow the scheduler and the host's other load
# more than the program (see "Measurement discipline" in README.md).
JVM_CPUS = max(1, (os.cpu_count() or 2) // 2)
BUILD_TIMEOUT_S = 500  # a first run (build, archive run, run) stays under 15 minutes
ARCHIVE_TIMEOUT_S = 120
RUN_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
PROBE_ITERATIONS = 300_000  # 35 to 50 ms of one core per sample
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def java_cmd(cp, work, args, jvm_flags=()):
    """The benchmark JVM's command line; `work` holds its temporary files."""
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-XX:ActiveProcessorCount={JVM_CPUS}",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             # JVM warnings (class-data sharing among them) go to stderr,
             # so that standard output keeps only the benchmark's lines
             "-Xlog:disable", "-Xlog:all=warning:stderr"]
            + list(jvm_flags)
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main"] + args)


def build():
    """Build once per source state; returns the runtime classpath (jars
    only) and the class-data-sharing archive, or None where there is none.

    After a build, one short upsert_ingest run records the classes a
    workload loads (Spark, the program's write, commit, compaction and
    read paths, the benchmark) in a class-data-sharing archive that every
    later run maps instead of loading those classes from the jars; that
    halves JVM and Spark start-up on a 4-core host.
    """
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    archive = os.path.join(BUILD_DIR, "classes.jsa")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(BUILD_DIR, ignore_errors=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        code, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspathAsJars"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:])
            fail("build failed")
        os.makedirs(BUILD_DIR, exist_ok=True)
        with open(cp_file, "w") as fh:
            fh.write(lines[-1])
        work = os.path.join(BUILD_DIR, "archive-run")
        os.makedirs(os.path.join(work, "tmp"))
        try:
            run_child(java_cmd(lines[-1], work,
                               ["--workload", "upsert_ingest", "--seed", "0", "--seconds", "0.1",
                                "--trace", "0", "--work", work, "--out",
                                os.path.join(work, "result.json"), "--data", DATA],
                               [f"-XX:ArchiveClassesAtExit={archive}"]),
                      ARCHIVE_TIMEOUT_S, cwd=work, stdout=subprocess.DEVNULL,
                      stderr=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:  # runs go on without the archive
            if os.path.exists(archive):
                os.remove(archive)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return open(cp_file).read(), (archive if os.path.exists(archive) else None)


def oracle_failures(data_dir, dump_dir):
    """Names of the dumped results that the project's oracle gate
    (tools/check_oracle.py) finds different from their DuckDB oracles,
    with its reasons; every dumped row counts when the gate itself fails
    without naming rows (for example on a failed input guard)."""
    code, out = run_child(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data_dir, dump_dir],
        ORACLE_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = {}
    for line in out.splitlines():
        if line.startswith("FAIL "):
            parts = line.split(" ", 2)
            bad[parts[1]] = parts[2] if len(parts) > 2 else ""
    if code != 0 and not bad:
        names = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
        bad = {q: "oracle gate failed: " + out.strip()[-300:] for q in names}
    return bad


def per_layer(layers):
    """The per-layer metrics that BENCHMARK.json lists, with its units,
    from a traced run's figures; 0 where the workload has no such figure
    (a query figure in a table workload, say)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer"]
    return {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in listed}


def probe_ms():
    """The host-speed probe: a fixed single-thread CPU loop in this
    process, timed ten times; the mean in milliseconds. On a shared host
    single samples are bimodal (a core of its own or a contended one), so
    the mean of several tracks the share of slow samples. It measures the
    host, not the program, and nothing is normalised by it."""
    times = []
    for _ in range(10):
        t0 = time.perf_counter()
        x = 0
        for i in range(PROBE_ITERATIONS):
            x = (x * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.mean(times)


def cpu_ticks():
    """The host's CPU time counters, from the first line of /proc/stat:
    (steal, total) in ticks, or None where there is no such file. Steal
    is the time this machine's virtual CPUs waited while the hypervisor
    ran other guests."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (v[7] if len(v) == 8 else 0), sum(v)


def steal_pct(before, after):
    """Share of the CPU time between two cpu_ticks() readings that was
    stolen, in percent; None when either reading is missing."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def main():
    # a terminated launcher still stops the child it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}; run from a checkout of the repository")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail(f"no oracle gate at {ROOT}/tools/check_oracle.py")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail(f"no BENCHMARK.json at {ROOT}")
    if not os.path.isdir(DATA):
        fail(f"missing test tables in {DATA}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp, archive = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    result_file = os.path.join(OUT_DIR, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = java_cmd(cp, work,
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--out", result_file,
                    "--data", DATA],
                   [f"-XX:SharedArchiveFile={archive}"] if archive else [])
    probe_before = probe_ms()
    ticks_before = cpu_ticks()
    try:
        code, _ = run_child(cmd, RUN_TIMEOUT_S, cwd=work)
        steal = steal_pct(ticks_before, cpu_ticks())
        if code != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM exited with {code}")
        res = json.load(open(result_file))
        if a.workload == "inventory":
            dump = os.path.join(work, "inventory")
            executions = json.load(open(os.path.join(dump, "executions.json")))
            bad = oracle_failures(DATA, dump)
            for q, why in bad.items():
                res["notes"].append(f"{q} differs from its oracle: {why}")
                res["failed"] += executions.get(q, 1)
            res["failed"] = min(res["failed"], res["attempted"])
            res["correct"] = res["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    probe_after = probe_ms()
    res["probe_ms"] = [probe_before, probe_after]
    res["steal_pct"] = steal
    if a.trace:
        res["layers"]["host.probe_ms"] = statistics.mean(res["probe_ms"])
        res["per_layer"] = per_layer(res["layers"])
    with open(result_file, "w") as fh:
        json.dump(res, fh)

    for m in res["named"]:
        print(f"# {m['name']} = {m['value']:.6g} {m['unit']}")
    print(f"# host.probe_ms before = {probe_before:.6g} ms, after = {probe_after:.6g} ms")
    if steal is not None:
        print(f"# host.steal_pct = {steal:.4g} % (CPU time taken by other guests while the JVM ran)")
    if a.trace:
        for k, v in sorted(res["layers"].items()):
            print(f"# layer {k} = {v:.6g}")
    for n in res["notes"]:
        print(f"# NOTE {n}")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
