#!/usr/bin/env python3
"""Run one benchmark run of graft and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and generates the
input tables (gen_data.py); later runs reuse both while their sources
are unchanged. The harness (perfbench.Main) runs in one JVM and writes
a result file; this script prints every metric by name and unit, then,
as the last line, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1.

A run in which queries failed still prints its result line, with
`correct` false and the metrics it could measure. Exits non-zero,
without a result line, when the engine sources are missing, the build
fails, the run times out or the harness produced no result.
"""
import argparse
import glob
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

HEAP = "3g"
RUN_LIMIT_S = 170  # one run, after the one-time build


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(*dirs):
    return [p for d in dirs for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
            if os.path.isfile(p)]


def run_logged(cmd, log_path, timeout, cwd, env=None):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
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


def build():
    """Compiles engine + harness when their sources changed; returns the
    JVM launch line (classpath, then the engine's JVM options)."""
    engine = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in engine):
        fail("engine sources (build.sbt, src/main) not found next to perfbench/", 2)
    sources = files_under(os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                          os.path.join(ROOT, "project"), os.path.join(HERE, "project"))
    sources += [engine[0], os.path.join(HERE, "build.sbt")]
    sources = [p for p in sources if "/target/" not in p]
    stamp = digest(sources)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        if shutil.which("sbt") is None:
            fail("sbt not found", 3)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        rc = run_logged(["sbt", "-batch", "-Dsbt.server.autostart=false",
                         "compile", "writeLaunch"],
                        os.path.join(BUILD, "build.log"), 850, HERE, env)
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def data_stamp():
    """What the input tables are a function of; reference.json records it.
    gen_data.py fixes the scale and the data seed."""
    return {"generator_sha256": digest([os.path.join(HERE, "gen_data.py")])}


def data_dir():
    import gen_data
    stamp = json.dumps(data_stamp(), sort_keys=True)
    d = os.path.join(HERE, ".data", "tables")
    stamp_file = os.path.join(d, "STAMP")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(tmp)
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        os.rename(tmp, d)
    return d


def host_steal_s():
    """CPU time the hypervisor gave to other guests (Linux /proc/stat),
    summed over cpus; None where the host does not report it."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description="one graft benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    reference = os.path.join(HERE, "reference.json")
    if json.load(open(reference)).get("data") != data_stamp():
        fail("reference.json was pinned for other inputs; re-run certify.py", 2)
    classpath, jvm_opts = build()
    data = data_dir()

    t0 = time.monotonic()
    steal0 = host_steal_s()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    out = os.path.join(results, name + ".json")
    # a fixed heap: G1 shrinks a resizable heap after the full GC that
    # ends each pass and then collects far more often, in some JVMs only
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp", *jvm_opts,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--out", out,
           "--reference", reference, "--work", run_dir]
    log = os.path.join(results, name + ".log")
    try:
        rc = run_logged(cmd, log, RUN_LIMIT_S, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S}s (log: {os.path.relpath(log, ROOT)})", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc} (log: {os.path.relpath(log, ROOT)})", 4)
    res = json.load(open(out))

    for f in res["failures"]:
        print(f"FAILED {f['query']} ({f['phase']}, pass {f['pass']}): {f['error']}")
    section = "per_layer" if a.trace else "end_to_end"
    got = {k: v for k, v in res[section].items() if v["value"] is not None}
    declared = [m["name"] for m in spec[section]]
    absent = [m for m in declared if m not in got]
    attempted, failed = res["attempted"], res["failed"]
    if absent and not failed:
        fail(f"result lacks declared metrics: {', '.join(absent)}", 4)
    print(f"{a.workload} seed={a.seed} trace={a.trace}: {len(res['passes'])} timed passes, "
          f"{res['query_samples']} query samples, {attempted} executions, {failed} failed "
          f"(failed_frac={failed / attempted:.4f}), {time.monotonic() - t0:.1f}s")
    steal1 = host_steal_s()
    if steal0 is not None and steal1 is not None:
        # other guests' load on a shared host slows every timing of the run
        print(f"  host cpu steal during the run: {steal1 - steal0:.1f} cpu-s")
    for k in sorted(got):
        print(f"  {k:32s} {got[k]['value']:>14.6g} {got[k]['unit']}")
    metrics = {k: {"value": got[k]["value"], "unit": got[k]["unit"]}
               for k in declared if k in got}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
