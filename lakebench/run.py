#!/usr/bin/env python3
"""Benchmark entry point: builds the engine with the benchmark program,
runs one workload in its own JVM, checks correctness and prints one JSON
result line.

    python3 lakebench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads: query_mix, cdc_scd2 (see lakebench/METRICS.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything it builds, generates or writes stays under lakebench/ in the
checkout (build output, the generated lake tables, a per-run work dir and one
result file per run under lakebench/results/).
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
sys.path.insert(0, HERE)
import report  # noqa: E402

DATA_SCALE = 0.01
DATA_SEED = 42
HEAP = "4g"
BUILD_TIMEOUT_S = 840
# The JVM gets this long from its launch; the build before it may take longer
# on the first run of a checkout.
JVM_DEADLINE_S = 150
WORKLOADS = ("query_mix", "cdc_scd2")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


_child = None


def _stop(signum, _frame):
    """Take the running build or JVM down with us, and wait for it."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def _run(cmd, timeout, **kw):
    """Run a child in its own process group; returns its exit code, or
    "timeout" after killing the whole group."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return "timeout"
    finally:
        _child = None


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark program with sbt (offline) and return the runtime
    classpath; skipped when the sources are unchanged since the last
    build in this checkout."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine + benchmark program with sbt")
    t0 = time.time()
    os.makedirs(target, exist_ok=True)
    build_log = os.path.join(target, "build.log")
    with open(build_log, "wb") as out:
        code = _run(["sbt", "-batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                    BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        with open(build_log, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-4000:])
        raise SystemExit(f"build failed ({code})")
    log(f"build done in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def data_dir():
    """The lake tables, generated once per checkout (fixed seed and
    scale, so the stored result hashes apply)."""
    d = os.path.join(HERE, "data", f"sf{DATA_SCALE}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, DATA_SCALE, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def cores():
    return str(len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
               else os.cpu_count())


def run_jvm(cp, workload, seed, seconds, trace, data, record):
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "run.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = cores()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", "-XX:+ExitOnOutOfMemoryError", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "lakebench.Main",
            workload, str(seed), str(seconds), str(trace), data, work, raw,
            os.path.join(HERE, "expected", "query_hashes.tsv")]
    if record:
        cmd.append("record")
    with open(os.path.join(work, "jvm.log"), "wb") as out:
        code = _run(cmd, JVM_DEADLINE_S, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(raw):
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(raw) as f:
        rec = json.load(f)
    return rec, work


def main():
    ap = argparse.ArgumentParser(description="graft lakehouse benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write expected/query_hashes.tsv from this run's results")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("engine sources not found next to lakebench/: "
                         "run from the root of a graft checkout")
    cp = build()
    data = data_dir()
    load1 = os.getloadavg()[0]
    rec, work = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, a.record)
    result = report.summarize(rec, a.trace == 1)
    result["provenance"] = report.provenance(ROOT, rec, a.seed, cores(), HEAP, load1)
    if a.record:
        report.record_expected(rec, os.path.join(HERE, "expected"))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    for line in result["notes"]:
        print(line)
    for e in result["errors"]:
        print(f"ERROR {e}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
