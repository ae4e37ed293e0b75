#!/usr/bin/env python3
"""Benchmark of the graft engine's production job and its batch queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20

The first form runs one workload and prints, as its last line, one JSON
object with the verdict (`correct`, `attempted`, `failed`) and the metrics
that BENCHMARK.json lists: the end-to-end ones with `--trace 0`, the
per-layer ones with `--trace 1`. The line before it is a summary with the
run's context and the workload's metrics under their own names. `--all`
runs every workload untraced and prints one table of those named metrics.

The engine and the benchmark are compiled from this checkout with sbt on
the first run (the build is reused while the sources are unchanged). All
files the benchmark makes stay under `.bench_build/` in the checkout.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("stream_drain", "stream_paced", "batch_suite")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with one run after it, within 900 s
# a fixed, pre-touched heap, so that peak memory does not depend on when the
# collector chose to grow the heap; Main.peakMemMb takes the heap out of the
# resident peak and adds the heap's peak use instead
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build compiles or is configured by, in a fixed order."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"no engine sources at {engine}: run from the root of a graft checkout")
    files = sorted(p for p in engine.rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt unless this source set was built."""
    files = sources()
    digest = source_digest(files)
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log = BUILD / "build.log"
    with open(log, "w") as out:
        p = started(subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                                     stdin=subprocess.DEVNULL, text=True, start_new_session=True))
        try:
            stdout, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"build timed out; see {log}")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed; see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip(), digest


CHILDREN = []


def started(p):
    """Registers a child process group for `stop_children`."""
    CHILDREN.append(p)
    return p


def stop_children(signum, _frame):
    """On SIGTERM or SIGINT: stops every child process group, waits, exits."""
    for p in CHILDREN:
        if p.poll() is None:
            kill(p)
    sys.exit(128 + signum)


def kill(p):
    """Stops a process group and waits for it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java_cmd(cp, tmp):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_jvm(cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM and returns its result object."""
    tag = f"{workload}-{seed}-{'traced' if trace else 'plain'}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = BUILD / "results" / f"{tag}.json"
    out.unlink(missing_ok=True)
    cmd = java_cmd(cp, work / "tmp") + ["perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", str(HERE / "data"), "--work", str(work), "--out", str(out)]
    log = BUILD / "logs" / f"{tag}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    # two malloc arenas: with glibc's default of eight per core, a run's
    # native peak jumped by 64 MiB steps from run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log, "w") as lf:
        p = started(subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True))
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"{workload} timed out after {RUN_TIMEOUT_S} s; see {log}")
    if p.returncode != 0 or not out.exists():
        fail(f"{workload} exited with {p.returncode}; see {log}")
    shutil.rmtree(work, ignore_errors=True) if not trace else None
    return json.loads(out.read_text())


def named(workload, res):
    """The workload's end-to-end metrics under the names they have for it."""
    e, c = res["e2e"], res["context"]
    share = res["failed"] / res["attempted"]
    if workload == "stream_drain":
        own = {"throughput_tps": e["rate_per_s"], "batch_p50_ms": e["typical_ms"]}
    elif workload == "stream_paced":
        own = {"freshness_p50_ms": e["typical_ms"], "freshness_p95_ms": c["freshness_p95_ms"]}
    else:
        own = {"suite_s": c["suite_s"], "query_geomean_ms": e["typical_ms"]}
    return dict(own, setup_s=e["setup_s"], failed_share=share, peak_mem_mb=e["peak_mem_mb"])


def main():
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload untraced")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail(f"no {spec_file}")
    spec = json.loads(spec_file.read_text())

    t0 = time.time()
    cp, digest = build()
    build_s = time.time() - t0
    if shutil.which("java") is None:
        fail("no java on PATH")

    if a.all:
        rows = {w: named(w, run_jvm(cp, w, a.seed, a.seconds, False))
                for w in WORKLOADS}
        names = sorted({k for r in rows.values() for k in r})
        print(f"{'metric':<20}" + "".join(f"{w:>16}" for w in WORKLOADS))
        for n in names:
            print(f"{n:<20}" + "".join(
                f"{rows[w][n]:>16.4f}" if n in rows[w] else f"{'-':>16}" for w in WORKLOADS))
        return

    res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    ctx = dict(res["context"], git_sha=git_sha(), source_sha256=digest,
               build_s=build_s, attempted=res["attempted"], failed=res["failed"],
               failed_share=res["failed"] / res["attempted"])
    if not a.trace:
        ctx["named"] = named(a.workload, res)
    print(json.dumps({"summary": ctx}, sort_keys=True))

    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            v = res["e2e"].get(m["name"])
            if v is None or v != v or v == 0:
                fail(f"end-to-end metric {m['name']} missing or zero: {v}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
