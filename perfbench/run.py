#!/usr/bin/env python3
"""Benchmark of the warehouse build and the driver-paced query paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program and the runner (sbt, offline) and generates the fixture under
`.perfbench/`; later runs reuse them. Each run then starts one JVM on
`local[nproc]` with one closed-loop client (Runner.scala has the op
sets):

  warm-up   every distinct op once (three builds for etl_build, whose
            JIT is not steady after one); query results of the first
            pass are dumped for the oracle check. `setup_s` ends here.
  window    whole rounds of the op set, each round shuffled from
            `--seed`, within `--seconds` but at least three rounds
            (four builds for etl_build).
  traced    (`--trace 1`) the window is split: an untraced half, then
            listeners are registered and the same op sequence replays;
            per-layer metrics come from the traced half, and the ratio
            of the two halves is the tracing overhead.

The session writes through Hadoop's local file system with permissions
and link checks done in-process (LocalFs.scala) instead of one `chmod`
or `readlink` child process per call. `op_p50_s` is the Harrell-Davis
estimate of the median op latency (metrics.hd_median), which does not
jump between op kinds the way the sample median of a small mix does.

Workloads: `etl_build` (RunEtl.buildWarehouse) and `driver_mix`
(iterative and streaming queries), both on the sf0.01 fixture. The
fixture is fixed (fixture.py); `--seed` only orders the ops. Seed 1 is the
development seed; seed 7919 is held out for checking a claimed gain.

Outputs are compared with the DuckDB oracle after the JVM exits. A
report goes to stdout, ending with one JSON line: {"correct",
"attempted", "failed", "metrics"}; the spans of a traced run are
written to `.perfbench/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle   # noqa: E402

WORKLOADS = ("etl_build", "driver_mix")
# Every op reads one fixture at this scale factor: the oracle's gate
# scale, where per-job and per-round costs dominate and a run holds
# several whole rounds of each op set.
SCALE = 0.01
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_min": "1/min",
              "heap_live_mb": "MB"}
PER_LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%",
                   "_frac": "ratio", "cpu_util": "ratio"}
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 780        # first run in a checkout: build + fixture
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory in GB, clamped to 2..8 (the tier-1 rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def fingerprint(root):
    """Names, sizes and mtimes of every file the build reads."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in d.split(os.sep) for f in files]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties")):
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_logged(cmd, cwd, log, timeout, env=None):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout:.0f} s; see {log}")


def ensure_build(root, work, deadline):
    stamp, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath")
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]))
    log = os.path.join(work, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], os.path.join(root, "perfbench"),
                    log, deadline - time.monotonic(), env)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (rc {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cp[-1]


def java(cp, run_dir, args, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH"], exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={run_dir}/tmp", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Runner", "--cores", str(cores()),
            "--out", run_dir] + args
    return run_logged(cmd, run_dir, os.path.join(run_dir, "jvm.log"), timeout, env)


def ensure_fixture(work):
    """The fixture, built once per checkout, outside every timed process.
    Returns (dir, build seconds)."""
    fx = os.path.join(work, "fixture")
    gen = os.path.join(HERE, "fixture.py")
    want = hashlib.sha256(open(gen, "rb").read()).hexdigest() + f" sf{SCALE}"
    marker, time_file = os.path.join(fx, "_OK"), os.path.join(fx, "seconds")
    out = os.path.join(fx, f"sf{SCALE}")
    if os.path.exists(marker) and open(marker).read() == want:
        return out, float(open(time_file).read())
    shutil.rmtree(fx, ignore_errors=True)
    t0 = time.monotonic()
    if subprocess.run([sys.executable, gen, out, str(SCALE)]).returncode != 0:
        fail("fixture generation failed")
    seconds = time.monotonic() - t0
    with open(time_file, "w") as f:
        f.write(str(seconds))
    with open(marker, "w") as f:
        f.write(want)
    return out, seconds


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, u in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the program's sources are missing")
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    t0 = time.monotonic()
    cp = ensure_build(root, work, t0 + BUILD_LIMIT_S)
    fixture, fx_time = ensure_fixture(work)

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_run = time.monotonic()
    rc = java(cp, run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--deadline", str(RUN_LIMIT_S - 45), "--fixture", fixture],
              RUN_LIMIT_S - 10)
    if rc != 0:
        log = os.path.join(work, "last_failed_jvm.log")
        shutil.copy(os.path.join(run_dir, "jvm.log"), log)
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"runner exited with {rc}; see {log}")

    run = json.load(open(os.path.join(run_dir, "run.json")))
    ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    checks = oracle.check(os.path.join(run_dir, "verify"), fixture,
                          os.path.join(work, "fixture", "oracle"), os.path.join(run_dir, "tmp"))
    bad = {n for n, why in checks.items() if why is not None}
    failed = metrics.failures(ops, bad)
    attempted = [o for o in ops if o["phase"] != "warm"]
    e2e, lat = metrics.end_to_end(run, ops)

    print(f"workload {a.workload}  seed {a.seed}  cores {run['cores']}  heap {heap()}")
    print(f"fixture sf{SCALE} built once per checkout in {fx_time:.1f} s (outside setup_s)")
    for name, why in sorted(checks.items()):
        print(f"oracle {'OK  ' if why is None else 'FAIL'} {name}" + (f": {why}" if why else ""))
    for o in failed:
        if o["error"]:
            print(f"op failed: {o['name']}: {o['error']}")
    warm = [o for o in ops if o["phase"] == "warm"]
    print(f"setup: JVM and session {run['session_s']:.1f} s, warm-up " + ", ".join(
        f"{o['name']} {metrics.latency_s(o):.1f} s" for o in warm))
    by_query = {}
    for o in ops:
        if o["phase"] == "timed":
            by_query.setdefault(o["name"], []).append(metrics.latency_s(o))
    print("timed ops (median, then each in order): " + "; ".join(
        f"{n} {statistics.median(v):.2f} s (" + " ".join(f"{x:.2f}" for x in v) + ")"
        for n, v in sorted(by_query.items())))
    for k, v in e2e.items():
        print(f"{k:<14} {v:12.4f} {END_TO_END[k]}")
    t = metrics.tail(lat)
    print(f"op_tail        " + (f"{t[0]:12.4f} s  (p{t[1]:.0f} of {t[2]} ops)" if t
                                 else f"n/a (only {len(lat)} ops; a tail needs 20)"))
    print(f"failed_frac    {len(failed) / max(1, len(attempted)):12.4f}  "
          f"({len(failed)} of {len(attempted)} ops)")

    if a.trace:
        counts_file = os.path.join(work, "fixture", "counts", f"{a.workload}.json")
        prev = json.load(open(counts_file)) if os.path.exists(counts_file) else {}
        jobs = read_jsonl(os.path.join(run_dir, "jobs.jsonl"))
        stages = read_jsonl(os.path.join(run_dir, "stages.jsonl"))
        batches = read_jsonl(os.path.join(run_dir, "batches.jsonl"))
        layer, counts, inexact = metrics.per_layer(run, ops, jobs, stages, batches, prev)
        layer["failed_frac"] = len(failed) / max(1, len(attempted))
        os.makedirs(os.path.dirname(counts_file), exist_ok=True)
        with open(counts_file, "w") as f:
            json.dump(counts, f, indent=1, sort_keys=True)
        print("counts (jobs, stages, tasks, shuffle bytes) " +
              ("repeat exactly" if not inexact else "differ for: " + ", ".join(
                  f"{n} ({'/'.join(sorted(k))})" for n, k in sorted(inexact.items()))))
        for k, v in layer.items():
            print(f"{k:<24} {v:14.4f} {unit(k)}")
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"spans": metrics.spans(run, ops, jobs, stages), "counts": counts}, f)
        out = layer
    else:
        out = e2e
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"run took {time.monotonic() - t_run:.1f} s")
    print(json.dumps({
        "correct": not bad and not failed,
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in out.items()},
    }))


if __name__ == "__main__":
    main()
