#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (perfbench/build.sbt, which depends on the repository's
own build) and caches the classpath under .bench_build/; later runs reuse it
until a source file changes. Each run then

  1. generates its inputs from --seed under .bench_work/ (for the curation
     workload a scale-factor directory of parquet tables),
  2. starts one JVM on local[<nproc>] that runs untimed warm passes and
     timed passes for --seconds (see perfbench/README.md),
  3. checks every output of the first timed pass against its DuckDB oracle
     with the repository's tools/check.py, and every other pass against
     that pass's hashes,
  4. prints one line per metric with its unit and sample count, an evidence
     line, and as the last line of stdout one bare JSON object:
     {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The exit code is 0 only when every output was correct.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import datagen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this

WORKLOADS = {
    # name -> default inputs; --scale / --accounts override them
    "ta_pipeline": {"accounts": 6},
    "curation_iter": {"scale": 0.01},
}
MIN_PASSES = 2  # timed passes a run takes at least ...
MAX_PASSES = 50  # ... and at most, whatever --seconds says
END_TO_END = ["setup_s", "pass_s", "alloc_mb", "peak_rss_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return ""


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout or on
    any exit of this process (SIGTERM included) kill the whole group, so no
    child outlives the run. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# ---------------------------------------------------------------- build

def _sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ["build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT)
                    for f in sorted(files)]
    return out


def _stamp():
    h = hashlib.sha256()
    for rel in _sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """The runtime classpath and the repository's JVM options, building
    first if any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no build.sbt and src/main next to "
                         "perfbench/; run from the root of a full checkout")
    stamp_file = os.path.join(BUILD_DIR, "classpath.json")
    stamp = _stamp()
    try:
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(":")):
            return cached["classpath"], cached["java_options"]
    except (OSError, ValueError, KeyError):
        pass
    log("building (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    os.makedirs(BUILD_DIR, exist_ok=True)
    out = os.path.join(BUILD_DIR, "sbt.log")
    with open(out, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath",
                        "printGraftJavaOptions"], 850,
                       cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT)
    with open(out) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = [ln.strip() for ln in lines
          if ln.startswith("/") and "perfbench" in ln and ".jar" in ln]
    opts = [ln.split("javaopt ", 1)[1] for ln in lines if "javaopt " in ln]
    if not cp or not opts:
        raise SystemExit("perfbench: build printed no classpath or options")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1],
                   "java_options": opts}, f)
    log(f"built in {time.time() - t0:.0f}s")
    return cp[-1], opts


# ---------------------------------------------------------------- run

def run_jvm(classpath, java_options, work, jvm_args, deadline):
    # the repository's own options first, then a fixed-size heap: no
    # resizing mid-run, so pass times do not depend on when the collector
    # grew it (peak RSS then mostly reads the heap size; alloc_mb follows
    # the program's own memory use)
    cmd = (["java"] + java_options
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",  # no hsperfdata file
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dderby.system.home={work}",
              f"-Dgraft.q35.dump={work}/tadump",
              "-cp", classpath, "perfbench.Main"] + jvm_args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc = run_group(cmd, deadline - time.time(), cwd=work, stdout=logf,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: JVM timed out" if rc is None
                         else f"perfbench: JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def gate(sf_dir, out_dir, checks):
    """Run the repository's correctness gate, tools/check.py, on the checked
    pass's outputs (out_dir/<op>/ and out_dir/oracle_sql.json). Returns
    [(op, reason-or-None)] for every check."""
    if not checks:
        return []
    import check  # tools/check.py, found through sys.path above
    said = io.StringIO()
    with contextlib.redirect_stdout(said):
        check.main(sf_dir, out_dir)
    verdict = {}
    for ln in said.getvalue().splitlines():
        m = re.match(r"\[(PASS|FAIL|----)\] ([^:]+): (.*)", ln)
        if m:
            verdict[m[2]] = None if m[1] == "PASS" else m[3]
    return [(c["op"], verdict.get(c["dir"], "not checked")) for c in checks]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, help="curation_iter: table scale")
    ap.add_argument("--accounts", type=int, help="ta_pipeline: accounts")
    ap.add_argument("--passes", type=int,
                    help="timed passes (a traced run takes at least three)")
    ap.add_argument("--queries",
                    help="curation_iter: comma-separated SparkEntry queries")
    ap.add_argument("--corrupt", default="",
                    help="drop one row of this op's output (gate self-test)")
    a = ap.parse_args(argv)
    # turn SIGTERM into an exit that runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = dict(WORKLOADS[a.workload])
    for k in ("scale", "accounts"):
        if getattr(a, k) is not None:
            cfg[k] = getattr(a, k)

    classpath, java_options = build()
    t0 = time.time()
    load_start = loadavg()
    cores = os.cpu_count() or 1
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--cores", str(cores), "--work", work,
                    "--t0-ms", str(int(t0 * 1000)), "--corrupt", a.corrupt,
                    "--min-passes", str(a.passes or MIN_PASSES),
                    "--max-passes", str(a.passes or MAX_PASSES)]
        # the gate's table directory; the TA views' oracles read the lake
        # dump instead, and the work directory holds no tables
        sf = work
        if "scale" in cfg:
            sf = os.path.join(work, "sf")
            datagen.write(sf, cfg["scale"], a.seed)
            jvm_args += ["--sf", sf]
        if "accounts" in cfg:
            jvm_args += ["--accounts", str(cfg["accounts"])]
        if a.queries:
            jvm_args += ["--queries", a.queries]
        if a.trace:
            spans = os.path.join(WORK_ROOT, "spans",
                                 f"{a.workload}-{a.seed}-{int(t0)}.jsonl")
            jvm_args += ["--spans", spans]
        res = run_jvm(classpath, java_options, work, jvm_args,
                      t0 + RUN_LIMIT_S)
        verdicts = gate(sf, os.path.join(work, "out"), res["checks"])
        load_end = loadavg()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wrong_checks = [(op, why) for op, why in verdicts if why]
    for op, why in wrong_checks:
        log(f"WRONG {op}: {why}")
    for op in res["inconsistent_ops"]:
        log(f"WRONG {op}: output differs from the checked pass")
    for err in res["failed_ops"]:
        log(f"FAILED {err}")
    attempted, failed = res["attempted"], res["failed"]
    checked = max(1, res["checked"])
    wrong = len(wrong_checks) + res["inconsistent"]
    correct = failed == 0 and wrong == 0 and len(verdicts) > 0

    metrics = res["metrics"]
    names = END_TO_END if a.trace == 0 else sorted(
        k for k in metrics if k not in END_TO_END)
    for k in END_TO_END + [k for k in names if k not in END_TO_END]:
        m = metrics[k]
        print(f"metric {a.workload} {k} {m['value']:.6g} {m['unit']} n={m['n']}")
    print(f"metric {a.workload} failed_frac {failed / max(1, attempted):.6g} "
          f"ratio n={attempted}")
    print(f"metric {a.workload} wrong_frac {wrong / checked:.6g} ratio "
          f"n={checked}")
    jvm = res["jvm"]
    print("evidence " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": cores, "loadavg_start": load_start, "loadavg_end": load_end,
        "jvm_cpu_s": round(jvm["cpu_s"], 3), "jvm_wall_s": round(jvm["wall_s"], 3),
        "cpu_per_wall": round(jvm["cpu_per_wall"], 4),
        "warm_passes_s": [round(x, 3) for x in res["warm_s"]],
        "passes": res["passes"],
        "pass_times_s": [round(x, 3) for x in res["pass_s"]],
        "pass_alloc_mb": [round(x) for x in res["pass_alloc_mb"]],
        "op_median_s": {k: round(v, 3) for k, v in sorted(res["op_s"].items())},
        "window_s": round(res["window_s"], 3),
        "oracle_checks": len(verdicts), "run_s": round(time.time() - t0, 3)}),
        flush=True)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k]["value"],
                              "unit": metrics[k]["unit"]} for k in names}}
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
