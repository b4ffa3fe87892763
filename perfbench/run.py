#!/usr/bin/env python3
"""Benchmark entry point: builds graft plus the harness, generates the seeded
inputs, runs one workload in its own JVM on the compiled classpath and checks
its outputs.

Usage (from the repository root):
  python3 perfbench/run.py --workload <labs-operators-batch|chain-stream>
      --seed <n> --seconds <s> --trace <0|1> [--corrupt-expected <query>]
  python3 perfbench/run.py --selftest

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it is the
full report (every metric with unit and sample count, the gate results and
the machine stamp). Everything the run builds or writes stays under
`.bench_build/` in the current directory.
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

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170.0  # every run exits within 180 s once built
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import spec  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


_children = set()


def _stop_children(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    raise SystemExit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout, or when this script is
    stopped, the whole group dies."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.add(p.pid)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        _children.discard(p.pid)
    return p.returncode, out, err


def source_stamp():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g"))
    t0 = time.time()
    rc, out, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp = [ln for ln in out.splitlines() if not ln.startswith("[") and ".jar" in ln][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def inputs(seed, scale):
    """Writes this run's seeded inputs; the run removes them when done."""
    d = os.path.join(BUILD, "data", f"seed-{seed}-x{scale}")
    shutil.rmtree(d, ignore_errors=True)
    gen_data.generate(d, seed, scale)
    return d


def jvm(cp, args, timeout, log_path, flags=()):
    """Runs a harness main; its standard error goes to `log_path`."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = (["java", f"-Xmx{spec.DRIVER_HEAP}"] + list(flags) + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={tmp}"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp] + args)
    with open(log_path, "w") as fh:
        rc, _, _ = run_group(cmd, timeout, cwd=BUILD, env=env, stdout=subprocess.DEVNULL, stderr=fh)
    return rc


def tail_errors(log_path, n=40):
    """The exception lines of a JVM log, without Spark's warnings and stack frames."""
    with open(log_path, errors="replace") as fh:
        lines = [ln.rstrip() for ln in fh if not ln.lstrip().startswith(("at ", "..."))
                 and " WARN " not in ln and " INFO " not in ln]
    return "\n".join(lines[-n:])


def gate(cmd, timeout):
    """Runs one of the repository's correctness gates; returns (ok, failing names)."""
    rc, out, _ = run_group([sys.executable] + cmd, timeout, cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = [ln.split()[1] for ln in out.splitlines()
           if ln.split()[:1] and ln.split()[0] in ("MISSING", "ERROR", "SCHEMA", "ROWS", "VALUES", "FAIL")
           and len(ln.split()) > 1]
    return rc == 0, bad, out


def check_outputs(names, data, out, deadline):
    """The repository's gates over the verification pass's dumps: a rejected
    reference makes every timed execution of that query a failed operation."""
    dump = os.path.join(out, "dump")
    gates = {}
    if "oracle" in names:
        gates["oracle"] = gate([os.path.join("tools", "check_oracle.py"), data, dump],
                               max(5, deadline - time.time()))
    if "labs" in names:
        gates["labs"] = gate([os.path.join("tools", "check_labs.py"), data, dump,
                              "q32,q33,q35,q161"], max(5, deadline - time.time()))
    rejected = set()
    for name, (ok, bad, text) in gates.items():
        if not ok:
            rejected.update(bad or ["?"])
            log(f"gate {name} rejected: {bad}\n{text[-2000:]}")
    return {k: v[0] for k, v in gates.items()}, sorted(rejected)


def main():
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--corrupt-expected", metavar="QUERY",
                    help="alter one query's expected fingerprint (shows failures are counted)")
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(os.path.join(ROOT, "tools")):
        raise SystemExit("perfbench: run from the root of a graft checkout (src/main/scala missing)")
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build()
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    if a.selftest:
        log_path = os.path.join(BUILD, "selftest.log")
        rc = jvm(cp, ["graft.perfbench.SelfTest"], DEADLINE_S, log_path)
        if rc:
            log(tail_errors(log_path))
        print(json.dumps({"selftest": "PASS" if rc == 0 else "FAIL"}))
        raise SystemExit(rc)

    w = spec.WORKLOADS[a.workload]
    data = inputs(a.seed, w["scale"])
    if a.workload == "chain-stream":
        gen_data.stage_slices(data, spec.chain_plan(a.seconds, a.trace), spec.CHAIN_PERIOD_S)
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    args = ["graft.perfbench.Main", "--workload", a.workload, "--data", data, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.corrupt_expected:
        args += ["--corrupt-expected", a.corrupt_expected]
    res_path = os.path.join(out, "result.json")
    log_path = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}.jvm.log")
    # a JVM killed by a signal before it wrote anything is started once more
    # (a native crash seen during session start-up, outside the workload)
    for _ in range(2):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rc = jvm(cp, args, max(10, deadline - time.time() - w["gate_reserve_s"]), log_path, w["jvm"])
        if rc >= 0 or os.listdir(out) or deadline - time.time() < 120:
            break
        log(f"workload JVM died on signal {-rc} before writing output; restarting once")
    if rc != 0 or not os.path.exists(res_path):
        log(tail_errors(log_path))
        raise SystemExit(f"perfbench: workload JVM failed (exit {rc})")
    with open(res_path) as fh:
        res = json.load(fh)
    gates, rejected = check_outputs(w["gates"], data, out, deadline)
    shutil.rmtree(data, ignore_errors=True)
    failed = res["failed"] + res["details"].get("passes", 1) * len(rejected)
    attempted = max(1, res["attempted"])
    res["metrics"]["failed_ops_frac"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}

    wanted = spec.TRACE_METRICS if a.trace else spec.E2E_METRICS
    missing = [m for m in wanted if m not in res["metrics"]]
    if missing:
        raise SystemExit(f"perfbench: result lacks metrics {missing}")
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "gates": gates,
              "rejected": rejected, "failures": res["failures"],
              "metrics": res["metrics"], "details": res["details"],
              "wall_s": round(time.time() - t0, 3)}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and all(gates.values()),
        "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": res["metrics"][m]["value"], "unit": res["metrics"][m]["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
