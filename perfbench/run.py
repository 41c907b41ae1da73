#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload raql_replay --seed 3 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt, which depends on the graft build one directory up)
with sbt; later runs reuse the build until a source changes.
Inputs are made from --seed: the netflow generator inside the JVM, and the
batch tables by perfbench/gen.py. Everything the run writes stays under
.bench_build/ in the checkout.

Prints a readable summary, then as the last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import spans as spanlib  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# workload -> scale factor of its generated tables (None: no tables)
WORKLOADS = {"netflow_alert": None, "raql_replay": 0.005}
RUN_LIMIT_S = 175
HEAP = "2g"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def source_stamp():
    """Digest of every input of the build: graft's and the harness's."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else os.walk(top))
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def wait_group(cmd, cwd, env, log_path, timeout):
    """Run cmd in its own process group with output to log_path; on timeout
    kill the whole group (sbt's launcher forks its JVM) and wait for it."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"[perfbench] {cmd[0]} exceeded its time limit")


def build():
    """Compile the harness with graft's sources; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building the harness with sbt ...")
    log_path = os.path.join(BUILD, "build.log")
    rc = wait_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, env, log_path, 850)
    with open(log_path) as f:
        out = f.read()
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def inputs(workload, seed):
    """The batch tables for this seed (generated once per seed)."""
    sf = WORKLOADS[workload]
    if sf is None:
        return os.path.join(BUILD, "data", "none")
    root = os.path.join(BUILD, "data")
    want = f"seed{seed}_sf{sf}"
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old != want:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    path = os.path.join(root, want)
    if not os.path.exists(os.path.join(path, "done")):
        gen.generate(seed, sf, path)
        open(os.path.join(path, "done"), "w").close()
    return path


def run_jvm(cp, a, data, out, deadline):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           # a fixed heap size, so collections happen alike from run to
           # run; the memory metric (live_mb) does not depend on it
           [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", out])
    rc = wait_group(cmd, tmp, None, os.path.join(out, "jvm.log"), deadline - time.time())
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness JVM failed ({rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_mismatches(data, check_dir, deadline):
    """Compare the batch results with each query's registered oracle SQL,
    through the project's own DuckDB checker (tools/check.py)."""
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            data, check_dir], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] the output check exceeded its time limit")
    bad = []
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|CLOSE|FAIL|ORDER)\s+(\S+?):?\s", line + " ")
        if m and m.group(1) != "PASS":
            bad.append(line.strip())
    if "== " not in p.stdout:
        bad.append("checker did not finish: " + p.stdout[-500:])
    return bad


def compose(values, decl):
    """The result's `metrics` object: every declared metric, by name with its
    unit, and the names a run reported that BENCHMARK.json does not declare.
    A declared metric a workload has no such layer for reads 0."""
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in decl}
    return metrics, sorted(set(values) - set(metrics))


def unmeasured(metrics):
    """Names of the metrics that came out as no number (NaN or infinite)."""
    return sorted(n for n, m in metrics.items() if not math.isfinite(m["value"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] run from the root of a graft checkout")
    e2e_decl, layer_decl = declared()
    cp = build()
    # the build may take long on a fresh checkout; the run itself is bounded
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - started, 5)
    data = inputs(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, a, data, out, deadline - 25)

    attempted, failed = res["attempted"], res["failed"]
    problems = list(res["info"].get("problems", []))
    if WORKLOADS[a.workload] is not None:
        bad = oracle_mismatches(data, os.path.join(out, "check"), deadline)
        problems += bad
        failed += len(bad)
    failed_ratio = failed / attempted if attempted else 1.0

    values = dict(res["e2e"])
    if a.trace:
        values = dict(res["layers"])
        values.update(spanlib.layer_metrics(os.path.join(out, "spans.json")))
    metrics, undeclared = compose(values, layer_decl if a.trace else e2e_decl)
    if undeclared:
        raise SystemExit(f"[perfbench] metrics missing from BENCHMARK.json: {undeclared}")
    for n in unmeasured(metrics):
        problems.append(f"{n} was not measured")
        metrics[n]["value"] = 0.0

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    for m in e2e_decl:
        if m["name"] in res["e2e"]:
            print(f"  {m['name']:<24} {res['e2e'][m['name']]:.6g} {m['unit']}")
    print(f"  {'failed_ratio':<24} {failed_ratio:.6g} fraction ({failed}/{attempted})")
    for k, v in sorted(res["info"].items()):
        if k != "problems":
            print(f"  {k:<24} {json.dumps(v)}")
    for p in problems:
        print(f"  problem: {p}")
    # a run flagged invalid (its generator fell behind) is not scored
    correct = failed == 0 and attempted > 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
