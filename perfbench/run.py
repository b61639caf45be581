"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the engine and the
benchmark driver from source (perfbench/build.py), writes the seeded
inputs (perfbench/gen.py), then starts the driver JVM (perfbench/src):
set-up (session, inputs, one checked warm-up pass), timed passes for
--seconds (at least two), output checks. Spark runs as local[k] with
k = the number of usable cores and one closed-loop client; the
stream_events workload is an open loop inside its passes.

With --trace 0 it prints the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run (listeners on). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. The
line before it carries the run's provenance. Every result is also
appended to <build dir>/results.jsonl. Everything the run writes stays
under the build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import atexit
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# build.sbt's forked-run flags, except the heap: a fixed 3 GiB heap with a
# fixed young generation (build.sbt: -Xmx only) keeps the resident set
# from following G1's resizing decisions, which otherwise moved
# rss_peak_mb by up to 27% between runs of the same inputs.
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:ReservedCodeCacheSize=2g"]
_children = []


def _kill_children():
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()


atexit.register(_kill_children)
# a terminated run must not leave its JVM behind
signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def git_tree_hash(path):
    """The git tree id of `path` as it is on disk: equals
    `git rev-parse HEAD:<path>` when the files match the commit."""
    entries = []
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p):
            h = git_tree_hash(p)
            if h is None:
                continue
            entries.append((name + "/", b"40000", name, h))
        else:
            with open(p, "rb") as f:
                data = f.read()
            mode = b"100755" if os.access(p, os.X_OK) else b"100644"
            h = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            entries.append((name, mode, name, h))
    if not entries:
        return None
    body = b"".join(m + b" " + n.encode() + b"\0" + h
                    for _, m, n, h in sorted(entries, key=lambda e: e[0].encode()))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).digest()


def source_key():
    """(tree hash of src/main/scala, dirty flag): the code-version key of
    the engine's own bench log. Dirty is None outside a git checkout."""
    tree = git_tree_hash(os.path.join(ROOT, "src", "main", "scala")).hex()
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD:src/main/scala"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        dirty = (head.stdout.strip() != tree) if head.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        dirty = None
    return tree, dirty


def run_jvm(classes, work, args, out, timeout):
    """Runs the driver JVM; returns its run record (None if it wrote none)."""
    if os.path.exists(out):
        os.remove(out)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(build.spark_jars(), "*")])
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                   "perfbench.Driver"] + args +
           ["--out", out, "--launch-ms", str(int(time.time() * 1000))])
    log = open(out + ".log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
    _children.append(p)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.stderr.write(f"perfbench: driver timed out, log in {out}.log\n")
    log.close()
    if not os.path.exists(out):
        sys.stderr.write(open(out + ".log").read()[-3000:])
        return None
    with open(out) as f:
        return json.load(f)


def quantile(xs, q):
    if not xs:
        return None
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-step", default=None,
                    help="make this step throw (benchmark self-test only)")
    ap.add_argument("--param", action="append", default=[], metavar="KEY=VALUE",
                    help="override a workload parameter of spec.json (capacity.py)")
    ap.add_argument("--size", action="append", default=[], metavar="KEY=VALUE",
                    help="override an input size of spec.json (capacity.py)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    wspec = spec["workloads"][a.workload]
    params = dict(wspec["params"], **dict(kv.split("=", 1) for kv in a.param))
    sizes = dict(wspec["sizes"], **{k: int(v) for k, v in
                                    (kv.split("=", 1) for kv in a.size)})

    classes = build.build()
    tgt = build.target_dir()
    with open(gen.__file__, "rb") as f:
        gen_key = hashlib.sha256(f.read() + json.dumps(sizes, sort_keys=True)
                                 .encode()).hexdigest()[:8]
    inputs = os.path.join(tgt, "inputs", f"{a.workload}-s{a.seed}-{gen_key}")
    os.makedirs(os.path.dirname(inputs), exist_ok=True)
    digest = gen.generate(a.workload, a.seed, inputs, sizes)

    work = os.path.join(tgt, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--input", inputs, "--seed", str(a.seed),
            "--cores", str(cores), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    for k, v in params.items():
        args += ["--param", f"{k}={v}"]
    if a.fail_step:
        args += ["--fail-step", a.fail_step]
    rec = run_jvm(classes, work, args, os.path.join(tgt, f"run-{a.workload}.json"),
                  timeout=a.seconds + 150)
    if rec is None:
        fail("the driver JVM wrote no run record")
    attempted, failed = rec["attempted"], rec["failed"]

    timed = [p for p in rec["passes"] if p["pass"] >= 1 and p["ok"]]
    walls = [p["wall_s"] for p in timed]
    # busy_s is the wall time, except where a schedule sets the wall time
    # (stream_events): there it is the program's own time of the pass
    pass_s = quantile([p["busy_s"] for p in timed], 0.5)
    extra = rec.get("extra", {})
    if "event_lat_ms_p50" in extra:
        lat50, lat95 = extra["event_lat_ms_p50"], extra["event_lat_ms_p95"]
    else:
        # closed loop: the unit of work a client waits for is one pass
        lat50 = quantile([w * 1000 for w in walls], 0.5)
        lat95 = quantile([w * 1000 for w in walls], 0.95)
    e2e = {
        "setup_s": rec.get("setup_s"),
        "pass_s_p50": pass_s,
        "rows_per_s": rec["input_rows"] / pass_s if pass_s and "input_rows" in rec else None,
        # JIT compilation is left out: on synth_tables the timed passes sit
        # on the JIT warm-up curve and its timing set most of the spread;
        # the traced run reports it as jvm.jit_s
        "cpu_s_per_pass": quantile([p["cpu_s"] - p["jit_s"] for p in timed], 0.5),
        "rss_peak_mb": rec["rss_peak_mb"],
        "event_lat_ms_p50": lat50,
        "event_lat_ms_p95": lat95,
    }
    layer = dict(rec.get("layer", {}))
    layer.update(rec.get("useful", {}))
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layer if a.trace else e2e
    def value(name):
        if a.trace and a.workload not in spec["metrics"]["per_layer"][name]["workloads"]:
            return 0.0  # a layer this workload does not run
        v = source.get(name)
        return v if v is None or math.isfinite(v) else None
    metrics = {m["name"]: {"value": value(m["name"]), "unit": m["unit"]} for m in wanted}
    missing = [n for n, m in metrics.items() if m["value"] is None]
    checks_ok = bool(rec["checks"]) and all(c["ok"] for c in rec["checks"])
    correct = failed == 0 and checks_ok and bool(timed) and not missing

    tree, dirty = source_key()
    prov = {
        "workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
        "src_tree": tree, "src_tree_short": tree[:7], "src_dirty": dirty,
        "nproc": cores, "master": rec["provenance"]["master"],
        "jvm_flags": rec["provenance"]["jvm_flags"],
        "state_store": rec["provenance"]["state_store"],
        "spark_version": rec["provenance"]["spark_version"],
        "input_digest": digest, "sizes": sizes, "params": params,
        "timed_passes": len(timed), "passes": rec["passes"],
        "ops_failed_frac": failed / attempted if attempted else None,
        "failures": rec["failures"][:20],
        "checks": rec["checks"], "missing_metrics": missing,
        "extra": rec.get("extra", {}),
    }
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    if a.trace:
        spans = os.path.join(tgt, f"spans-{a.workload}-s{a.seed}.json")
        with open(spans, "w") as f:
            json.dump(rec.get("spans", []), f)
        prov["spans_file"] = os.path.relpath(spans, ROOT)
    with open(os.path.join(tgt, "results.jsonl"), "a") as f:
        f.write(json.dumps({"provenance": prov, **result}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    for name, m in metrics.items():
        v = m["value"]
        print(f"{name:40s} {'-' if v is None else format(v, '.6g'):>14s} {m['unit']}")
    print(f"{'ops_failed_frac':40s} {prov['ops_failed_frac']:>14.6g} ratio")
    print("checks: " + ", ".join(f"{c['name']}={'ok' if c['ok'] else 'FAIL'}"
                                 for c in rec["checks"]))
    print(json.dumps({"provenance": prov}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
