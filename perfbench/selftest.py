"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # all tests
    python3 perfbench/selftest.py --quick    # skip the JVM run

1. Input generator: for every workload, the same seed gives the same
   input digest and another seed gives a different one.
2. BENCHMARK.json and perfbench/spec.json name the same workloads and
   metrics.
3. Injected failure: a step that throws must raise ops_failed_frac
   above 0, make the result incorrect, and never be timed as a fast
   successful pass.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402


def test_generator_digests():
    tmp_root = os.path.join(build.target_dir(), "selftest")
    shutil.rmtree(tmp_root, ignore_errors=True)
    for w in gen.GENERATORS:
        a = gen.generate(w, 7, os.path.join(tmp_root, f"{w}-a"))
        b = gen.generate(w, 7, os.path.join(tmp_root, f"{w}-b"))
        c = gen.generate(w, 8, os.path.join(tmp_root, f"{w}-c"))
        assert a == b, f"{w}: same seed, different digests"
        assert a != c, f"{w}: different seeds, same digest"
    shutil.rmtree(tmp_root, ignore_errors=True)


def test_metric_names_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    kept = list(spec["workloads"])
    assert [w["name"] for w in bench["workloads"]] == kept
    for w in bench["workloads"]:
        assert w["why"] == spec["workloads"][w["name"]]["why"], w["name"]
    assert bench["run_seconds"] == spec["run_seconds"]
    for kind in ("end_to_end", "per_layer"):
        names = [m["name"] for m in bench[kind]]
        assert names == list(spec["metrics"][kind]), f"{kind} names differ"
        for m in bench[kind]:
            doc = spec["metrics"][kind][m["name"]]
            assert (m["unit"], m["better"]) == (doc["unit"], doc["better"]), m["name"]
            if kind == "end_to_end":
                assert m["bound"] == doc["bound"], m["name"]


def test_injected_failure():
    step = "ops.dedup_exact"
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "llm_corpus",
         "--seed", "7", "--seconds", "1", "--trace", "0", "--fail-step", step],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    prov = json.loads(lines[-2])["provenance"]
    assert res["failed"] > 0 and not res["correct"], res
    assert prov["ops_failed_frac"] > 0, prov
    assert prov["timed_passes"] == 0, "a failed pass was timed as a success"
    assert res["metrics"]["pass_s_p50"]["value"] is None, res
    assert any(step in f for f in prov["failures"]), prov["failures"]


def main():
    tests = [test_generator_digests, test_metric_names_agree]
    if "--quick" not in sys.argv:
        tests.append(test_injected_failure)
    bad = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except AssertionError as e:
            bad += 1
            print(f"FAIL {t.__name__}: {e}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
