"""Capacity sweep of the stream_events workload.

    python3 perfbench/capacity.py [--seed N] [--rates R1,R2,...] [--feed-s S]

Runs the stream_events workload once per offered rate, with as many
events as the feed needs to last --feed-s seconds at that rate, so every
rate sees the same number of triggers. A rate is sustainable when the
run is correct, the median feed batch of its timed passes finished
within the trigger interval (batches do not fall behind the trigger
clock, so no backlog builds up) and the p95 event latency stays flat:
within FLAT times the p95 at the lowest rate of the sweep. Prints, per
rate, the median and largest batch time and the event latency, then the
highest sustainable rate. spec.json's rate_per_s is set to about half
of it, and the sweep it came from is recorded there.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLAT = 1.25


def run_rate(seed, rate, events):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_events",
         "--seed", str(seed), "--seconds", "1", "--trace", "0",
         "--param", f"rate_per_s={rate}", "--size", f"events={events}"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"capacity: run at {rate}/s failed\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    extra = json.loads(lines[-2])["provenance"]["extra"]
    m = res["metrics"]
    return {"rate_per_s": rate, "events": events, "correct": res["correct"],
            "batch_ms_max": extra["batch_ms_max"], "batch_ms_p50": extra["batch_ms_p50"],
            "event_lat_ms_p50": m["event_lat_ms_p50"]["value"],
            "event_lat_ms_p95": m["event_lat_ms_p95"]["value"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rates", default="6000,12000,24000,48000,96000")
    ap.add_argument("--feed-s", type=float, default=3.0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "spec.json")) as f:
        trigger_ms = float(json.load(f)["workloads"]["stream_events"]["params"]["trigger_ms"])
    rows = []
    for rate in sorted(int(r) for r in a.rates.split(",")):
        r = run_rate(a.seed, rate, int(rate * a.feed_s))
        base = rows[0]["event_lat_ms_p95"] if rows else r["event_lat_ms_p95"]
        r["sustainable"] = (r["correct"] and r["batch_ms_p50"] <= trigger_ms and
                            r["event_lat_ms_p95"] <= FLAT * base)
        rows.append(r)
        print(json.dumps(r), flush=True)
    capacity = None
    for r in rows:  # the highest rate up to which every rate is sustainable
        if not r["sustainable"]:
            break
        capacity = r["rate_per_s"]
    print(json.dumps({"trigger_ms": trigger_ms, "feed_s": a.feed_s, "seed": a.seed,
                      "capacity_per_s": capacity, "sweep": rows}))


if __name__ == "__main__":
    main()
