"""Self-check of the benchmark: one short run of every workload of
BENCHMARK.json on a tiny corpus (--scale 0.01, about sf0.001), untraced and
traced. Fails unless every run is correct and prints exactly the metrics
BENCHMARK.json names for its mode, each with its unit, and unless
layers.json describes every per-layer metric with the same unit.

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)["metrics"]
    problems = []
    for m in bench["per_layer"]:
        entry = layers.get(m["name"])
        if entry is None or entry["unit"] != m["unit"]:
            problems.append("layers.json: %s missing or with another unit" % m["name"])
        else:
            for mv in entry["moves"]:
                if mv["metric"] not in {e["name"] for e in bench["end_to_end"]} \
                        or mv["workload"] not in {w["name"] for w in bench["workloads"]}:
                    problems.append("layers.json: %s moves an unknown metric or workload" % m["name"])
    for w in bench["workloads"]:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "1",
                                      "--trace", str(trace), "--scale", "0.01"]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = res.stdout.strip().splitlines()
            tag = "%s trace=%d" % (w["name"], trace)
            if res.returncode != 0 or not lines:
                problems.append("%s: exit %d, no result" % (tag, res.returncode))
                continue
            result = json.loads(lines[-1])
            if result["correct"] is not True or result["failed"] != 0:
                problems.append("%s: %d of %d ops failed: %s" % (
                    tag, result["failed"], result["attempted"], json.loads(lines[-2])["context"]["failures"]))
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in wanted}
            if got != want:
                problems.append("%s: metrics differ from BENCHMARK.json: missing %s, extra %s, units %s" % (
                    tag, sorted(set(want) - set(got)), sorted(set(got) - set(want)),
                    sorted(k for k in set(got) & set(want) if got[k] != want[k])))
            print("%s: %d metrics, %d ops, %d failed" % (tag, len(got), result["attempted"], result["failed"]),
                  flush=True)
    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
