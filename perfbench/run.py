"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it holds
context fields (calibration probes, sample counts, failures). Everything
the run builds or writes stays under perfbench/ (.build, .work).

Extra modes, not used by a timed run:
    --record        write the output fingerprints of a workload at --scale
                    into perfbench/expected.json
    --sweep         count vs materialized time of every registered query,
                    written to perfbench/count_vs_materialized.tsv
    --scale <x>     corpus scale; 1 is sf0.1's row counts (default)
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("llm_curation", "served_ingest")
WORK = os.path.join(HERE, ".work")
# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_limit(seconds, compiled):
    """Wall-clock limit of one invocation, the build included: the set-up
    and checks around the measured window, three times the window itself
    (a pass may overrun it, and a traced run measures two passes), and the
    first build's allowance."""
    return 140 + 3 * seconds + (710 if compiled else 0)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--record", action="store_true")
    p.add_argument("--sweep", action="store_true")
    a = p.parse_args()

    start = time.monotonic()
    classpath, compiled = build.build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mode = "record" if a.record else "sweep" if a.sweep else "run"
    out = os.path.join(HERE, "count_vs_materialized.tsv" if a.sweep else "expected.json")
    # The parallel collector with fixed generation sizes: a 1 GB young
    # generation whose survivor spaces (205 MB each) hold the objects that
    # outlive one collection, and an old generation that is committed but
    # not touched up front and is filled from its bottom. The peak RSS is
    # then the young generation plus the old-generation pages that
    # retained objects reach, plus off-heap memory. With heap sizes driven
    # by GC-time heuristics (G1, or smaller survivor spaces that overflow
    # into the old generation) it varied by 10-20% between runs on a
    # 4-core machine. -Xmx is the ceiling.
    cmd = (["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms2g", "-Xmn1g", "-XX:SurvivorRatio=3",
            "-Xmx3g", "-XX:-UsePerfData", "-Xss8m",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--mode", mode, "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", repr(a.scale), "--work", WORK, "--out", out])
    limit = run_limit(a.seconds, compiled)
    timeout = None if mode != "run" else max(1.0, limit - (time.monotonic() - start))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % limit)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    if mode != "run":
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
