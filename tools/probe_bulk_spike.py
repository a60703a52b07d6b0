"""Probe the residual p_pipeline_bulk excursion (~1 in 10-15 runs pays
15-25 s inside the budget stage's eager count; BASELINE.md round-6
section rules out Janino recompiles, JVM GC, Python-worker churn,
Python-GC cleanup, and disk writeback, and the event-log capture
attributes the time to task-deserialize on the cached-results scan).

This harness A/B-tests the one mechanism that capture points at: the
persisted frame's lineage (the full union-of-pattern-join tree) rides
in every downstream task binary under ``persist``, while
``localCheckpoint`` truncates it to a stub.  It runs the same bulk
pipeline N times per mode in one JVM (bench confs: G1, 1 GiB code
cache, tmpfs shuffle dirs) with ``-Xlog:safepoint`` captured for
post-hoc correlation of any spike.

Usage: python tools/probe_bulk_spike.py [reps_per_mode=12] [sf_dir]
Prints one JSON line: per-mode run times + min/median/max.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from graphraft_spark.graph import tpch_graph
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.pipeline import run_pipeline_bulk
    from graphraft_spark.session import get_spark

    spark = get_spark("probe-bulk-spike", extra_conf={
        "spark.driver.extraJavaOptions":
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=200 "
            "-XX:ReservedCodeCacheSize=1g "
            "-Xlog:safepoint*=info:file=/tmp/probe_safepoint.log:time,uptime",
        "spark.local.dir": "/dev/shm/spark-local-probe",
    })
    spark.sparkContext.setLogLevel("ERROR")
    g = tpch_graph(spark, sf_dir)

    def cpu_sample() -> tuple[int, int, int]:
        """(busy, steal, iowait) jiffies from /proc/stat — steal is
        host-side vCPU preemption, invisible to every in-guest JVM/
        Python profile (the prior captures all came up empty)."""
        with open("/proc/stat") as fh:
            v = list(map(int, fh.readline().split()[1:9]))
        busy = v[0] + v[1] + v[2] + v[5] + v[6]
        return busy, v[7], v[4]

    def jvm_pid() -> int | None:
        me = os.getpid()
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    f = fh.read().split()
                if f[1] == "(java)" and int(f[3]) == me:
                    return int(p)
            except OSError:
                continue
        return None

    def thread_cpu(pid: int) -> dict[str, float]:
        """comm → cpu-seconds, summed over threads sharing a name."""
        out: dict[str, float] = {}
        base = f"/proc/{pid}/task"
        try:
            tids = os.listdir(base)
        except OSError:
            return out
        for t in tids:
            try:
                with open(f"{base}/{t}/stat") as fh:
                    f = fh.read().rsplit(")", 1)
                comm = f[0].split("(", 1)[1]
                rest = f[1].split()
                cpu = (int(rest[11]) + int(rest[12])) / 100.0
            except (OSError, IndexError):
                continue
            out[comm] = out.get(comm, 0.0) + cpu
        return out

    state = {"t0": None, "dumped": False}

    def watchdog() -> None:
        pid = None
        while True:
            time.sleep(0.5)
            t0 = state["t0"]
            if t0 is None or state["dumped"] or time.time() - t0 < 8:
                continue
            pid = pid or jvm_pid()
            if pid is None:
                continue
            a = thread_cpu(pid)
            time.sleep(2.0)
            b = thread_cpu(pid)
            delta = sorted(((b.get(k, 0) - a.get(k, 0), k) for k in b),
                           reverse=True)
            print("  SPIKE thread-CPU over 2s: "
                  + ", ".join(f"{k}={d:.2f}" for d, k in delta[:8]
                              if d > 0.05),
                  file=sys.stderr)
            # where are the executor threads? top-of-stack histogram
            import subprocess
            try:
                js = subprocess.run(
                    [os.path.join(os.environ.get("JAVA_HOME", ""),
                                  "bin", "jstack"), str(pid)],
                    capture_output=True, text=True, timeout=20).stdout
                hist: dict[str, int] = {}
                cur_exec = False
                depth = 0
                for ln in js.splitlines():
                    if ln.startswith('"'):
                        cur_exec = ln.startswith('"Executor task')
                        depth = 0
                    elif cur_exec and ln.strip().startswith("at ") \
                            and depth < 3:
                        frame = ln.strip()[3:].split("(")[0]
                        if depth == 0:
                            hist[frame] = hist.get(frame, 0) + 1
                        depth += 1
                top = sorted(hist.items(), key=lambda kv: -kv[1])[:6]
                print("  SPIKE exec-thread top frames: "
                      + "; ".join(f"{c}x {f}" for f, c in top),
                      file=sys.stderr)
            except Exception as ex:  # noqa: BLE001 — diagnostics only
                print(f"  SPIKE jstack failed: {ex}", file=sys.stderr)
            state["dumped"] = True

    import threading
    threading.Thread(target=watchdog, daemon=True).start()

    def run(mode: str) -> float:
        t0 = time.time()
        state["t0"], state["dumped"] = t0, False
        out = run_pipeline_bulk(
            spark, g,
            questions=[
                (1, "who supplies small ring?", ["small ring"]),
                (2, "what did customer 42 buy?", ["Customer#000000042"]),
            ],
            ranker=LexicographicRanker(),
            max_nodes=15, k=3, patterns=("1hop", "2hop"),
            prop_cols=("detail",), persist_mode=mode)
        out.select("qid", "nodeId", "name", "detail",
                   F.round("similarity", 6).alias("similarity")) \
           .write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    report = {"sf_dir": sf_dir, "reps": reps, "modes": {}}
    for mode in ("persist", "local_checkpoint"):
        warm = [run(mode), run(mode)]
        while len(warm) < 6 and max(warm[-2:]) > 1.25 * min(warm):
            warm.append(run(mode))
        ts, steals = [], []
        for i in range(reps):
            b0, st0, io0 = cpu_sample()
            t = run(mode)
            b1, st1, io1 = cpu_sample()
            ts.append(t)
            # jiffies are 10ms; normalize steal to seconds-of-CPU
            steals.append(round((st1 - st0) / 100.0, 2))
            print(f"  {mode} run {i + 1}/{reps}: {t}s "
                  f"steal={steals[-1]}cpu-s busy={(b1 - b0) / 100.0:.1f} "
                  f"iow={(io1 - io0) / 100.0:.2f} (wall "
                  f"{time.time():.1f})", file=sys.stderr)
        s = sorted(ts)
        report["modes"][mode] = {
            "warmup": warm, "times": ts, "steal_cpu_s": steals,
            "min": s[0], "median": s[len(s) // 2], "max": s[-1],
        }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
