#!/usr/bin/env python3
"""Sensor-pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload fleet_live --seed 1 --seconds 15 --trace 0

Builds the program from source if needed (build.py), runs the workload in
one JVM on local[<cores>] (perfbench.Main), verifies its outputs (in the JVM,
and for fleet_dashboard also against DuckDB in checks.py), prints a table of
every metric with unit and sample count, and as the last line of stdout one
JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports every end-to-end metric of BENCHMARK.json; each workload
measures all of them, with its own operation (see README.md). --trace 1
traces the measured phase and reports the per-layer metrics, with the
reducer's per-layer self-time table (reduce.py) printed
above the result line. A traced run measures twice in one JVM: first
untraced, then traced, with the same seed and inputs; trace_overhead_frac is
the traced primary metric over the untraced one, minus 1. On fleet_live it
also drains a backlog on local[N] and local[1] and prints each layer's
parallel speed-up.

Run it from the repository root. Everything it writes goes under
perfbench/.work (each run's directory is removed at exit); the build stays in
perfbench/.build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402

WORKLOADS = ("fleet_live", "fleet_dashboard")
# The metric each workload's tracing overhead is judged on (lower is better).
PRIMARY = {"fleet_live": "latency_p50_ms", "fleet_dashboard": "latency_p50_ms"}
DEADLINE_S = 170  # the whole run, baselines included, ends within this
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, seed, seconds, trace, ncores, work, timeout, baseline=False,
            share=None):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if share is None:
        share = ([f"-XX:SharedArchiveFile={build.ARCHIVE}"]
                 if os.path.exists(build.ARCHIVE) else [])
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC"] + share + [
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp] + OPENS +
           ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(ncores),
            "--work", work, "--out", out, "--baseline", "1" if baseline else "0"])
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                       timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"run: {workload} JVM exited with code {r.returncode}")
    with open(out) as fh:
        return json.load(fh)


def record_class_archive(work):
    """Once per build: a short fleet_live run records the classes a run loads
    into a class-data-sharing archive that every later JVM maps instead of
    loading them again. Without it (a failed recording) runs are only
    slower."""
    if os.path.exists(build.ARCHIVE) or os.path.exists(build.ARCHIVE_FAILED):
        return
    try:
        run_jvm("fleet_live", 0, 1, False, cores(), os.path.join(work, "archive"), 300,
                share=[f"-XX:ArchiveClassesAtExit={build.ARCHIVE}"])
    except (subprocess.TimeoutExpired, SystemExit) as e:
        print(f"run: class archive not recorded ({e})", file=sys.stderr)
    if not os.path.exists(build.ARCHIVE):
        open(build.ARCHIVE_FAILED, "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_class_archive(work)
    start = time.monotonic()

    def left():
        return DEADLINE_S - (time.monotonic() - start)

    def jvm(name, trace, ncores, baseline=False):
        return run_jvm(a.workload, a.seed, a.seconds, trace, ncores,
                       os.path.join(work, name), left(), baseline)

    try:
        n = cores()
        primary = PRIMARY[a.workload]
        res = jvm("main", a.trace == 1, n)
        print(f"run: JVM done after {time.monotonic() - start:.1f} s", file=sys.stderr)
        checks = list(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "fleet_dashboard":
            import checks as dashboard_checks
            t0 = time.monotonic()
            ok, bad, lines = dashboard_checks.verify(res["dashboard"])
            print(f"run: DuckDB checks took {time.monotonic() - t0:.1f} s", file=sys.stderr)
            attempted, failed = attempted + ok + bad, failed + bad
            checks += lines
        metrics = res["metrics"]
        if a.trace:
            import reduce
            metrics["trace_overhead_frac"] = {
                "value": metrics[primary]["value"] / metrics["untraced.primary"]["value"] - 1.0,
                "unit": "frac", "n": 1}
            pair = None
            # the single-threaded baseline: a backlog drain on local[N] and
            # local[1]; reported only, and skipped when the run is out of time
            if a.workload == "fleet_live" and left() > 65:
                try:
                    pair = (jvm("drain_n", True, n, True), jvm("drain_1", True, 1, True))
                except (subprocess.TimeoutExpired, SystemExit) as e:
                    print(f"run: single-threaded baseline skipped ({e})", file=sys.stderr)
            for line in reduce.table(res, n, metrics["untraced.wall_ms"]["value"], pair):
                print(line)
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            # a layer the workload never calls did no work: 0 of its unit
            out = {k: metrics.get(k, {"value": 0, "unit": units[k], "n": 0}) for k in names}
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            missing = [k for k in names if k not in metrics]
            if missing:
                raise SystemExit(f"run: {a.workload} measured no {', '.join(missing)}")
            out = {k: metrics[k] for k in names}
        for line in checks:
            print(f"check  {line}")
        print(f"{'metric':28s} {'value':>14s}  {'unit':6s} {'n':>7s}")
        for k, m in out.items():
            print(f"{k:28s} {m['value']:14.4f}  {m['unit']:6s} {m['n']:7d}")
        result = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in out.items()},
        }
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
