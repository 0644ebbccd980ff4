#!/usr/bin/env python3
"""One benchmark run: builds the engine with the benchmark, runs one
workload in one JVM, checks its outputs and prints the result.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                           [--cores C]

--trace 0 measures the end-to-end metrics with tracing off; --trace 1
records spans and reports the per-layer metrics instead. --cores 1 gives
the single-threaded reference. Metric names and units come from
BENCHMARK.json. The last stdout line is the result object; the line
before it (`perfbench-detail ...`) carries the extra figures the
summariser reads: sample counts, drain rate, failure ratio and, in a
traced run, the end-to-end figures measured with tracing on.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixtures  # noqa: E402

INGEST = {"ingest_rows", "ingest_chunks"}
# metric prefixes of layers a workload kind never enters: these read 0
BYPASSED = {"ingest": ("operators.", "sources.", "query."),
            "query": ("ingest.", "batcher.", "sink.")}
FIXTURE_REPS = 3
DEADLINE_S = 170
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def oracle_compare(fixture_dir, oracle_dir):
    """DuckDB compare of the correctness pass, made by the engine's own
    `tools/check.py`. Returns (queries compared, [failure lines])."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), fixture_dir, oracle_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=60)
    lines = proc.stdout.splitlines()
    verdicts = [l for l in lines if l.split(" ", 1)[0] in ("PASS", "FAIL", "ERR")]
    if not verdicts:
        raise RuntimeError("oracle compare printed no verdicts:\n" + proc.stdout[-2000:])
    return len(verdicts), [l for l in verdicts if not l.startswith("PASS")]


def run_jvm(cp, args, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-cp", cp] + JAVA_OPENS +
           ["perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")


def _stop(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    bench = spec()
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    kind = "ingest" if a.workload in INGEST else "query"

    cp = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores), "--work", work,
                "--out", os.path.join(work, "result.json")]
        fixture_s = 0.0
        if kind == "query":
            fixture_dir = os.path.join(work, "fixtures")
            reps = []
            for _ in range(FIXTURE_REPS):
                t0 = time.perf_counter()
                fixtures.write(fixture_dir, a.seed)
                reps.append(time.perf_counter() - t0)
            fixture_s = statistics.median(reps)
            args += ["--fixtures", fixture_dir]
        if a.trace:
            spans_dir = os.path.join(HERE, ".out")
            os.makedirs(spans_dir, exist_ok=True)
            args += ["--spans", os.path.join(spans_dir, f"spans-{a.workload}-{a.seed}.jsonl")]
        run_jvm(cp, args, work, deadline)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)

        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if kind == "query":
            compared, misses = oracle_compare(fixture_dir, res["oracle_dir"])
            attempted += compared
            failed += len(misses)
            errors += misses
        e2e = dict(res["e2e"], setup_s=res["setup_s"] + fixture_s)
        if a.trace:
            metrics = dict(res["layers"])
            for m in bench["per_layer"]:
                if m["name"] not in metrics and m["name"].startswith(BYPASSED[kind]):
                    metrics[m["name"]] = 0.0
            wanted = bench["per_layer"]
        else:
            metrics = e2e
            wanted = bench["end_to_end"]
        missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
        if missing:
            raise SystemExit(f"perfbench: metrics not measured: {missing}")

        detail = dict(res["detail"], workload=a.workload, seed=a.seed, trace=a.trace,
                      cores=a.cores, e2e=e2e, failed_ratio=failed / attempted,
                      setup_reps_s=res["setup_reps_s"], fixture_s=fixture_s,
                      errors=errors, self_ms=res["self_ms"],
                      run_s=time.monotonic() - deadline + DEADLINE_S)
        for m in wanted:
            print(f"{a.workload} {m['name']} = {metrics[m['name']]:.6g} {m['unit']}")
        print(f"{a.workload} failed_ratio = {failed}/{attempted}")
        for err in errors:
            print(f"{a.workload} FAILED: {err}")
        print("perfbench-detail " + json.dumps(detail, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0 and not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
