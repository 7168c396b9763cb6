#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The script builds graft and the
benchmark from source (graftbench/build.py), generates the seeded inputs
(graftbench/gen.py), runs the workload in one JVM (graftbench/scala), checks
every op's result against DuckDB (graftbench/oracle.py), and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under graftbench/.build and graftbench/.work.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOADS = ("stream_replay", "taxi_etl")
HEAP = "3g"
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def inputs(workload: str, seed: int) -> str:
    """Generates (once per seed) and returns the workload's input path."""
    d = os.path.join(WORK, "inputs", workload, str(seed))
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        if workload == "stream_replay":
            gen.events(seed, d)
        else:
            gen.tlc_csv(seed, d)
        open(done, "w").close()
    return os.path.join(d, "trips.csv") if workload == "taxi_etl" else d


def run_jvm(classpath: str, workload: str, seconds: float, trace: int,
            inp: str, out: str) -> None:
    jvm_dirs = os.path.join(out, "jvm")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(jvm_dirs, sub), exist_ok=True)
    cmd = ["java", *JDK17_OPENS, f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={jvm_dirs}/tmp",
           f"-Dspark.local.dir={jvm_dirs}/local",
           f"-Dspark.sql.warehouse.dir={jvm_dirs}/warehouse",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--seconds", str(seconds),
           "--trace", str(trace),
           "--input", inp, "--out", out]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=jvm_dirs)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S} s")
    shutil.rmtree(jvm_dirs, ignore_errors=True)
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited {rc}:\n{tail}")


def read_jsonl(path: str) -> list:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def end_to_end(ops: list, meta: dict) -> dict:
    """Over the timed rounds (round 1 on), from each op kind's median
    latency, so every kind weighs the same however often it ran before
    the deadline. setup_s runs from JVM start to the end of the set-up
    round, i.e. to the first timed op; op_gmean_ms is the geometric mean
    of the kinds' medians; ops_per_s is one closed-loop client's rate over
    a round at those medians."""
    by_kind = {}
    for o in ops:
        if o["round"] > 0:
            by_kind.setdefault(o["kind"], []).append(o["ms"])
    medians = [statistics.median(xs) for xs in by_kind.values()]
    return {
        "setup_s": meta["setup_ms"] / 1e3,
        "op_gmean_ms": statistics.geometric_mean(medians),
        "ops_per_s": len(medians) / (sum(medians) / 1e3),
    }


UNITS = {"setup_s": "s", "op_gmean_ms": "ms", "ops_per_s": "ops/s"}


def per_layer(ops: list, meta: dict) -> dict:
    """Layer metrics from the traced rounds, plus what only the benchmark
    knows: set-up split, phase medians and the tracing overhead."""
    layers = dict(meta["layers"])
    layers["session.jvm_start_ms"] = meta["jvm_start_ms"]
    layers["session.build_ms"] = meta["setup_build_ms"]
    layers["session.warmup_ms"] = meta["setup_warmup_ms"]
    layers["jvm.peak_rss_mb"] = meta["peak_rss_mb"]

    def rate(rows):
        return len(rows) / (sum(o["ms"] for o in rows) / 1e3) if rows else 0.0

    # the timed rounds only: round 0 is the untraced set-up round
    ops = [o for o in ops if o["round"] > 0]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    layers["trace.ops_per_s"] = rate(traced)
    layers["trace.untraced_ops_per_s"] = rate(untraced)
    layers["trace.overhead_frac"] = (
        1 - layers["trace.ops_per_s"] / layers["trace.untraced_ops_per_s"]
        if untraced and traced else 0.0)

    def p50(phase):
        xs = [o["ms"] for o in ops if o["phase"] == phase]
        return statistics.median(xs) if xs else 0.0
    layers["phase.raw_check_p50_ms"] = p50("raw_check")
    layers["phase.etl_write_p50_ms"] = p50("etl_write")
    layers["phase.layout_read_p50_ms"] = p50("layout_read")
    writes = [o for o in ops if o["phase"] == "etl_write"]
    layers["phase.etl_rows_per_s"] = (
        gen.TLC_ROWS * len(writes) / (sum(o["ms"] for o in writes) / 1e3)
        if writes else 0.0)
    return layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    inp = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}_{a.seed}_t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(classpath, a.workload, a.seconds, a.trace, inp, out)

    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    payloads = read_jsonl(os.path.join(out, "payloads.jsonl"))
    expected = oracle.expected(a.workload, inp, meta["oracle_sql"],
                               {o["kind"] for o in ops})
    verdicts = oracle.check_payloads(payloads, expected)
    failures = []
    for o in ops:
        cause = o["error"] or (
            "no result" if o["digest"] is None else
            verdicts.get((o["kind"], o["digest"])))
        if cause:
            failures.append({"i": o["i"], "kind": o["kind"], "cause": cause})
    selftest_ok = oracle.selftest(payloads, expected)

    if a.trace:
        metrics = per_layer(ops, meta)
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = end_to_end(ops, meta)
        units = UNITS
    result = {
        "correct": not failures and selftest_ok,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({**result, "failures": failures, "selftest_ok": selftest_ok,
                   "rounds": meta["rounds"], "cores": meta["cores"],
                   "heap_max_mb": meta["heap_max_mb"],
                   "spark_version": meta["spark_version"],
                   "java_version": meta["java_version"]}, f, indent=1)
    for fl in failures[:20]:
        print(f"FAILED op {fl['i']} {fl['kind']}: {fl['cause']}")
    if not selftest_ok:
        print("SELFTEST: a corrupted result was not flagged")
    print(json.dumps(result))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_frac", "_ratio", "_per_input_byte",
                      "_per_result_row")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
