#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap|nightly --seed N
                           --seconds S --trace 0|1

Builds graft from source (perfbench/build.py), runs the workload's JVM
program on local[n] (n = min(4, nproc)) with one client thread, checks
its outputs, and prints as the last line of stdout one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer ones.
The line before it is a JSON detail record: op_p50_s and op_tail_s
(with its percentile and sample count), fail_ratio, the nightly
figures, the host probe, set-up phases and store memos.
Everything the run writes lives under .bench_build/ and is removed at
exit, apart from the reusable build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
# the oracle comparison rule is the repository's own (tools/oracle_check.py)
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("olap", "nightly")
# a run must end within 180 s; the first in a checkout, which builds, within 900 s
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
DETAIL_UNITS = {"op_p50_s": "s", "op_tail_s": "s", "fail_ratio": "ratio", "rows_per_s": "1/s",
                "read_p50_s": "s", "read_tail_s": "s", "write_amp": "ratio", "space_amp": "ratio"}


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    k = max(n - 11, n // 2)
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(raw):
    passes = raw["passes"]
    main_kind = "write" if raw["workload"] == "nightly" else "query"
    lat = [o["sec"] for o in raw["ops"] if o["kind"] == main_kind]
    t, pct, n = tail(lat)
    m = {"setup_s": raw["setup_s"],
         "wall_s": statistics.median(p["wall_s"] for p in passes),
         "op_p50_s": statistics.median(lat),
         "op_tail_s": t,
         "cpu_s": statistics.median(p["cpu_s"] for p in passes),
         "heap_peak_mb": statistics.median(p["heap_peak_mb"] for p in passes)}
    detail = {"op_p50_s": m["op_p50_s"], "op_tail_s": t, "op_tail_pct": pct, "op_samples": n,
              "passes": len(passes), "units": DETAIL_UNITS}
    if raw["workload"] == "nightly":
        ny = raw["nightly"]
        writes = [o["sec"] for o in raw["ops"] if o["kind"] == "write"]
        reads = [o["sec"] for o in raw["ops"] if o["kind"] == "read"]
        rt, rpct, rn = tail(reads)
        detail.update({
            "rows_per_s": ny["measured_docs"] / sum(writes),
            "read_p50_s": statistics.median(reads), "read_tail_s": rt,
            "read_tail_pct": rpct, "read_samples": rn,
            "write_amp": ny["write_amp"], "space_amp": ny["space_amp"], "write_s": writes})
    return m, detail


def java_cmd(classes, root, run_dir, args, t0_ms, out):
    cp = os.pathsep.join([classes] + build.classpath(root))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
            + opens + ["-cp", cp, "graftbench.Main",
                       "--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--data", os.path.join(HERE, "data"), "--work", run_dir,
                       "--cores", str(min(4, os.cpu_count() or 1)),
                       "--t0-ms", str(t0_ms), "--out", out])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    classes = build.ensure(root)
    run_dir = os.path.join(root, ".bench_build", f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        out = os.path.join(run_dir, "result.json")
        log_path = os.path.join(run_dir, "jvm.log")
        warm = os.path.join(root, ".bench_build", "warm")
        limit = RUN_LIMIT_S if os.path.exists(warm) else FIRST_RUN_LIMIT_S
        t0_ms = int(time.time() * 1000)
        jvm_t0 = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(java_cmd(classes, root, run_dir, args, t0_ms, out),
                                    cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, limit - 15 - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        jvm_s = time.time() - jvm_t0
        if rc != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"run: JVM program failed ({rc})")
        with open(out) as fh:
            raw = json.load(fh)
        open(warm, "w").close()

        ops = raw["ops"]
        failed_ops = [o for o in ops if not o["ok"]]
        bad = {}
        if "oracle_sql" in raw:
            bad = oracle.check(raw["check_data"], raw["check_dir"], raw["checked"], raw["oracle_sql"],
                               os.path.join(root, ".bench_build", "expected"))
            bad_names = {raw["checked"][rel] for rel in bad}
            incorrect = [o for o in ops if o["ok"] and o["name"] in bad_names]
        elif not raw["nightly"]["correct"]:
            incorrect = [o for o in ops if o["ok"] and o["kind"] == "write"]
            bad = {"nightly": {k: raw["nightly"][k] for k in ("served", "replayed", "dup_keys")}}
        else:
            incorrect = []
        failed = len(failed_ops) + len(incorrect)
        e2e, detail = end_to_end(raw)
        detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                       "fail_ratio": failed / len(ops), "incorrect": bad,
                       "failed_ops": sorted({o["name"] for o in failed_ops}),
                       "host": raw["host"], "memos": raw.get("memos"),
                       "nightly": raw.get("nightly"), "measured_s": raw["measured_s"],
                       "setup_phases": raw["setup_phases"], "op_median_s": op_medians(ops),
                       "pass_detail": raw["passes"], "finish_s": raw["finish_s"], "jvm_s": jvm_s})
        # the metrics and units BENCHMARK.json declares, in its order
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        values, declared = (raw["layers"], spec["per_layer"]) if args.trace else (e2e, spec["end_to_end"])
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({"correct": not bad and not failed_ops, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def op_medians(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["sec"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


if __name__ == "__main__":
    main()
