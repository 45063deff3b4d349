#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <etl_incremental|llm_curate|index_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run compiles graft and the
benchmark (perfbench/build.py). The run generates every input from the
seed under a fresh scratch root in `.bench_build/runs/`, warms up, measures
whole rounds of the workload's fixed work for about `--seconds` seconds in
one Spark JVM (`local[N]`, N = cores), checks the outputs, deletes the
scratch root and prints every metric with its unit. `--trace 0` reports
the end-to-end metrics; `--trace 1` splits the time between an untraced
and a traced phase and reports the per-layer metrics, the tracing overhead
and native-expression micro-timings. The last stdout line is one JSON
object (`correct`, `attempted`, `failed` and the metrics BENCHMARK.json
names); the full record, spans and job call sites included, goes to
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.

BENCHMARK.json lists etl_incremental and index_ingest. llm_curate (the
conf/llm_pipeline.yml shape over shards with planted duplicate clusters)
runs the same way but is not listed: three workloads do not fit the
per-run time budget of the repeated runs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/

import build  # noqa: E402

WORKLOADS = ("etl_incremental", "llm_curate", "index_ingest")
TIME_LIMIT_S = 170


# what the generic end-to-end names mean on each workload
ALIASES = {
    "etl_incremental": {"items_per_s": "rows_per_s", "step_p50_s": "pass_p50_s",
                        "step_tail_s": "pass_tail_s"},
    "llm_curate": {"items_per_s": "docs_per_s", "step_p50_s": "shard_p50_s",
                   "step_tail_s": "shard_tail_s"},
    "index_ingest": {"items_per_s": "docs_per_s", "step_p50_s": "batch_p50_s",
                     "step_tail_s": "batch_tail_s"},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def run_jvm(classes, args, root, result, log, deadline):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--out", result]
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    args = parse_args()
    try:
        with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        sys.exit(f"perfbench: {e}")
    runs = os.path.join(build.BUILD_DIR, "runs")
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    root = os.path.join(runs, f"{tag}-{os.getpid()}")
    result_path = os.path.join(root, "result.json")
    log = os.path.join(results, tag + ".log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        code = run_jvm(classes, args, root, result_path, log, time.time() + TIME_LIMIT_S)
        if code != 0 or not os.path.exists(result_path):
            sys.exit(f"perfbench: Spark JVM {'timed out' if code is None else 'failed'}"
                     f" (exit {code}); see {os.path.relpath(log)}")
        with open(result_path) as f:
            res = json.load(f)
        checks = list(res["checks"])
        failed = res["failed"]
        attempted = res["attempted"]
        for o in res["oracle"]:
            if o["kind"] == "etl":
                import oracle
                for name, ok, detail in oracle.etl(o):
                    checks.append({"name": name, "ok": ok, "detail": detail})
                    attempted += 1
                    failed += 0 if ok else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)

    correct = failed == 0 and res["warmup_ok"] and all(c["ok"] for c in checks)
    # every metric is printed; the summary line carries the ones
    # BENCHMARK.json names (end-to-end, or per-layer when traced)
    if args.trace:
        values, units = res["per_layer"], res["per_layer_units"]
    else:
        values = res["end_to_end"]
        units = {"step_tail_s": "s", **{m["name"]: m["unit"] for m in spec["end_to_end"]}}
    listed = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cores {res['cores']}  rounds {len(res['rounds'])}")
    for k, v in values.items():
        alias = ALIASES[args.workload].get(k)
        print(f"  {k:44s} {fmt(v):>14s} {units.get(k, '')}"
              + (f"   ({alias})" if alias else ""))
    if not args.trace:
        print(f"  step tail = p{res['step_tail_percentile']:.4g} of n={res['step_n']}")
    print(f"  fail_ratio {failed / max(attempted, 1):.6g} ({failed} of {attempted})")
    for c in checks:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"  ERROR {e[:300]}")
    line = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}
    res["checks"] = checks
    res["summary"] = line
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    print(f"  detail: {os.path.relpath(os.path.join(results, tag + '.json'))}")
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
