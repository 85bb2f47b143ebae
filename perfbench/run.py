#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  The first run builds graft from
``src/main/scala`` and the benchmark from ``perfbench/scala`` with the Scala
compiler that ships in Spark's jars (into ``$CARGO_TARGET_DIR``, default
``.bench_build``); later runs reuse the build while the sources are unchanged.
Each run then makes its inputs from the seed, starts one JVM on
``local[2]`` in a fresh directory under ``.bench_runs``, checks the outputs and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics of a traced run).  See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from statistics import median, quantiles

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# local[2] on the 4-core host: the driver thread, JIT compiler threads and
# the collector keep cores of their own, which cut run-to-run spread
CORES = 2
HEAP = "3g"
# -XX:-UsePerfData: no hsperfdata file in the system temp directory
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
             "-XX:-UsePerfData"]
RUN_LIMIT_S = 170
HORIZON = 12

# The registry workload reads the repo's sf0.01 test fixture (a copy of the
# star the registry's oracles are validated on), not generated data.
FIXTURE = os.path.join("perfbench", "data", "sf0.01")

# A fixed subset of the registry's ts_* / mv_* / sales_* queries: 14 drawn
# once per family in proportion, at least one each (with
# rng = random.Random(1), rng.sample(ts, 11) + rng.sample(mv, 2) +
# rng.sample(sales, 1) over the names sorted, without ts_best_length,
# mv_dynamic and ts_stream_forecast), plus ts_best_length and mv_dynamic.
# ts_stream_forecast stays out: it writes its stream source outside the run
# directory.  Each run calls them in a seed-drawn order.
REGISTRY_QUERIES = [
    "mv_blocked_dynamic",
    "mv_dynamic",
    "mv_screen_approx",
    "sales_inactive_suppliers",
    "ts_backtest",
    "ts_best_length",
    "ts_calendar",
    "ts_conformal",
    "ts_cv_rolling",
    "ts_dynamic_ci_by_series",
    "ts_mase_msis",
    "ts_periodogram",
    "ts_seasonal_length_by_series",
    "ts_stat_transform",
    "ts_tbats_arma",
    "ts_train_only",
]
REGISTRY_CHECKS = 3

# min_passes: whole passes a run makes even when --seconds has run out.  At
# the benchmark's --seconds both counts bind (a registry pass is longer than
# the run's seconds), so every run takes its median at the same point of the
# JIT warm-up curve.
WORKLOADS = {
    "forecast_registry": {"min_passes": 1},
    "panel_by_series": {"min_passes": 3, "series": 500},
}

END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("e2e_s", "s"), ("items_per_s", "1/s"),
              ("heap_retained_mb", "MB"))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jars, with the Scala compiler among them: under $SPARK_HOME,
    else beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise BenchError("no Spark jars with a Scala compiler: set SPARK_HOME")


def build(root):
    """Compile graft and the benchmark unless the sources are unchanged."""
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not graft or not bench:
        raise BenchError("graft or benchmark sources missing: run from a graft checkout")
    jars = spark_jars()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    digest = hashlib.sha256(jars.encode())
    for f in graft + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(out, "stamp")
    classes = [os.path.join(out, "graft"), os.path.join(out, "bench")]
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    for dest, srcs, cp in ((classes[0], graft, jars),
                           (classes[1], bench, classes[0] + os.pathsep + jars)):
        os.makedirs(dest)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-cp", jars,
               "scala.tools.nsc.Main", "-nowarn",
               "-d", dest, "-classpath", cp] + srcs
        res = subprocess.run(cmd, capture_output=True, text=True)
        if res.returncode != 0:
            raise BenchError("compile failed:\n" + (res.stdout + res.stderr)[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def generate(workload, seed, cfg, root, input_dir):
    """Inputs and planted facts for a run; never timed."""
    if workload == "forecast_registry":
        rng = random.Random(seed)
        order = rng.sample(REGISTRY_QUERIES, len(REGISTRY_QUERIES))
        checked = rng.sample(REGISTRY_QUERIES, REGISTRY_CHECKS)
        fixture = os.path.join(root, FIXTURE)
        if not os.path.exists(os.path.join(fixture, "lineitem.parquet")):
            raise BenchError(f"registry fixture missing: {FIXTURE}")
        return fixture, {"queries": ",".join(order), "checks": ",".join(checked)}, None
    planted = gen.panel(seed, input_dir, cfg["series"])
    return input_dir, {"series": cfg["series"], "horizon": HORIZON}, planted


def op_stats(passes):
    """Per op name the median wall over passes, then the p50 and the p90 of
    those.  They go to the detail line, not the metrics: with the 16 and 7
    ops per run here only n/10 samples lie beyond the p90."""
    by_name = {}
    for p in passes:
        for o in p["ops"]:
            by_name.setdefault(o["name"], []).append(o["s"])
    per_op = [median(v) for v in by_name.values()]
    p90 = quantiles(per_op, n=10, method="inclusive")[8] if len(per_op) > 1 else per_op[0]
    return {"op_p50_s": median(per_op), "op_tail_s": p90, "op_samples": len(per_op),
            "op_tail_percentile": 90}


def end_to_end(raw):
    walls = [p["wall_s"] for p in raw["passes"]]
    setup, wall = raw["setup_s"], median(walls)
    values = {"setup_s": setup, "wall_s": wall, "e2e_s": setup + wall,
              "items_per_s": raw["items"] / wall, "heap_retained_mb": median(raw["heap_mb"])}
    detail = dict(op_stats(raw["passes"]), passes=len(walls), walls_s=walls,
                  calib_s=raw["calib_s"])
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}, detail


def run_checks(workload, root, result_dir, input_dir, params, planted):
    if workload == "forecast_registry":
        return checks.registry(os.path.join(root, "tools", "check.py"), input_dir, result_dir,
                               params["checks"].split(","))
    return checks.panel(result_dir, planted, HORIZON)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    cfg = WORKLOADS[args.workload]

    classes = build(root)
    t_start = time.time()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(t_start)}"
    run_dir = os.path.join(root, ".bench_runs", run_id)
    input_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    input_dir, params, planted = generate(args.workload, args.seed, cfg, root, input_dir)

    jvm_args = {"workload": args.workload, "input": input_dir, "out": out_dir,
                "seconds": args.seconds, "trace": args.trace, "cores": CORES, "run": run_id,
                "min_passes": cfg["min_passes"], **params}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + JVM_FLAGS + ADD_OPENS +
           ["-cp", os.pathsep.join(classes + [spark_jars()]), "perfbench.Main"] +
           [x for k, v in jvm_args.items() for x in (f"--{k}", str(v))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            res = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                 timeout=max(30.0, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            raise BenchError(f"run exceeded {RUN_LIMIT_S} s; see {run_dir}/jvm.log")
    raw_path = os.path.join(out_dir, "raw.json")
    if res.returncode != 0 or not os.path.exists(raw_path):
        raise BenchError(f"benchmark JVM exited {res.returncode}; see {run_dir}/jvm.log")
    raw = json.load(open(raw_path))
    if raw["setup_error"] or not raw["passes"]:
        raise BenchError(f"set-up failed: {raw['setup_error']}")

    result_dir = os.path.join(out_dir, "result")
    checked = run_checks(args.workload, root, result_dir, input_dir, params, planted)
    ops = [o for p in raw["passes"] for o in p["ops"]]
    attempted = len(ops) + 1  # the ops and the set-up
    failed = min(attempted, sum(1 for o in ops if o["error"]) +
                 sum(1 for _, ok, _ in checked if not ok))
    if args.trace:
        values = layers.layer_metrics(raw)
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.per_layer_names()}
        detail = {"untraced_wall_s": raw["untraced_wall_s"], "traced_wall_s": raw["traced_wall_s"]}
    else:
        metrics, detail = end_to_end(raw)
    detail.update(run=run_id, checks=[{"check": c, "ok": ok, "detail": d} for c, ok, d in checked],
                  errors=sorted({o["error"] for o in ops if o["error"]}))
    shutil.copy(raw_path, os.path.join(run_dir, "raw.json"))
    for d in ("input", "out", "local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
