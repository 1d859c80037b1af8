#!/usr/bin/env python3
"""Benchmark entry point; see perfbench/README.md.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the op runner
(first run only), generates the seeded inputs, runs one workload in a
closed loop with one client, checks every op's output against DuckDB and
prints the metrics: the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
TIME_LIMIT_S = 170  # a run, after its build, must end within 180 s
GEN_REPEATS = 3
CURATION = ["dd08_dedup_clusters", "cu16_equal_mass_export"]  # Workloads.CurationMix.queries
# the plumber op's layer spans, in call order; each reports <span>_ms
PLUMBER_SPANS = ["metrics.trace", "api.calibrate", "solver.lp", "rules.rewrite",
                 "compile.schema_check", "plans.ranked_table", "compile.compile",
                 "spark.sink"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for dirpath, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + runner with sbt unless the sources are unchanged
    since the last build; returns the seconds spent."""
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return 0.0
    t = time.monotonic()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true",
                             "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return time.monotonic() - t


def run_jvm(args, work, deadline):
    """Run the op runner to completion; return its report."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    paths = {k: os.path.join(work, k) for k in ("out", "tmp", "spark-local")}
    report, log = os.path.join(work, "report.json"), os.path.join(work, "jvm.log")
    os.makedirs(paths["tmp"], exist_ok=True)
    # a fixed-size heap: growing it from the default start size slows the
    # first ops after launch for longer than the warm-up lasts
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={paths['tmp']}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", args.workload,
            "--data", os.path.join(work, "data"), "--out", paths["out"],
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--report", report, "--local-dir", paths["spark-local"]]
    env = dict(os.environ, SPARK_LOCAL_DIRS=paths["spark-local"])
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(report):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"op runner failed ({rc})")
    with open(report) as fh:
        return json.load(fh)


def op_ms(op):
    return (op["end_ns"] - op["start_ns"]) / 1e6


def metric_of(span):
    return f"{span}_ms"


def layer_metrics(workload, rep):
    """Per-layer metrics from the traced ops, each the median over them.
    Span metrics are self times: a span's duration minus the union of its
    children. The op's own self time is the part no layer span covers."""
    traced = [o for o in rep["ops"] if o["traced"]]
    plain = [o for o in rep["ops"] if not o["traced"]]
    spans = [dict(s, start=s["start_ns"] / 1e6, end=s["end_ns"] / 1e6)
             for s in rep["spans"]]
    selfs = stats.self_times(spans)
    operators = [f"operators.{q}" for q in CURATION]
    per_op = []
    for o in traced:
        sp, counts = o["spark"], o["counts"]
        wall = op_ms(o)
        start, end = o["start_ns"] / 1e6, o["end_ns"] / 1e6
        jobs = stats.clip([tuple(j) for j in sp["jobs"]], start, end)
        mine = [s for s in spans if s["op"] == o["id"]]
        self_ms = {}
        for s in mine:
            self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + selfs[s["id"]]
        tasks = sp["tasks_ok"] + sp["tasks_failed"]
        applied = counts.get("rules_applied", 0.0)
        tried = applied + counts.get("rules_skipped", 0.0)
        m = {
            "spark.jobs": (len(jobs), "count"),
            "spark.actions": (sp["actions"], "count"),
            "spark.plan_ms": (sp["plan_ms"], "ms"),
            "spark.driver_gap_ms": (wall - stats.union_length(jobs), "ms"),
            "spark.executor_cpu_ms": (sp["executor_cpu_ms"], "ms"),
            "spark.cpu_busy_share": (sp["executor_cpu_ms"] / (wall * rep["cores"]), "share"),
            "spark.gc_ms": (sp["gc_ms"], "ms"),
            "spark.input_mb": (sp["input_mb"], "MB"),
            "spark.shuffle_write_mb": (sp["shuffle_write_mb"], "MB"),
            "spark.shuffle_read_mb": (sp["shuffle_read_mb"], "MB"),
            "spark.spill_mb": (sp["spill_mb"], "MB"),
            "spark.slowest_stage_ms": (sp["slowest_stage_ms"], "ms"),
            "spark.task_success_ratio": (sp["tasks_ok"] / tasks if tasks else 1.0, "share"),
            "storage.cached_rdds_after_op": (counts.get("cached_rdds_after_op", 0.0), "count"),
            "rules.applied_ratio": (applied / tried if tried else 0.0, "share"),
            "api.uncovered_ms": (self_ms.get("op", 0.0) if workload == "plumber_optimize"
                                 else 0.0, "ms"),
            "trace.op_ms": (wall, "ms"),
        }
        for span in PLUMBER_SPANS + operators:
            m[metric_of(span)] = (self_ms.get(span, 0.0), "ms")
        for span in operators:
            m[f"{span}_jobs"] = (sum(1 for j in jobs for s in mine if s["name"] == span
                                     and s["start"] <= j[0] <= s["end"]), "count")
        per_op.append(m)
    out = {name: {"value": stats.median_n(p[name][0] for p in per_op)[0], "unit": unit}
           for name, (_, unit) in per_op[0].items()}
    u, _ = stats.median_n(op_ms(o) for o in plain)
    t, _ = stats.median_n(op_ms(o) for o in traced)
    out["trace.overhead_ms"] = {"value": t - u, "unit": "ms"}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from the repository root")
    # a SIGTERM unwinds like an error, so the build or the op runner is
    # stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build_s = build()
    deadline = time.monotonic() + TIME_LIMIT_S

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    try:
        data = os.path.join(work, "data")
        gen_s = []
        for _ in range(GEN_REPEATS):  # set-up's own cost, as a median
            t = time.monotonic()
            rows = gen.write(data, args.workload, args.seed)
            gen_s.append(time.monotonic() - t)
        launch = time.time()
        rep = run_jvm(args, work, deadline)
        setup_s = statistics.median(gen_s) + (rep["first_op_ms"] / 1e3 - launch)

        expected = check.Expected(args.workload, data, rep["oracle_sql"])
        misses = []
        for o in rep["ops"]:
            why = o["error"] or next(
                (f"check {k} failed" for k, ok in o["checks"].items() if not ok), None) \
                or expected.check(o["dir"], o["outputs"])
            o["ok"] = why is None
            if why:
                misses.append(f"op {o['id']}: {why}")
        attempted = len(rep["ops"])
        failed = len(misses)
        plain = [op_ms(o) / 1e3 for o in rep["ops"] if not o["traced"]]
        op_s, n = stats.median_n(plain)
        input_rows = sum(rows.values())
        if args.trace:
            metrics = layer_metrics(args.workload, rep)
            with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as fh:
                json.dump({"seed": args.seed, "ops": rep["ops"], "spans": rep["spans"]}, fh)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_s_p50": {"value": op_s, "unit": "s"},
                "rows_per_s": {"value": input_rows / op_s, "unit": "1/s"},
                "ok_op_ratio": {"value": (attempted - failed) / attempted, "unit": "share"},
                "heap_after_gc_mb": {"value": stats.median_n(
                    o["heap_after_gc_mb"] for o in rep["ops"])[0], "unit": "MB"},
            }
        bad = [k for k in metrics if not stats.valid_name(k)]
        if bad:
            fail(f"invalid metric names: {bad}")
        for m in misses:
            print(f"perfbench: {m}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_rows": rows, "build_s": round(build_s, 3),
            "boot_ms": rep["session_ms"] - round(launch * 1e3),
            "warmup_ms": [round(x) for x in rep["warmup_ms"]],
            "op_ms": [round(op_ms(o)) for o in rep["ops"]],
            "op_s_p50_samples": n, "run_s": round(time.monotonic() - T0, 1)}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
