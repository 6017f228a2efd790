#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program and the
harness (perfbench/harness) into .bench_build/. A run lands fresh copies
of the committed input tables (perfbench/data), drives the workload in
one JVM (perfbench.Harness), checks every answer against DuckDB, and
prints {"correct", "attempted", "failed", "metrics"} last. With --trace 1
the harness also registers Spark listeners and the metrics are the
per-layer ones; both kinds of run write a sidecar with per-op detail
and host context to .bench_build/sidecars/ (see perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

import duckdb

import plan as plans

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data", "sf0.01")
BUILD = os.path.abspath(".bench_build")
DEADLINE_S = 170
SERVE_BLOCKS = 40
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = [a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                     "java.net", "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar"]
         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# C1 only: a run lasts about a minute, and C2 kept about two of the four
# cores compiling through the timed region, which cost a sixth of the run
# and spread its timings. C1 alone gets a 48 MB code cache by default,
# which this program fills (the compiler then stops), hence the size.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
# per-op counts labelled exact or not across two traced runs
EXACT_COUNTS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                "exchange.shuffle_write_bytes", "exchange.shuffle_records"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit") or shutil.which("spark-shell")
        if not exe:
            fail("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no jars under {home}/jars")
    return jars


def scalac(sources, jar, classpath):
    """Compiles `sources` into the jar `jar` (jars, not directories, so
    the JVM can keep them in a class-data-sharing archive)."""
    out = jar + ".d"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(sources))
    cp = ":".join(classpath)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp, "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(out):
            for f in sorted(files):
                z.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), out))
    shutil.rmtree(out)


def build():
    """Compile the program and the harness unless the sources are
    unchanged since the last build; returns the run classpath."""
    program = sorted(glob.glob("src/main/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not program:
        fail("no program sources under src/main: run from the repository root")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in program + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    stamp_file = os.path.join(BUILD, "stamp")
    classes, hclasses = os.path.join(BUILD, "program.jar"), os.path.join(BUILD, "harness.jar")
    os.makedirs(BUILD, exist_ok=True)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest()):
        t0 = time.time()
        # archives, untraced baselines and traced counts belong to the old build
        for d in ("cds", "state", "sidecars"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        scalac(program, classes, jars)
        scalac(harness, hclasses, [classes] + jars)
        with open(stamp_file, "w") as fh:
            fh.write(h.hexdigest())
        log(f"built program + harness in {time.time() - t0:.1f} s")
    return [hclasses, classes] + jars


# ------------------------------------------------------------------- host

def host_snapshot():
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": load, "cpu_ticks": ticks}


def steal_share(before, after):
    d = [a - b for a, b in zip(after["cpu_ticks"], before["cpu_ticks"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def driver_mem():
    """Half the host memory in GiB, clamped to 2..8 (the tier-1 sizing)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


# -------------------------------------------------------------------- run

def class_sharing(workload):
    """JVM flags for the workload's class-data-sharing archive: use it
    when present, else have this run write it at exit (the run itself
    then loads every class from the jars)."""
    archive = os.path.join(BUILD, "cds", f"{workload}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def run_harness(classpath, workload, seed, seconds, trace, deadline):
    """Runs the JVM harness once; returns (result, work_dir, plan)."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d))
    plan = {"seed": seed}
    if workload == "serve":
        # the users the model trains on: every customer with an interaction
        known = sorted(r[0] for r in duckdb.sql(
            f"SELECT DISTINCT CAST(o_custkey AS INTEGER) FROM '{DATA}/orders.parquet' o "
            f"JOIN '{DATA}/lineitem.parquet' l ON o.o_orderkey = l.l_orderkey "
            "WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL").fetchall())
        plan = plans.make(seed, known, SERVE_BLOCKS)
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cds, new_archive = class_sharing(workload)
    cmd = (["java", "-XX:-UsePerfData"] + JIT + OPENS + cds + [
        f"-Xmx{driver_mem()}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
        "-Dspark.ui.enabled=false"] +
        (["-Dspark.sql.queryExecutionListeners=perfbench.PlanListener"] if trace else []) +
        ["-cp", ":".join(classpath), "perfbench.Harness",
         "--workload", workload, "--data", DATA, "--work", work,
         "--seconds", str(seconds), "--plan", plan_file, "--trace", str(trace),
         "--out", os.path.join(work, "result.json")])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness passed the {DEADLINE_S} s deadline; log: {jvm_log}")
    keep = os.path.join(BUILD, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(keep), exist_ok=True)
    shutil.copy(jvm_log, keep)
    result_file = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(jvm_log) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness exited with {proc.returncode}; log {keep}:\n{tail}")
    if new_archive and os.path.exists(new_archive + ".tmp"):
        os.replace(new_archive + ".tmp", new_archive)
    with open(result_file) as fh:
        return json.load(fh), work, plan


def requests(result):
    """Top-level ops of the timed cycles: the requests of a `serve` block,
    the public calls of a `nightly_batch` cycle."""
    cycles = {o["id"] for o in result["ops"] if o["name"] == "cycle"}
    return [o for o in result["ops"] if o["parent"] in cycles]


def median_of(ops, name, scale):
    xs = [o["wall_ms"] / scale for o in ops if o["name"] == name and o["ok"]]
    return statistics.median(xs) if xs else 0.0


def batch_s(result):
    """Median cycle wall time. A `serve` run may stop inside a block, so
    there it is the timed wall time per request times a block's length."""
    if result["workload"] == "serve":
        walls = sum(c["wall_s"] for c in result["cycles"])
        return walls / len(requests(result)) * len(plans.PATTERN)
    return statistics.median(c["wall_s"] for c in result["cycles"])


def end_to_end(result, quality, attempted, failed):
    lat = sorted(o["wall_ms"] for o in requests(result))
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
    reps = result["setup_reps_s"]
    once = (result["first_timed_ms"] - result["jvm_start_ms"]) / 1e3 - sum(reps)
    return {
        "setup_s": once + statistics.median(reps),
        "batch_s": batch_s(result),
        "req_p50_ms": statistics.median(lat),
        "req_p90_ms": p90,
        "ok_ratio": (attempted - failed) / attempted,
        "peak_heap_mb": result["peak_heap_after_gc_bytes"] / 2 ** 20,
        "catalog_coverage": quality.get("coverage", 0.0),
    }


def per_layer(result, quality, overhead):
    ops = [o for o in result["ops"] if o["ok"]]
    cycles = [o for o in ops if o["name"] == "cycle"]
    m = {name: statistics.median(o["counts"][name] for o in cycles) if cycles else 0.0
         for name in cycles[0]["counts"]} if cycles else {}
    pipe = [o["info"]["rows_written"] for o in ops if o["name"] == "etl.pipeline_run"]
    m.update({
        "etl.pipeline_run_s": median_of(ops, "etl.pipeline_run", 1e3),
        "etl.rows_written": statistics.median(pipe) if pipe else 0.0,
        "streaming.upsert_sink_s": median_of(ops, "streaming.upsert_sink", 1e3),
        "ml.als_train_s": median_of(ops, "ml.als_train", 1e3),
        "ml.item_item_s": median_of(ops, "ml.item_item", 1e3),
        "ml.evaluate_s": median_of(ops, "ml.evaluate", 1e3),
        "ml.coverage_s": median_of(ops, "ml.coverage", 1e3),
        "ml.precision_at_5": quality.get("precision", 0.0),
        "ml.recall_at_5": quality.get("recall", 0.0),
        "ml.topk_ms": median_of(ops, "ml.topk", 1),
        "ml.diversify_ms": median_of(ops, "ml.diversify", 1),
        "analytics.resolve_ms": median_of(ops, "analytics.resolve", 1),
        "analytics.execute_ms": median_of(ops, "analytics.execute", 1),
        "flagship.corpus_build_s": median_of(ops, "flagship.corpus_build", 1e3),
        "similarity.knn_graph_s": median_of(ops, "similarity.knn_graph", 1e3),
        "graph.label_propagation_s": median_of(ops, "graph.label_propagation", 1e3),
        "graph.pagerank_s": median_of(ops, "graph.pagerank", 1e3),
        "selection.dsir_s": median_of(ops, "selection.dsir", 1e3),
        "disk.scratch_peak_bytes": float(result["scratch_peak_bytes"]),
        "driver.peak_rss_mb": result["vm_hwm_kb"] / 1024,
        "trace.overhead": overhead,
    })
    m.update(result["kernels"])
    return m


def op_key(o):
    return f"{o['phase']}:{o['cycle']}:{o['name']}:{o['info'].get('template', '')}"


def exact_labels(ops, prior):
    """Per op, whether each count equals the prior traced run's (None
    without a prior run or a matching op)."""
    before = {op_key(o): o for o in (prior or {}).get("ops", [])}
    for o in ops:
        p = before.get(op_key(o))
        counts = dict(o["counts"], **({"etl.rows_written": o["info"]["rows_written"]}
                                      if "rows_written" in o["info"] else {}))
        o["exact"] = {k: (None if p is None or k not in p.get("all_counts", {})
                          else p["all_counts"][k] == v)
                      for k, v in counts.items() if k in EXACT_COUNTS or k == "etl.rows_written"}
        o["all_counts"] = counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(DATA):
        fail(f"missing input tables {DATA}")
    if not os.path.exists(os.path.join("tools", "check.py")):
        fail("tools/check.py not found: run from the repository root")
    classpath = build()
    deadline = max(deadline, time.time() + DEADLINE_S)  # a first build is not charged

    state = os.path.join(BUILD, "state")
    sidecars = os.path.join(BUILD, "sidecars")
    os.makedirs(state, exist_ok=True)
    os.makedirs(sidecars, exist_ok=True)
    untraced_file = os.path.join(state, f"{args.workload}-untraced.json")
    untraced = json.load(open(untraced_file)) if os.path.exists(untraced_file) else []

    before = host_snapshot()
    result, work, plan = run_harness(classpath, args.workload, args.seed, args.seconds,
                                     args.trace, deadline)
    after = host_snapshot()

    import checks  # after the layout check: it loads tools/check.py
    checker = checks.Checker(result, work, DATA, os.path.join(BUILD, "oracle"))
    verdicts = checker.run(plan)
    self_test = checker.self_test()
    quality = {}
    for o in result["ops"]:
        if o["ok"] and o["info"].get("check") in ("reco_eval_quality", "reco_coverage_quality"):
            quality.update(checks.records(os.path.join(work, "out", str(o["id"])))[0])
    attempted = len(verdicts)
    failed = sum(v is not None for v in verdicts.values())
    for i, v in verdicts.items():
        if v is not None:
            log(f"op {i} {result['ops'][i]['name']}: {v}")
    if not self_test:
        log("self-test: a deliberately wrong answer passed the check")

    if args.trace:
        # traced over untraced batch_s, same seed when there is one; with no
        # untraced run in this build, the listeners' own time stands in
        base = [u["batch_s"] for u in untraced if u["seed"] == args.seed] or \
               [u["batch_s"] for u in untraced]
        traced_s = batch_s(result)
        overhead = (traced_s / statistics.median(base) if base else
                    traced_s / max(1e-9, traced_s - result["trace_callback_ms"] / 1e3))
        metrics = per_layer(result, quality, overhead)
    else:
        metrics = end_to_end(result, quality, attempted, failed)
        untraced.append({"seed": args.seed, "batch_s": metrics["batch_s"]})
        with open(untraced_file, "w") as fh:
            json.dump(untraced[-50:], fh)

    ops = result["ops"]
    for o in ops:
        o["check"] = verdicts.get(o["id"], "unchecked") or "ok"
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}.json"
    latest = os.path.join(sidecars, f"{args.workload}-trace-latest.json")
    prior = None
    if args.trace:
        # the same seed's last traced run when there is one: `serve` request
        # parameters, and so its counts, differ between seeds
        for f in (os.path.join(sidecars, name), latest):
            if os.path.exists(f):
                with open(f) as fh:
                    prior = json.load(fh)
                break
        exact_labels(ops, prior)
    sidecar = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": failed == 0 and self_test,
        "attempted": attempted, "failed": failed, "self_test_fired": self_test,
        "requests": len(requests(result)), "cycles": result["cycles"],
        "session_s": (result["session_ready_ms"] - result["jvm_start_ms"]) / 1e3,
        "timed_jit_ms": result["timed_jit_ms"], "timed_gc_ms": result["timed_gc_ms"],
        "timed_codegen_classes": result["timed_codegen_classes"],
        "kernels_s": result["kernels_s"],
        "trace_overhead_base": ("untraced runs" if untraced else "listener time")
                               if args.trace else None,
        "exact_against_seed": prior["seed"] if prior else None,
        "setup_reps_s": result["setup_reps_s"],
        "host": {"before": before, "after": after, "steal_share": steal_share(before, after),
                 "nproc": len(os.sched_getaffinity(0)), "cpus_seen_by_jvm": result["cpus"],
                 "driver_mem": driver_mem(), "heap_max_bytes": result["heap_max_bytes"],
                 "vm_hwm_mb": result["vm_hwm_kb"] / 1024,
                 "probe_s": result["probe"] if args.trace else None},
        "metrics": metrics, "quality": quality, "ops": ops,
    }
    with open(os.path.join(sidecars, name), "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    if args.trace:
        shutil.copy(os.path.join(sidecars, name), latest)
    shutil.rmtree(work, ignore_errors=True)
    log(f"sidecar .bench_build/sidecars/{name}; steal {steal_share(before, after):.1%}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0 and self_test, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
