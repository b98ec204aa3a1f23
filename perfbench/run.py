#!/usr/bin/env python3
"""Benchmark of the catmeetljspark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the benchmark
client (perfbench/src) in one JVM on local[N] with N = the cpus this process
may use, checks every output, and prints one JSON line as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Workloads (see BENCHMARK.json for why each exists):
  xlsx_convert   Convert.run over a generated workbook, every output format
  catalog_small  every k-th SparkEntry row in name order, fixture at sf0.01

Everything it writes stays under <checkout>/.bench_build.
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
RUNS = os.path.join(build.BUILD, "runs")

# Sizes. k sets how many rows a catalogue pass runs; it was chosen only so
# a run (set-up, cold pass, steady window, checks) fits its time budget.
XLSX_ROWS = 30000
XLSX_WARM_ROWS = 2000
SMALL_EVERY_KTH = 61
SMALL_SF = 0.01
WARM_SF = 0.001

FAMILIES = ["ingest", "tpch", "orders", "events", "docs", "dedup", "text",
            "search", "sim", "graph", "pipeline", "quality", "sample", "layout",
            "sketch", "multimodal", "other"]

JVM_OPENS = [x for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

DEADLINE_S = 160


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def make_inputs(workload, seed, work):
    import gen
    spec = {"workload": workload, "out_dir": os.path.join(work, "out")}
    os.makedirs(spec["out_dir"])
    if workload == "xlsx_convert":
        for key, n, s in (("warm", XLSX_WARM_ROWS, seed + 1000003), ("main", XLSX_ROWS, seed)):
            path = os.path.join(work, key, "book.xlsx")
            spec[key] = dict(gen.workbook(path, s, n), file=path)
    else:
        spec["warm_dir"] = os.path.join(work, "warm")
        spec["main_dir"] = os.path.join(work, "main")
        gen.fixtures(spec["warm_dir"], seed + 1000003, WARM_SF)
        gen.fixtures(spec["main_dir"], seed, SMALL_SF)
        spec["every_kth"] = SMALL_EVERY_KTH
        # the all-pairs twin is an oracle cross-check, not a benched row
        spec["exclude"] = ["dedup_embedding_cosine"]
    return spec


def start_jvm(cp, spec_path, rec_path, spans_path, seconds, trace, work):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_OPENS + [
        "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=file:" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main", "--spec", spec_path, "--out", rec_path,
        "--trace", str(trace), "--seconds", str(seconds),
        "--launch-ms", str(int(time.time() * 1000))]
        + (["--spans", spans_path] if trace else []))
    lf = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work), lf


def stop(p):
    """Stop the JVM: SIGTERM first, so its shutdown hooks remove the
    engine's scratch directories, then SIGKILL."""
    if p.poll() is None:
        p.terminate()
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def finish_jvm(proc, rec_path, work, deadline):
    p, lf = proc
    try:
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop(p)
        lf.close()
    if rc is None:
        raise RuntimeError("benchmark JVM exceeded the deadline")
    if rc != 0 or not os.path.isfile(rec_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError("benchmark JVM failed (exit %d):\n%s" % (rc, tail))
    with open(rec_path) as fh:
        return json.load(fh)


def end_to_end(rec):
    passes = rec["steady"]["passes"]
    ops = [o["s"] for p in passes for o in p["ops"]]
    # p90: a run has a few dozen steady samples, too few for a percentile
    # with ten samples above it to sit anywhere but at the median
    tail = statistics.quantiles(ops, n=10, method="inclusive")[-1]
    return {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "cold_wall_s": (rec["cold"]["wall_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail, "s"),
        "heap_peak_mb": (rec["heap_peak_mb"], "MB"),
    }, {"op_samples": len(ops)}


def per_layer(rec, failed, attempted):
    td = rec["trace_data"]
    passes = rec["steady"]["passes"]
    n = len(passes)
    wall = sum(p["wall_s"] for p in passes)
    led = td["ledger"]
    cnt = td["counts"]
    sp = td["spans"]
    lay = td["layers"]
    cpus = rec["env"]["cpus"]
    mb = 1048576.0
    streaming = set(rec["streaming_rows"])
    m = {}
    for k, unit in [("xlsx.meta_s", "s"), ("xlsx.infer_s", "s"), ("xlsx.scan_s", "s"),
                    ("xlsx.scan_rows_per_s", "1/s"), ("xlsx.parse_amplification", "ratio"),
                    ("ingest.order_s", "s"), ("ingest.shuffle_mb", "MB"),
                    ("sink.ndjson_s", "s"), ("sink.csv_s", "s"), ("sink.json_s", "s"),
                    ("sink.xlsx_s", "s"), ("sink.mb_written", "MB"), ("sink.files", "count"),
                    ("convert.readback_s", "s")]:
        m[k] = (lay.get(k, 0.0), unit)
    n_convert = sum(1 for p in passes for o in p["ops"] if o["name"].startswith("convert_"))
    m["convert.jobs"] = (cnt.get("convert.jobs", 0.0) / max(n_convert, 1), "count")
    m["construct_s"] = (sp["construct"] / n, "s")
    m["construct_jobs"] = (cnt.get("construct.jobs", 0.0) / n, "count")
    m["plan_s"] = (sp["plan"] / n, "s")
    m["exec_s"] = (sp["exec"] / n, "s")
    m["exec_jobs"] = (cnt.get("exec.jobs", 0.0) / n, "count")
    m["jobs"] = (led["jobs"] / n, "count")
    m["stages"] = (led["stages"] / n, "count")
    m["tasks"] = (led["tasks"] / n, "count")
    m["core_idle_ratio"] = (1.0 - (led["run_ns"] / 1e9) / (wall * cpus), "ratio")
    m["task_run_s"] = (led["run_ns"] / 1e9 / n, "s")
    m["task_cpu_s"] = (led["cpu_ns"] / 1e9 / n, "s")
    m["task_gc_s"] = (led["gc_ms"] / 1e3 / n, "s")
    m["input_mb"] = (led["in_bytes"] / mb / n, "MB")
    m["shuffle_write_mb"] = (led["shw_bytes"] / mb / n, "MB")
    m["shuffle_read_mb"] = (led["shr_bytes"] / mb / n, "MB")
    m["spill_mb"] = (led["spill_bytes"] / mb / n, "MB")
    for f in FAMILIES:
        m["family.%s.wall_s" % f] = (
            sum(o["s"] for p in passes for o in p["ops"] if o["family"] == f) / n, "s")
    m["stage.build_s"] = (rec["cold"]["stage_build_s"], "s")
    m["cache.persisted"] = (cnt.get("cache.persisted", 0.0) / n, "count")
    m["cache.release_s"] = (sp["release"] / n, "s")
    m["stream.cold_s"] = (
        sum((o["s"] for o in rec["cold"]["ops"] if o["name"] in streaming), 0.0), "s")
    m["stream.steady_s"] = (
        sum(o["s"] for p in passes for o in p["ops"] if o["name"] in streaming) / n, "s")
    m["stream.rows_per_s"] = (
        td["stream_rows"] / td["stream_batch_s"] if td["stream_batch_s"] > 0 else 0.0, "1/s")
    for phase in ("setup", "cold", "steady"):
        m["jvm.%s.jit_s" % phase] = (rec[phase]["jit_s"], "s")
        m["jvm.%s.gc_s" % phase] = (rec[phase]["gc_s"], "s")
    # how much of the steady pass the layer spans account for
    if rec["workload"] == "xlsx_convert":
        per_format = (lay["xlsx.meta_s"] + lay["xlsx.infer_s"] + lay["xlsx.scan_s"]
                      + lay["ingest.order_s"])
        covered = (4 * per_format + lay["sink.ndjson_s"] + lay["sink.csv_s"]
                   + lay["sink.json_s"] + lay["sink.xlsx_s"] + lay["convert.readback_s"])
    else:
        covered = (sp["construct"] + sp["plan"] + sp["exec"] + sp["release"]) / n
    m["trace.wall_s"] = (wall / n, "s")
    m["trace.covered_s"] = (covered, "s")
    m["trace.uncovered_s"] = (wall / n - covered, "s")
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in passes)
                             - statistics.median(p["wall_s"] for p in rec["steady"]["untraced"]), "s")
    m["fail_ratio"] = (failed / attempted, "ratio")
    m["env.steal_pct"] = (rec["env"]["steal_pct"], "%")
    return m


def manifest_mismatch(metrics, trace):
    """What differs between the metrics about to be printed and the ones
    BENCHMARK.json lists for this kind of run (names and units)."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    have = {k: u for k, (_, u) in metrics.items()}
    return ["%s: printed %s, listed %s" % (k, have.get(k), want.get(k))
            for k in sorted(set(want) | set(have)) if have.get(k) != want.get(k)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["xlsx_convert", "catalog_small"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and cleans up (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S

    try:
        cp = build.build(log=sys.stderr)
    except build.BuildError as e:
        log("build failed: %s" % e)
        return 2
    # a first build can take minutes; the measured part keeps its own budget
    deadline = max(deadline, time.time() + DEADLINE_S - 10)

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RUNS, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    spec_path = os.path.join(work, "spec.json")
    rec_path = os.path.join(work, "record.json")
    proc = None
    try:
        # inputs are generated while the JVM starts; it waits for the spec
        proc = start_jvm(cp, spec_path, rec_path, os.path.join(RUNS, tag + ".spans.json"),
                         args.seconds, args.trace, work)
        t0 = time.time()
        spec = make_inputs(args.workload, args.seed, work)
        gen_s = time.time() - t0
        with open(spec_path + ".tmp", "w") as fh:
            json.dump(spec, fh)
        os.rename(spec_path + ".tmp", spec_path)
        rec = finish_jvm(proc, rec_path, work, deadline)
        proc = None
        oracle = {}
        if rec["oracle"]:
            import oracle as orc
            oracle = orc.check(spec["main_dir"], spec["out_dir"], rec["oracle"])
    except Exception as e:
        log("run failed: %s" % e)
        return 1
    finally:
        if proc is not None:
            stop(proc[0])
            proc[1].close()
        # inputs and outputs are rebuilt per run; keep only the records
        for d in ("warm", "main", "out", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    bad_rows = {r: why for r, why in oracle.items() if why}
    errors = []
    attempted = failed = 0
    # a warm-up failure makes the run incorrect; it is not a measured op
    errors += ["warm %s: %s" % (o["name"], o["error"]) for o in rec["setup"]["warm_failures"]]
    phases = ([("cold", o) for o in rec["cold"]["ops"]]
              + [("steady", o) for p in rec["steady"]["passes"] + rec["steady"]["untraced"]
                 for o in p["ops"]])
    for phase, o in phases:
        attempted += 1
        err = o["error"] or (bad_rows.get(o["name"]) and "oracle: " + bad_rows[o["name"]])
        if err:
            failed += 1
            errors.append("%s %s: %s" % (phase, o["name"], err))
    for e in errors[:20]:
        log("FAILED " + e)

    e2e, notes = end_to_end(rec)
    metrics = e2e if not args.trace else per_layer(rec, failed, attempted)
    mismatch = manifest_mismatch(metrics, args.trace)
    if mismatch:
        log("metrics differ from BENCHMARK.json:\n  " + "\n  ".join(mismatch))
        return 1
    summary = {"env": rec["env"], "gen_s": gen_s, "setup": rec["setup"], **notes,
               "cold_wall_s": rec["cold"]["wall_s"],
               "steady_walls": [p["wall_s"] for p in rec["steady"]["passes"]],
               "errors": errors, "spans_file": rec.get("spans_file")}
    with open(os.path.join(RUNS, tag + ".json"), "w") as fh:
        json.dump({"summary": summary, "record": rec,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, fh)
    log("env: cpus %(cpus)s, load %(load_start)s -> %(load_end)s, steal %(steal_pct).2f%%"
        % rec["env"])
    log("op_tail_s is p90 of %d samples" % notes["op_samples"])
    if args.trace:
        log("spans: %s" % rec["spans_file"])
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
