#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6   # all three in turn

Builds graft and the harness from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs one JVM on
local[4] (perfbench/src/perfbench/Harness.scala), checks every output
(perfbench/checks.py) and prints, as its last line, one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
A fuller record of the run goes to .bench_build/artifacts/. See README.md.
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

import build  # noqa: E402  (the benchmark's own modules, next to this file)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("convert", "stream_ingest", "curate")
# The JVM must be done by then, leaving the checks time to finish within
# the 180 s a run may take.
JVM_DEADLINE_S = 150
LEG_INPUT = {"csv_to_csv": "csv", "csv_to_parquet": "csv",
             "parquet_to_parquet": "parquet", "drift_to_parquet": "drift"}
STREAM_KEYS = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
               "get_batch_s": "getBatch", "latest_offset_s": "latestOffset",
               "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
               "commit_offsets_s": "commitOffsets"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 that leaves at least ten samples
    beyond it, as (percentile, value); None when there are too few."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            q = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return p, q
    return None


def units(ops, phase):
    """The run's repetitions in one phase, each a list of operations."""
    reps = {}
    for o in ops:
        if o["phase"] == phase:
            reps.setdefault(o["rep"], []).append(o)
    return [reps[r] for r in sorted(reps)]


def input_bytes(op, manifest):
    if op["kind"] == "leg":
        return manifest["input_bytes"][LEG_INPUT[op["name"]]]
    if op["kind"] == "query":
        return manifest["input_bytes"]
    return op.get("in_bytes", 0)


def op_walls(r):
    """Each operation's wall; in a traced run, less the side calls made only
    to time a layer (see Trace.side), so that traced and untraced walls
    compare."""
    side = {}
    roots = {s["id"]: s["op"] for s in r["spans"] if s["name"].startswith("op.")}
    for s in r["spans"]:
        if s["side"] and s["parent"] in roots:
            side[s["op"]] = side.get(s["op"], 0.0) + s["dur_s"]
    return {o["id"]: o["wall_s"] - side.get(o["id"], 0.0) for o in r["ops"]}


def end_to_end(r, workload):
    reps = units(r["ops"], "measure")
    wall = op_walls(r)
    walls = [sum(wall[o["id"]] for o in u) for u in reps]
    if workload == "stream_ingest":
        # a repetition is one wave, and a run has too few for a high
        # percentile that one slow wave cannot set on its own
        tail_s = statistics.quantiles(walls, n=4, method="inclusive")[2]
    else:
        # the slowest operation of each repetition
        tail_s = median([max(wall[o["id"]] for o in u) for u in reps])
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (tail_s, "s"),
        "heap_live_peak_mb": (max(r["heap_mb"]), "MB"),
    }


def workload_detail(r, manifest, workload):
    """The workload's own figures: recorded in the artifact and printed,
    not part of the gated metrics."""
    ops = [o for o in r["ops"] if o["phase"] == "measure"]
    wall = op_walls(r)
    d = {"error_rate": (sum(not o["ok"] for o in r["ops"]) / len(r["ops"]), "fraction")}
    if workload == "convert":
        for leg in LEG_INPUT:
            rates = [input_bytes(o, manifest) / 1e6 / wall[o["id"]] for o in ops if o["name"] == leg]
            d[f"{leg}_mbps"] = (median(rates), "MB/s")
    elif workload == "stream_ingest":
        lat = [wall[o["id"]] for o in ops]
        d["wave_latency_p50_s"] = (median(lat), "s")
        t = tail(lat)
        d["wave_latency_tail_s"] = (t[1] if t else max(lat), "s")
        d["wave_latency_tail_pct"] = (t[0] if t else 100, "percentile")
        d["waves"] = (len(lat), "count")
        d["ingest_rows_per_s"] = (sum(o.get("rows", 0) for o in ops) / sum(lat), "rows/s")
    else:
        passes = units(r["ops"], "measure")
        for half, pick in (("stream", lambda n: n.startswith("st")),
                           ("batch", lambda n: not n.startswith("st"))):
            d[f"curate_{half}_s"] = (median([sum(wall[o["id"]] for o in u if pick(o["name"]))
                                             for u in passes]), "s")
    return d


def attribute(r):
    """Map each job and each streaming progress event to a span: by the
    job group the span set, else by the innermost span open at its start."""
    spans = {s["id"]: s for s in r["spans"]}
    ordered = sorted(r["spans"], key=lambda s: (s["start_ms"], s["id"]))

    def at(ms):
        best = None
        for s in ordered:
            if s["start_ms"] > ms:
                break
            if s["end_ms"] >= ms:
                best = s
        return best

    jobs = []
    for j in r["jobs"]:
        sid = j["group"][len("span-"):] if j["group"].startswith("span-") else ""
        s = spans.get(int(sid)) if sid.isdigit() else at(j["start_ms"])
        if s is not None:
            jobs.append((j, s))
    progress = [(p, at(p["ms"])) for p in r["progress"]]
    return jobs, [(p, s) for p, s in progress if s is not None]


def per_layer(r, names):
    traced = {o["id"]: o for o in r["ops"] if o["phase"] == "measure"}
    n = max(1, len(units(r["ops"], "measure")))
    spans = [s for s in r["spans"] if s["op"] in traced]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    self_time = {s["id"]: s["dur_s"] - child.get(s["id"], 0.0) for s in spans}
    jobs, progress = attribute(r)
    jobs = [(j, s) for j, s in jobs if s["op"] in traced]

    def layer_s(name):
        return sum(self_time[s["id"]] for s in spans if s["name"] == name) / n

    in_path = {i: w for i, w in op_walls(r).items() if i in traced}
    path_jobs = [j for j, s in jobs if not s["side"]]

    busy = 0.0
    for op_id in in_path:
        iv = sorted((j["start_ms"], j["end_ms"]) for j, s in jobs
                    if not s["side"] and s["op"] == op_id)
        end = None
        for a, b in iv:
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
    busy /= 1000.0

    legs = [o for o in traced.values() if o["kind"] == "leg"]
    waves = [o for o in traced.values() if o["kind"] == "wave"]
    out_in = [(o.get("out_bytes", 0), input_bytes(o, r["manifest"])) for o in legs + waves]
    m = {
        "sources.discover_s": layer_s("sources.discover"),
        "sources.schema_probe_s": layer_s("sources.schema_probe"),
        "sources.files_probed": sum(o.get("files_probed", 0) for o in traced.values()) / n,
        "schema.unify_s": layer_s("schema.unify"),
        "operators.concat_plan_s": layer_s("operators.concat_plan"),
        "operators.byte_path_s": layer_s("operators.byte_path"),
        "operators.byte_path_hit_ratio":
            sum(bool(o.get("byte_path")) for o in legs) / len(legs) if legs else 0.0,
        "sinks.write_s": layer_s("sinks.write"),
        "sinks.out_bytes_per_in_byte":
            sum(a for a, _ in out_in) / sum(b for _, b in out_in) if out_in else 0.0,
        "sinks.files_per_wave":
            sum(o.get("out_files", 0) for o in waves) / len(waves) if waves else 0.0,
        "streaming.plan_s": layer_s("streaming.plan"),
        "streaming.run_s": layer_s("streaming.run"),
    }
    path_progress = [p for p, s in progress if s["op"] in traced and not s["side"]]
    for key, dur in STREAM_KEYS.items():
        m[f"streaming.{key}"] = sum(p["duration_ms"].get(dur, 0) for p in path_progress) / 1e3 / n
    m["streaming.micro_batches"] = len(path_progress) / n
    m["streaming.input_rows"] = sum(p["input_rows"] for p in path_progress) / n
    for q in names:
        m[f"queries.{q}.construct_s"] = layer_s(f"queries.{q}.construct")
        m[f"queries.{q}.action_s"] = layer_s(f"queries.{q}.action")
        m[f"queries.{q}.jobs"] = sum(1 for j, s in jobs
                                     if s["name"] in (f"queries.{q}.construct", f"queries.{q}.action")) / n
    m.update({
        "spark.jobs": len(path_jobs) / n,
        "spark.stages": sum(j["stages"] for j in path_jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in path_jobs) / n,
        "spark.job_busy_s": busy / n,
        "spark.driver_only_s": (sum(in_path.values()) - busy) / n,
        "spark.exec_run_s": sum(j["run_ms"] for j in path_jobs) / 1e3 / n,
        "spark.exec_cpu_s": sum(j["cpu_ns"] for j in path_jobs) / 1e9 / n,
        "spark.gc_s": sum(j["gc_ms"] for j in path_jobs) / 1e3 / n,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in path_jobs) / 1e6 / n,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in path_jobs) / 1e6 / n,
        "spark.input_mb": sum(j["in_bytes"] for j in path_jobs) / 1e6 / n,
        "spark.output_mb": sum(j["out_bytes"] for j in path_jobs) / 1e6 / n,
        "jvm.gc_s": sum(o["jvm_gc_s"] for o in traced.values()) / n,
    })
    cost = r["overhead"]["span_s"] + r["overhead"]["listener_s"]
    m["trace.overhead_ratio"] = cost / sum(in_path.values())

    # per-operation census counts, for the count-determinism report
    census = {}
    for o in traced.values():
        js = [j for j, s in jobs if s["op"] == o["id"] and not s["side"]]
        census.setdefault(o["name"], []).append(
            {"jobs": len(js), "stages": sum(j["stages"] for j in js),
             "tasks": sum(j["tasks"] for j in js)})
    return m, census


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(app, workload, inp, out, seconds, trace, log, deadline):
    """Run the harness JVM; its exit code, or None when it passed the deadline.
    The JVM never outlives this call."""
    os.makedirs(os.path.join(out, "tmp"))
    cmd = build.harness(app, os.path.join(out, "tmp"),
                        "-XX:SharedArchiveFile=" + os.path.join(app, "classes.jsa"))
    cmd += ["--workload", workload, "--in", inp, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace), "--launch-ms", str(int(time.time() * 1000))]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def run(workload, seed, seconds, trace):
    """One run of one workload; prints its lines and returns the exit code."""
    start = time.time()
    app = build.build()  # exits non-zero when graft's sources are missing
    work = os.path.join(build.BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(out)
    log = os.path.join(work, "jvm.log")
    try:
        manifest = gen.generate(workload, seed, inp)
        t1 = time.time()
        code = run_jvm(app, workload, inp, out, seconds, trace, log, start + JVM_DEADLINE_S)
        t2 = time.time()
        if code != 0:
            sys.stderr.write(open(log).read()[-4000:])
            sys.stderr.write(f"\nbenchmark JVM {'timed out' if code is None else f'exited {code}'}\n")
            return 1
        with open(os.path.join(out, "result.json")) as f:
            r = json.load(f)
        r["manifest"] = manifest
        ops = r["ops"]
        if workload == "convert":
            checks.check_convert(ops, manifest)
        elif workload == "stream_ingest":
            checks.check_stream(ops, manifest, os.path.join(out, "sink.parquet"))
        else:
            checks.check_curate(ops, os.path.join(inp, "sf"), out, manifest["fingerprint"],
                                ROOT, os.path.join(build.BUILD, "oracle"))
        timing = {"generate_s": t1 - start, "jvm_s": t2 - t1, "check_s": time.time() - t2}
        failed = [o for o in ops if not o["ok"]]
        e2e = end_to_end(r, workload)
        detail = workload_detail(r, manifest, workload)
        spec = bench_json()
        queries = [m["name"].split(".")[1] for m in spec["per_layer"]
                   if m["name"].startswith("queries.") and m["name"].endswith(".jobs")]
        layers, census = per_layer(r, queries) if trace else ({}, {})
        artifact = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                    "manifest": {k: v for k, v in manifest.items() if k != "waves"},
                    "timing": timing, "end_to_end": e2e, "detail": detail,
                    "per_layer": layers, "census": census,
                    "attempted": len(ops), "failed": len(failed),
                    "failures": [{"name": o["name"], "phase": o["phase"], "error": o["error"]}
                                 for o in failed],
                    "ops": [{k: o.get(k) for k in ("name", "phase", "rep", "wall_s", "ok",
                                                   "construct_s", "action_s")} for o in ops]}
        adir = os.path.join(build.BUILD, "artifacts")
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, f"{workload}-s{seed}-t{trace}-{int(start)}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        for o in failed:
            print(f"FAILED {o['phase']} {o['name']}: {o['error']}")
        for k, (v, u) in list(e2e.items()) + list(detail.items()):
            print(f"metric {k} {v:.6g} {u}")
        units_of = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k, v in layers.items():
            print(f"layer {k} {v:.6g} {units_of[k]}")
        if trace:
            metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"correct": not failed, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}), flush=True)
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark, one run per workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all three in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    codes = [run(w, a.seed, a.seconds, a.trace) for w in workloads]
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
