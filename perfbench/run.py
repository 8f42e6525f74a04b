#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
generates the input tables once per checkout (perfbench/gen.py), launches
the harness JVM for the workload, checks every output, writes a
self-describing result file under .bench_build/results/, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import csv
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_SF = 0.01  # lineitem 60k rows
CORPUS_SF = 0.3
DATA_SEED = 42  # the tables are fixed; --seed orders requests and makes the stream
DATA_KEY = f"sf{DATA_SF}-corpus{CORPUS_SF}-g{DATA_SEED}"
XMX = "2g"
JVM_TIMEOUT_S = 170

WORKLOADS = {
    "etl_market": {
        "mode": "batch", "sink": "parquet", "warm_passes": 1,
        "queries": ["a16_bar_fill", "a5_rolling_stats", "j1c_asof_merge_exec", "w9_ewma_macd"]},
    "etl_corpus": {
        "mode": "batch", "sink": "noop", "warm_passes": 1,
        "queries": ["t10_neardup_clusters", "t14f_bpe_encode_artifact", "t25_char_spans",
                    "x_v12_ivfpq_index"]},
    "curated_adhoc": {
        "mode": "adhoc", "warm_passes": 1,
        "queries": [
            "a8_per_model_stats", "a9_latest_per_key", "a10_watermarks", "c1_decimal_curated",
            "a15_twap", "a17_cube_volumes", "o4_top5_per_group", "s1_sbe_frame_source",
            "avro6_ocf_scan", "s3_rest_backfill", "j3b_asof_merge_backward", "k8_scd2_history"]},
    "hot_path_live": {
        "mode": "hotpath", "launches": 2, "backlog": 20000, "rate": 5000, "symbols": 64,
        "zipf": 1.1, "warm": 9},
}

E2E = [("setup_s", "s"), ("batch_wall_s", "s"), ("query_p50_ms", "ms"),
       ("query_p95_ms", "ms"), ("replay_events_per_s", "1/s"), ("emit_p50_ms", "ms"),
       ("emit_p99_ms", "ms"), ("peak_rss_mb", "MB")]

STREAM_PARTS = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                "commitOffsets"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def java_opts(tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap size: G1 resizing the heap otherwise moves peak RSS by
    # +-20 % from run to run. The heap is not pre-touched, so RSS follows
    # the pages the run uses. -UsePerfData: no hsperfdata files outside the
    # checkout
    return out + [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]


def launch(classes, args, tag):
    """Runs one harness JVM; returns (launch epoch ms, parsed result)."""
    tmp = os.path.join(BUILD_DIR, "tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    logf = os.path.join(BUILD_DIR, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    cmd = (["java"] + java_opts(tmp) + ["-cp", build.classpath(classes), "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()] + [f"out={out}", f"tmp={tmp}"])
    t0 = time.time() * 1000.0
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"{tag}: harness timed out (log {logf})")
    if rc != 0 or not os.path.exists(out):
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        raise SystemExit(f"{tag}: harness exited {rc}\n{tail}")
    with open(out) as f:
        res = json.load(f)
    if "events_file" in res:
        with open(res["events_file"]) as f:
            rows = list(csv.reader(f))[1:]
        res["events"] = [tuple(int(x) for x in r) for r in rows]
    shutil.rmtree(tmp, ignore_errors=True)
    res["launch_s"] = (time.time() * 1000.0 - t0) / 1e3
    return t0, res


def ensure_data():
    d = os.path.join(BUILD_DIR, "data", DATA_KEY)
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, DATA_SF, DATA_SEED, CORPUS_SF)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def git_head():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        if head.returncode != 0:
            return {"head": None, "dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10).stdout.strip() != ""
        return {"head": head.stdout.strip(), "dirty": dirty}
    except (OSError, subprocess.TimeoutExpired):
        return {"head": None, "dirty": None}


def med(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ end to end

def e2e_queries(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    qs = [q for p in passes for q in p["queries"]]
    lat = [q["wall_ms"] for q in qs]
    by = {}
    for q in qs:
        by.setdefault(q["name"], []).append(q["wall_ms"])
    meds = [med(v) for v in by.values()]
    return {
        # one pass over the list, as the sum of each item's median time: a
        # slow outlier request moves it less than a median of pass walls
        # taken over a handful of passes
        "batch_wall_s": sum(meds) / 1e3,
        "query": lat, "emit": lat, "item_medians": meds,
        "replay_events_per_s": res["timed_input_rows"] / (sum(lat) / 1e3),
    }


def batch_cycles_ms(res):
    """Live-phase micro-batch cycle times: the gaps between consecutive
    sink returns that carried rows. Under a continuous feed each trigger
    starts as the last one commits, so a gap is one execution of the
    streaming query, timed in ns (progress events only carry whole ms)."""
    t0 = res["live_start_ns"] + res["warm_s"] * 1e9
    live = [b["end_ns"] for b in res["sink_batches"] if b["rows"] > 0 and b["end_ns"] >= t0]
    return [(b - a) / 1e6 for a, b in zip(live, live[1:])]


def stream_check(res):
    """Open-loop accounting of one hot-path launch and its failed events."""
    acct = stats.open_loop(res["events"], measure_from_ns=res["warm_s"] * 1e9)
    failed = stats.stream_failures(acct, res["value_mismatches"], res["late_dropped"])
    if res["errors"] or res["reference_rows"] != acct["events"]:
        failed = acct["events"]  # the stream broke: no event is known good
    return acct, failed


def e2e_hotpath(launches):
    """`launches`: (result, accounting) of every launch in the run. Each
    launch replays the backlog and then tails its share of the live window;
    the replay metrics are the median over the launches and the live
    percentiles are taken over the samples of all of them."""
    replay_s = med([r["replay_s"] for r, _ in launches])
    return {
        "batch_wall_s": replay_s,
        "query": [c for r, _ in launches for c in batch_cycles_ms(r)] or [0.0],
        "emit": [x for _, acct in launches for x in acct["emit_ms"]] or [0.0],
        "replay_events_per_s": launches[0][0]["backlog"] / replay_s,
    }


# ------------------------------------------------------------- per layer

def layer_batch(res, ncores):
    rows = res["layers"]
    passes = {r["pass"] for r in rows} or {0}
    n = len(passes)
    s = lambda k: sum(r[k] for r in rows) / n  # per-pass sums
    x = lambda k: sum(r["exec"][k] for r in rows) / n
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    run_s = s("eager_job_s") + s("write_job_s")
    m = {
        "queries.construct_s": s("construct_s"), "queries.eager_jobs": s("eager_jobs"),
        "catalyst.analysis_s": s("analysis_s"), "catalyst.optimization_s": s("optimization_s"),
        "catalyst.planning_s": s("planning_s"),
        "exec.run_s": run_s, "exec.jobs": x("jobs"), "exec.stages": x("stages"),
        "exec.tasks": x("tasks"), "exec.task_cpu_s": x("task_cpu_s"),
        "exec.task_gc_s": x("task_gc_s"),
        "exec.slot_busy_frac": x("task_run_s") / (ncores * run_s) if run_s else 0.0,
        "exec.shuffle_write_mb": x("shuffle_write_mb"), "exec.shuffle_read_mb": x("shuffle_read_mb"),
        "exec.spill_mb": x("spill_mb"), "exec.task_failures": x("task_failures"),
        "sources.input_mb": x("input_mb"), "sources.input_rows": x("input_rows"),
        "sink.output_rows": x("output_rows"), "sink.output_mb": x("output_mb"),
        "trace.overhead_frac": (med(traced) / med(plain) - 1.0) if traced and plain else 0.0,
        "trace.reconcile_err_max": max((r["reconcile_err"] for r in rows), default=0.0),
    }
    # self time: what a layer spends outside the layers it calls into
    m["self.queries_s"] = m["queries.construct_s"] - s("eager_job_s") - s("df_analysis_s")
    m["self.catalyst_s"] = m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
    m["self.exec_s"] = run_s
    m["self.sink_s"] = max(0.0, s("wall_s") - s("construct_s") - m["self.catalyst_s"] - s("write_job_s"))
    return m


def layer_stream(res, acct):
    out = {}
    live_start = res["live_start_ms"]
    for phase in ("replay", "live"):
        ps = [p for p in res["progress"] if p["rows"] > 0
              and ((p["start_ms"] >= live_start - 1) == (phase == "live"))]
        d = lambda k: med([p["duration_ms"].get(k, 0) for p in ps])
        out[f"stream.{phase}.batches"] = len(ps)
        out[f"stream.{phase}.rows_per_batch"] = med([p["rows"] for p in ps])
        for k, name in (("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                        ("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                        ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
            out[f"stream.{phase}.{name}"] = d(k)
        trig = [p["duration_ms"].get("triggerExecution", 0) for p in ps]
        out[f"stream.{phase}.trigger_ms_p99"] = stats.percentile(trig, 0.99) if trig else 0.0
        out[f"state.{phase}.rows"] = max((p["state_rows"] for p in ps), default=0)
        out[f"state.{phase}.mem_mb"] = max((p["state_mem_bytes"] for p in ps), default=0) / 1e6
        out[f"state.{phase}.commit_ms"] = med([p["state_commit_ms"] for p in ps])
        out[f"state.{phase}.update_ms"] = med([p["state_update_ms"] for p in ps])
    errs = []
    for p in res["progress"]:
        t = p["duration_ms"].get("triggerExecution", 0)
        if p["rows"] > 0 and t > 0:
            parts = sum(p["duration_ms"].get(k, 0) for k in STREAM_PARTS)
            errs.append(abs(parts - t) / t)
    out["trace.reconcile_err_max"] = max(errs, default=0.0)
    out["sink.foreach_batch_ms"] = med([b["sink_ms"] for b in res["sink_batches"] if b["rows"] > 0])
    out["sink.output_rows"] = sum(b["rows"] for b in res["sink_batches"])
    out["sources.capture_lag_frames"] = res["capture_lag_frames"]
    out["sources.backlog_events_end"] = res["backlog_events_end"]
    out["gen.late_ms_p99"] = stats.percentile(acct["late_ms"], 0.99) if acct["late_ms"] else 0.0
    return out


def stream_spans(res):
    """run -> phase -> batch -> durationMs parts + sink."""
    spans, nid = [], [0]

    def add(parent, kind, name, s, e, attrs=None):
        nid[0] += 1
        spans.append({"id": nid[0], "parent": parent, "kind": kind, "name": name,
                      "start_ms": s, "end_ms": e, "attrs": attrs or {}})
        return nid[0]

    prog = res["progress"]
    end = max((p["start_ms"] + p["duration_ms"].get("triggerExecution", 0) for p in prog),
              default=res["query_start_ms"])
    run = add(0, "run", "hot_path_live", res["query_start_ms"], end)
    sinks = {b["batch"]: b for b in res["sink_batches"]}
    for phase, lo, hi in (("replay", res["query_start_ms"], res["live_start_ms"]),
                          ("live", res["live_start_ms"], end)):
        ph = add(run, "phase", phase, lo, hi)
        for p in prog:
            if not lo - 1 <= p["start_ms"] < hi or p["rows"] == 0:
                continue
            t = p["duration_ms"].get("triggerExecution", 0)
            b = add(ph, "batch", f"batch {p['batch']}", p["start_ms"], p["start_ms"] + t,
                    {"rows": p["rows"]})
            at = p["start_ms"]
            for k in STREAM_PARTS:
                dur = p["duration_ms"].get(k, 0)
                add(b, "part", k, at, at + dur)
                at += dur
            sb = sinks.get(p["batch"])
            if sb:
                add(b, "sink", "foreachBatch", sb["end_ms"] - sb["sink_ms"], sb["end_ms"],
                    {"rows": sb["rows"]})
    return spans


KERNELS = ("sbe_decode_ns", "shingle_hash_ns_per_kb", "char_window_ns_per_kb",
           "bpe_tokens_ns_per_kb", "nearest_cid_ns")

# every per-layer metric a traced run prints; a layer the workload does not
# use reads 0
PER_LAYER = [
    "queries.construct_s", "queries.eager_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "exec.run_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_gc_s", "exec.slot_busy_frac",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.task_failures",
    "sources.input_mb", "sources.input_rows", "sources.capture_lag_frames",
    "sources.backlog_events_end", "sink.output_rows", "sink.output_mb",
    "sink.foreach_batch_ms", "gen.late_ms_p99", "trace.overhead_frac",
    "trace.reconcile_err_max", "self.queries_s", "self.catalyst_s", "self.exec_s",
    "self.sink_s", "baseline.local1_wall_s", "baseline.local1_replay_events_per_s"] + [
    f"{g}.{ph}.{m}" for ph in ("replay", "live") for g, ms in (
        ("stream", ("batches", "rows_per_batch", "latest_offset_ms", "get_batch_ms",
                    "query_planning_ms", "add_batch_ms", "wal_commit_ms",
                    "commit_offsets_ms", "trigger_ms_p99")),
        ("state", ("rows", "mem_mb", "commit_ms", "update_ms"))) for m in ms] + [
    f"functions.{k}" for k in KERNELS]


def layer_unit(name):
    for suffix, unit in (("per_s", "1/s"), ("_per_kb", "ns/KB"), ("_ns", "ns"), ("_s", "s"),
                         ("_ms_p99", "ms"), ("_ms", "ms"), ("_mb", "MB"), ("_frac", "frac"),
                         ("_err_max", "frac")):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true",
                    help="record this run's warm-up digests as the expected ones")
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    ncores = cores()
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = build.build(ROOT, BUILD_DIR)
    data = ensure_data()

    args = {"mode": spec["mode"], "data": data, "cores": ncores, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace}
    for k in ("sink", "warm_passes", "backlog", "rate", "symbols", "zipf", "warm"):
        if k in spec:
            args[k] = spec[k]
    if "queries" in spec:
        args["queries"] = ",".join(spec["queries"])
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"

    if spec["mode"] == "hotpath":
        # every launch sets up, replays the backlog and tails the live feed
        # for its share of the window, so set-up, replay and the live
        # percentiles all rest on more than one JVM. The launches share the
        # seed, so the first one's reference features serve them all
        ref = os.path.join(BUILD_DIR, "tmp", f"{tag}-{os.getpid()}-reference.bin")
        try:
            runs = [launch(classes, dict(args, seconds=a.seconds / spec["launches"],
                                         **{"reference_in" if i else "reference_out": ref}),
                           f"{tag}-{i}") for i in range(spec["launches"])]
        finally:
            if os.path.exists(ref):
                os.remove(ref)
    else:
        runs = [launch(classes, args, tag)]
    _, res = runs[-1]
    setups = [(r["ready_ms"] - t) / 1e3 for t, r in runs]

    errors = []
    expected_path = os.path.join(HERE, "digests.json")
    expected = json.load(open(expected_path)) if os.path.exists(expected_path) else {}
    acct = None
    e = {"peak_rss_kb": med([r["window_hwm_kb"] for _, r in runs])}
    if spec["mode"] == "hotpath":
        attempted = failed = 0
        checked = []
        for _, r in runs:  # every launch's events are checked
            acct, f_r = stream_check(r)
            attempted += acct["events"]
            failed += f_r
            errors += r["errors"]
            checked.append((r, acct))
        e.update(e2e_hotpath(checked))
    else:
        errors += res["errors"]
        e.update(e2e_queries(res))
        if a.write_digests:
            expected.setdefault(DATA_KEY, {}).update(res["digests"])
            with open(expected_path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
        want = {n: expected.get(DATA_KEY, {}).get(n) for n in spec["queries"]}
        bad = stats.digest_failures(want, res["digests"])
        errors += [{"op": f"digest:{n}", "error": "digest differs from the committed one"}
                   for n in bad]
        attempted = len(spec["queries"]) + sum(len(p["queries"]) for p in res["passes"])
        # a query that fails its digest fails every time it runs
        failed = len(errors) + sum(1 for p in res["passes"] for q in p["queries"]
                                   if q["name"] in bad)
        failed = min(attempted, failed)

    q = stats.summary(e["query"], (0.5, 0.95))
    em = stats.summary(e["emit"], (0.5, 0.99))
    if spec["mode"] == "batch":
        # a batch list runs a few queries a few times each, so the tail of
        # the pooled walls is one execution; the tail reported is taken over
        # the per-query medians instead, i.e. the slowest query's median
        q = stats.tail_over_medians(q, e["item_medians"], 0.95)
        em = stats.tail_over_medians(em, e["item_medians"], 0.99)
    e2e = {
        "setup_s": med(setups), "batch_wall_s": e["batch_wall_s"],
        "query_p50_ms": q["p50"], "query_p95_ms": q["p95"],
        "replay_events_per_s": e["replay_events_per_s"],
        "emit_p50_ms": em["p50"], "emit_p99_ms": em["p99"],
        "peak_rss_mb": e["peak_rss_kb"] / 1024.0,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
        "git": git_head(), "source_sha256": open(os.path.join(BUILD_DIR, "classes.sha256")).read(),
        "nproc": os.cpu_count(), "usable_cores": cores(),
        "master": res["master"], "xmx": XMX, "xmx_mb_seen": res["xmx_mb"],
        "spark_version": res["spark_version"], "shuffle_partitions": res["shuffle_partitions"],
        "data": {"sf": DATA_SF, "corpus_sf": CORPUS_SF, "generator_seed": DATA_SEED},
        "params": {k: v for k, v in spec.items() if k != "queries"},
        "queries": spec.get("queries"), "setups_s": setups,
        "replays_s": [r["replay_s"] for _, r in runs if "replay_s" in r],
        "samples": {"query": q, "emit": em, "passes": len(res.get("passes", [])) or 1},
        "attempted": attempted, "end_to_end": e2e,
        "raw": {k: v for k, v in res.items() if k not in ("events", "spans", "layers")},
    }
    metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}

    if a.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        spans = []
        if spec["mode"] == "hotpath":
            layers.update(layer_stream(res, acct))
            spans = stream_spans(res)
            _, b = launch(classes, dict(args, cores=1, replay_only=1, trace=0), f"{tag}-local1")
            layers["baseline.local1_replay_events_per_s"] = b["backlog"] / b["replay_s"]
        else:
            layers.update(layer_batch(res, ncores))
            spans = res["spans"]
            if spec["mode"] == "batch":
                _, b = launch(classes, dict(args, cores=1, seconds=0, warm_passes=0, trace=0),
                              f"{tag}-local1")
                layers["baseline.local1_wall_s"] = b["passes"][0]["wall_s"]
                # results must not depend on the core count
                bad1 = stats.digest_failures(want, b["digests"])
                errors += [{"op": f"local1 digest:{n}", "error": "differs at local[1]"}
                           for n in bad1]
                failed = min(attempted, failed + len(bad1))
        layers.update({f"functions.{k}": res.get("kernels", {}).get(k, 0.0) for k in KERNELS})
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in layers.items()}
        record["per_layer"] = layers
        record["per_query_layers"] = res.get("layers", [])
        spans_path = os.path.join(BUILD_DIR, "results", f"{tag}.spans.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        record["spans_file"] = os.path.relpath(spans_path, ROOT)

    record.update(errors=errors[:50], failed=failed,
                  error_rate=stats.error_rate(attempted, failed))
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    with open(os.path.join(BUILD_DIR, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for err in errors[:10]:
        log("error:", err)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
