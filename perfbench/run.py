"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload gmall_stream --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (see
build.py), runs one JVM at local[4] with a fixed heap, reduces what it
measured to the metrics BENCHMARK.json names, and prints one JSON object
as the last line of standard output. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones. A workload whose
correctness gate fails still prints, with "correct": false; a run that
cannot build or crashes exits non-zero without a result.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("gmall_stream", "ann_serve")
HEAP = "2g"
CORES = 4
RUN_TIMEOUT_S = 170
RECALL_FLOOR = 0.9


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_state():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=build.ROOT, text=True, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_jvm(classpath, args, work, out, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a pre-touched fixed heap: peak RSS then moves with off-heap memory
    # (state stores, shuffle and network buffers), not with when G1 chose
    # to grow, which left it 1.0-1.9 GB apart between runs of one
    # workload. Heap use shows in the traced run's jvm.old_gen_peak_mb.
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-Xss4m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.add_opens()
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def end_to_end(w, raw):
    """The workload's unit of work reduced to the shared end-to-end names,
    the same figures under the workload's own names, and how many units
    never completed."""
    if w == "gmall_stream":
        need = metrics.need_rows(raw["wide_before_live"], raw["live_orders"], len(raw["due_ms"]))
        thr = raw["catchup_rows"] / raw["catchup_s"]
        names = ("catchup_rows_per_s", "fresh_p50_ms", "fresh_tail_ms")
    else:
        q = raw["queries_per_batch"]
        need = [q * (i + 1) for i in range(len(raw["due_ms"]))]
        thr = raw["burst_queries"] / (raw["burst_ms"] / 1e3)
        names = ("serve_burst_queries_per_s", "serve_p50_ms", "serve_tail_ms")
    lat, unfinished = metrics.latencies(raw["ledger"], need, raw["due_ms"])
    p50, (tail, pct) = metrics.median(lat), metrics.tail(lat)
    shared = {"setup_s": raw["setup_s"], "peak_rss_mb": raw["peak_rss_mb"],
              "throughput_per_s": thr, "p50_ms": p50, "tail_ms": tail}
    own = dict(zip(names, (thr, p50, tail)))
    own.update({"tail_percentile": pct, "samples": len(lat)})
    if w == "gmall_stream":
        own.update({"catchup_s": raw["catchup_s"], "catchup_bulk_frac": raw["catchup_bulk_frac"],
                    "agg_commits_in_live": metrics.commit_events(raw["ledger"], need)})
    else:
        own["recall_at_5"] = recall(raw)
    return shared, own, unfinished


def per_layer(w, raw, layers):
    out = dict(layers)
    out["gen.late_p90_ms"] = metrics.tail(raw["traced_generator_late_ms"])[0]
    if w == "ann_serve":
        out["hnsw.recall_at_5"] = recall(raw)
    return out


def recall(raw):
    return metrics.recall_at_k({int(k): v for k, v in raw["answers"].items()},
                               {int(k): v for k, v in raw["exact"].items()}, 5)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = loadavg()
    try:
        classpath, build_key = build.build()
        bench = spec()
    except (build.BuildError, OSError, ValueError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    name = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    out_dir = os.path.join(build.BUILD_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, name + ".json")
    log = os.path.join(out_dir, name + ".log")
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = time.time()
    try:
        code = run_jvm(classpath, args, work, out, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        print("perfbench: run failed (exit %s), see %s" % (code, log), file=sys.stderr)
        return 3
    with open(out) as f:
        doc = json.load(f)
    raw, gate = doc["raw"], doc["gate"]

    shared, own, unfinished = end_to_end(args.workload, raw)
    if args.workload == "ann_serve":
        gate["checks"]["recall_at_5_at_least_%g" % RECALL_FLOOR] = own["recall_at_5"] >= RECALL_FLOOR
    attempted = int(gate["attempted"])
    all_ok = all(gate["checks"].values())
    failed = attempted if not all_ok else min(attempted, int(gate["failed"]) + unfinished)
    own["error_rate"] = metrics.error_rate(attempted, failed)

    sha, dirty = git_state()
    meta = dict(doc["meta"])
    meta.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "git_sha": sha, "git_dirty": dirty,
                 "source_key": build_key, "nproc": os.cpu_count(), "cores": CORES,
                 "heap": HEAP, "loadavg_start": load_start, "loadavg_end": loadavg(),
                 "wall_s": time.time() - started})
    if args.trace:
        values = per_layer(args.workload, raw, doc["layers"])
        wanted = bench["per_layer"]
    else:
        values = shared
        wanted = bench["end_to_end"]
    result = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
              for m in wanted}
    summary = {"meta": meta, "checks": gate["checks"], "workload_metrics": own,
               "metrics": result}
    with open(os.path.join(out_dir, name + ".summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    print("meta " + json.dumps(meta, sort_keys=True))
    print("checks " + json.dumps(gate["checks"], sort_keys=True))
    for k, v in own.items():
        print("%s %s" % (k, v))
    print(json.dumps({"correct": all_ok and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
