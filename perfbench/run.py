#!/usr/bin/env python3
"""CDC deployment benchmark: one workload, one run.

    python3 perfbench/run.py --workload live_steady --seed 1 --seconds 8 --trace 0

Builds the program from source if needed (perfbench/build.py), starts a
local PostgreSQL for the live workload (perfbench/pg.py), runs the
workload in one JVM (perfbench/src), and prints:

  * a `run_record` line: seed, input properties, host and runtime, every
    metric the workload defines by name with unit and sample count,
    output checks, and (traced runs) per-layer self time and tracing
    overhead;
  * as the last line, {"correct", "attempted", "failed", "metrics"}:
    end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Exits 1 when an output check fails, 2 when the program's sources are
missing or do not compile.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import pg  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(build.OUT, "results")
WORKLOADS = ("live_steady", "replay_backlog", "replica_upsert", "vector_link")
HEAP = "3g"
JVM_BUDGET_S = 170

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("throughput_per_s", "1/s"),
    ("latency_ms_p50", "ms"), ("latency_ms_p90", "ms"), ("result_quality", "ratio")]

PER_LAYER = [  # name, unit
    ("replication.wire_ms_p50", "ms"), ("tailer.frames", "count"),
    ("tailer.segments", "count"), ("tailer.buffer_ms_p50", "ms"),
    ("tailer.buffer_ms_p99", "ms"), ("tailer.flush_ms_p50", "ms"),
    ("cdc.latest_offset_ms_p50", "ms"), ("cdc.rows_in", "count"),
    ("decode.frames_per_s", "1/s"), ("assembler.state_bytes_max", "bytes"),
    ("assembler.state_commit_ms_p50", "ms"), ("spark.shuffle_write_bytes_per_change", "bytes"),
    ("engine.batches", "count"), ("engine.events_per_batch_p50", "count"),
    ("engine.trigger_ms_p50", "ms"), ("engine.planning_ms_p50", "ms"),
    ("engine.add_batch_ms_p50", "ms"), ("engine.add_batch_ms_p99", "ms"),
    ("engine.handler_ms_p50", "ms"), ("spark.jobs_per_batch", "count"),
    ("spark.tasks_per_batch", "count"),
    ("materializer.apply_ms_p50", "ms"), ("materializer.apply_ms_p90", "ms"),
    ("materializer.changes_per_batch_p50", "count"),
    ("materializer.buckets_touched_frac", "ratio"),
    ("materializer.bytes_written_per_change", "bytes"),
    ("materializer.store_bytes_ratio", "ratio"), ("materializer.read_leaves_p50", "count"),
    ("graph.search_ms_p50", "ms"), ("graph.link_ms_p50", "ms"), ("graph.leaves", "count"),
    ("graph.bytes_written_per_vector", "bytes"),
    ("jvm.gc_ms", "ms"), ("gen.late_ms_p99", "ms"), ("gen.late_ms_max", "ms")]

# per-layer figures that only replay_backlog, a workload run by hand, makes
# nonzero: in the run record, not on the last line
PER_LAYER_EXTRA = [("cdc.backlog_frames_max", "count"), ("assembler.state_rows_max", "count")]

# the end-to-end figure each workload reports under the shared names
LATENCY_SOURCE = {"live_steady": "latency_ms", "replay_backlog": "delivery_ms",
                  "replica_upsert": "read_ms", "vector_link": "batch_ms"}


def host_record():
    mem = "unknown"
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem = line.split(":", 1)[1].strip()
    except OSError:
        pass
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                timeout=5).stdout.decode().strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": nproc(), "mem_total": mem, "heap": HEAP,
            "git_commit": commit or "unknown (checkout is not a git repository)",
            "build_stamp": build.built_stamp(),
            "python": sys.version.split()[0]}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, work, argv):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + argv
    return cmd


def e2e_metrics(workload, raw, setup_s):
    """The six shared end-to-end figures from a raw record."""
    v, s = raw["values"], raw["samples"]
    lat = s.get(LATENCY_SOURCE[workload], [])
    if workload == "replay_backlog":
        thr = stats.percentile(s.get("replay_changes_per_s", []), 50)
    else:
        thr = v.get("throughput_per_s")
    if workload == "vector_link":
        quality = stats.recall(v.get("recall_found", {}), v.get("recall_exact", {}), 3)
    else:
        att = max(1, raw["attempted"])
        quality = 1.0 - raw["failed"] / float(att)
    return {"setup_s": setup_s, "peak_rss_mb": v.get("peak_rss_mb"),
            "throughput_per_s": thr,
            "latency_ms_p50": stats.percentile(lat, 50),
            "latency_ms_p90": stats.percentile(lat, 90),
            "result_quality": quality}, {"latency_samples": len(lat)}


def named_metrics(workload, raw, e2e):
    """The figures under the names the workload's own definition uses."""
    s, v = raw["samples"], raw["values"]
    att = max(1, raw["attempted"])
    out = {"failed_frac": {"value": raw["failed"] / float(att), "unit": "ratio",
                           "samples": raw["attempted"]}}

    def timing(name, key, pcts):
        summ = stats.summary(s.get(key, []))
        for p in pcts:
            out["%s_p%d" % (name, p)] = {"value": summ.get("p%d" % p), "unit": "ms",
                                         "samples": summ["n"], "tail_pct_supported": summ.get("tail_pct")}
    if workload == "live_steady":
        timing("live_latency_ms", "latency_ms", (50, 99))
        out["live_changes_per_s"] = {"value": v.get("throughput_per_s"), "unit": "1/s",
                                     "samples": v.get("changes_delivered")}
    elif workload == "replay_backlog":
        out["replay_changes_per_s"] = {"value": e2e["throughput_per_s"], "unit": "1/s",
                                       "samples": len(s.get("replay_changes_per_s", []))}
        timing("replay_delivery_ms", "delivery_ms", (50, 90))
    elif workload == "replica_upsert":
        out["replica_changes_per_s"] = {"value": v.get("throughput_per_s"), "unit": "1/s",
                                        "samples": v.get("batches_timed")}
        timing("replica_read_ms", "read_ms", (50, 90))
    else:
        out["link_vectors_per_s"] = {"value": v.get("throughput_per_s"), "unit": "1/s",
                                     "samples": v.get("batches_timed")}
        out["link_recall_at_3"] = {"value": e2e["result_quality"], "unit": "ratio",
                                   "samples": len(v.get("recall_exact", {}))}
        timing("link_batch_ms", "batch_ms", (50, 90))
    return out


def layer_metrics(raw):
    """Per-layer figures; a layer a workload does not exercise reads 0 and
    is listed with the reason in `absent`."""
    s, v = raw["samples"], raw["values"]
    spans = raw.get("spans", [])
    ready = v.get("ready_us", 0)
    # handler time per timed micro-batch: the handler spans inside each batch
    per_batch = {}
    for sp in spans:
        if sp[0] == "streaming.Engine.handler" and sp[4] >= 0 and sp[1] >= ready:
            per_batch[sp[4]] = per_batch.get(sp[4], 0) + (sp[2] - sp[1]) / 1000.0
    att = max(1, raw["attempted"])

    def p(key, pct, src=None):
        xs = src if src is not None else s.get(key, [])
        return stats.percentile(xs, pct) if xs else None

    def mx(key):
        xs = s.get(key, [])
        return max(xs) if xs else None
    vals = {
        "replication.wire_ms_p50": p("replication.wire_ms", 50),
        "tailer.frames": v.get("tailer.frames"),
        "tailer.segments": v.get("tailer.segments"),
        "tailer.buffer_ms_p50": p("tailer.buffer_ms", 50),
        "tailer.buffer_ms_p99": p("tailer.buffer_ms", 99),
        "tailer.flush_ms_p50": p("tailer.flush_ms", 50),
        "cdc.latest_offset_ms_p50": p("cdc.latest_offset_ms", 50),
        "cdc.rows_in": v.get("cdc.rows_in"),
        "cdc.backlog_frames_max": mx("cdc.backlog_frames"),
        "decode.frames_per_s": v.get("decode.frames_per_s"),
        "assembler.state_rows_max": mx("assembler.state_rows"),
        "assembler.state_bytes_max": mx("assembler.state_bytes"),
        "assembler.state_commit_ms_p50": p("assembler.state_commit_ms", 50),
        "spark.shuffle_write_bytes_per_change":
            (v["spark.shuffle_write_bytes"] / float(att)) if "spark.shuffle_write_bytes" in v else None,
        "engine.batches": v.get("engine.batches"),
        "engine.events_per_batch_p50": p("engine.events_per_batch", 50),
        "engine.trigger_ms_p50": p("engine.trigger_ms", 50),
        "engine.planning_ms_p50": p("engine.planning_ms", 50),
        "engine.add_batch_ms_p50": p("engine.add_batch_ms", 50),
        "engine.add_batch_ms_p99": p("engine.add_batch_ms", 99),
        "engine.handler_ms_p50": p(None, 50, list(per_batch.values())),
        "spark.jobs_per_batch": p("spark.jobs_per_batch", 50),
        "spark.tasks_per_batch": p("spark.tasks_per_batch", 50),
        "materializer.apply_ms_p50": p("materializer.apply_ms", 50),
        "materializer.apply_ms_p90": p("materializer.apply_ms", 90),
        "materializer.changes_per_batch_p50": p("materializer.changes_per_batch", 50),
        "materializer.buckets_touched_frac": p("materializer.buckets_touched_frac", 50),
        "materializer.bytes_written_per_change": v.get("materializer.bytes_written_per_change"),
        "materializer.store_bytes_ratio": v.get("materializer.store_bytes_ratio"),
        "materializer.read_leaves_p50": p("materializer.read_leaves", 50),
        "graph.search_ms_p50": p("graph.search_ms", 50),
        "graph.link_ms_p50": p("graph.link_ms", 50),
        "graph.leaves": v.get("graph.leaves"),
        "graph.bytes_written_per_vector": v.get("graph.bytes_written_per_vector"),
        "jvm.gc_ms": v.get("jvm.gc_ms"),
        "gen.late_ms_p99": p("gen.late_ms", 99),
        "gen.late_ms_max": mx("gen.late_ms"),
    }
    absent = {k: "layer not on this workload's path" for k, x in vals.items() if x is None}
    if not s.get("gen.late_ms"):
        absent["gen.late_ms_p99"] = absent["gen.late_ms_max"] = \
            "closed loop: no send schedule, so no lateness"
    metrics = {name: {"value": float(vals[name]) if vals[name] is not None else 0.0, "unit": unit}
               for name, unit in PER_LAYER + PER_LAYER_EXTRA}
    samples = {"tailer.buffer_ms": len(s.get("tailer.buffer_ms", [])),
               "replication.wire_ms": len(s.get("replication.wire_ms", [])),
               "engine.trigger_ms": len(s.get("engine.trigger_ms", [])),
               "engine.add_batch_ms": len(s.get("engine.add_batch_ms", [])),
               "engine.handler_ms": len(per_batch),
               "materializer.apply_ms": len(s.get("materializer.apply_ms", [])),
               "graph.search_ms": len(s.get("graph.search_ms", [])),
               "gen.late_ms": len(s.get("gen.late_ms", []))}
    return metrics, absent, samples


def untraced_baseline(workload, seed, build_stamp):
    """The newest untraced record of this workload that ran the same
    build (same source stamp), preferring the same seed; or None."""
    for pattern in ("%s-trace0-seed%d.json" % (workload, seed), "%s-trace0-seed*.json" % workload):
        for path in sorted(glob.glob(os.path.join(RESULTS, pattern)), key=os.path.getmtime,
                           reverse=True):
            with open(path) as fh:
                base = json.load(fh)
            if build_stamp is not None and base["host"].get("build_stamp") == build_stamp:
                return base
    return None


def trace_report(workload, raw, e2e, seed, build_stamp):
    """Self time per layer, the largest, and traced minus untraced for
    each end-to-end metric, against an untraced run of the same build.
    Spans that start before timing starts (set-up, warm-up) are left out."""
    by_layer = stats.self_time_by_layer(raw.get("spans", []), raw["values"].get("ready_us"))
    roots = {"change", "streaming.Engine.trigger"}
    layers = {k: v for k, v in by_layer.items() if k not in roots} or by_layer
    largest = max(layers, key=lambda k: layers[k]["self_ms"]) if layers else None
    base = untraced_baseline(workload, seed, build_stamp)
    overhead = None
    segments = "no untraced run of this build with this seed recorded"
    if base:
        overhead = {"untraced_seed": base["seed"]}
        if base["seed"] == seed and workload == "live_steady":
            segments = {"traced": raw["values"].get("segments"),
                        "untraced": base.get("segments"),
                        "match": raw["values"].get("segments") == base.get("segments")}
        for name, unit in END_TO_END:
            a, b = e2e.get(name), base["end_to_end"].get(name)
            if a is not None and b is not None:
                overhead[name] = {"traced": a, "untraced": b, "traced_minus_untraced": a - b,
                                  "unit": unit}
    return {"self_time_by_layer": by_layer, "largest_self_time_layer": largest,
            "segment_count_vs_untraced": segments,
            "tracing_overhead": overhead or
            "no untraced run of this workload and build recorded yet"}


def phases(values, t_setup, t_exit):
    """Wall seconds of each phase of the run: start of the run to Spark
    ready, Spark ready to timing start (inputs, preload, warm-up), the
    timed phase, and its end to the JVM's exit (checks, shutdown)."""
    marks = [t_setup] + [values[k] / 1e6 if k in values else None
                         for k in ("spark_ready_us", "ready_us", "measured_us")] + [t_exit]
    names = ("start_to_spark", "spark_to_ready", "timed", "checks_and_exit")
    out = {n: (b - a if a is not None and b is not None else None)
           for n, a, b in zip(names, marks, marks[1:])}
    # set-up steps a workload marks, as seconds after Spark was ready
    if marks[1] is not None:
        for k in sorted(values):
            if k.startswith("setup.") and k.endswith("_us"):
                out["spark_to_" + k[len("setup."):-len("_us")]] = values[k] / 1e6 - marks[1]
    return out


def digest(workload, seed, seconds):
    """Generate a workload's inputs without running it; returns the JVM's
    {"digest": sha256 of the generated bytes, "inputs": properties}."""
    classpath = build.build()
    work = os.path.join(build.OUT, "digest-%d" % os.getpid())
    os.makedirs(work, exist_ok=True)
    try:
        out = os.path.join(work, "digest.json")
        subprocess.run(java_cmd(classpath, work, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--out", out, "--work", work, "--gen-only", "1"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=170)
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        sys.stderr.write("unknown workload %s (one of %s)\n" % (args.workload, ", ".join(WORKLOADS)))
        return 2
    try:
        classpath = build.build()
    except (FileNotFoundError, RuntimeError, OSError) as e:
        sys.stderr.write("perfbench: cannot build the program: %s\n" % e)
        return 2

    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cluster = None
    proc = None

    def on_term(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    try:
        t_setup = time.time()
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--out", os.path.join(work, "raw.json"), "--work", work,
                "--cpus", str(nproc())]
        if args.workload == "live_steady":
            cluster = pg.Cluster(work)
            cluster.start()
            argv += ["--pg-bin", cluster.bin, "--pg-sock", cluster.sock,
                     "--pg-port", str(cluster.port)]
        with open(os.path.join(work, "jvm.log"), "wb") as log:
            proc = subprocess.Popen(java_cmd(classpath, work, argv), stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                proc.wait(timeout=JVM_BUDGET_S - (time.time() - t_setup))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write("perfbench: the run exceeded its time budget\n")
        t_exit = time.time()
        raw_path = os.path.join(work, "raw.json")
        if not os.path.exists(raw_path):
            sys.stderr.write("perfbench: the JVM wrote no record; log tail:\n")
            with open(os.path.join(work, "jvm.log"), "rb") as fh:
                sys.stderr.write(fh.read()[-6000:].decode(errors="replace"))
            return 1
        with open(raw_path) as fh:
            raw = json.load(fh)
        setup_s = raw["values"]["ready_us"] / 1e6 - t_setup if "ready_us" in raw["values"] else None
        e2e, e2e_n = e2e_metrics(args.workload, raw, setup_s)
        checks = raw["checks"]
        correct = all(c["ok"] for c in checks) and raw["failed"] == 0 and proc.returncode == 0 \
            and all(e2e[n] is not None for n, _ in END_TO_END)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": raw["values"].get("inputs"),
            "host": host_record(),
            "runtime": dict(raw.get("runtime", {}),
                            postgres=raw["values"].get("postgres_version") or
                            (cluster.version() if cluster else "not used by this workload"),
                            postgres_private_dir=bool(cluster and cluster.private)),
            "end_to_end": e2e, "end_to_end_samples": e2e_n,
            "named": named_metrics(args.workload, raw, e2e),
            "phases_s": phases(raw["values"], t_setup, t_exit),
            "checks": checks, "segments": raw["values"].get("segments"),
            "gen_late_ms": stats.summary(raw["samples"].get("gen.late_ms", [])),
        }
        if args.trace:
            metrics, absent, samples = layer_metrics(raw)
            record["per_layer"] = metrics
            record["per_layer_absent"] = absent
            record["per_layer_samples"] = samples
            record.update(trace_report(args.workload, raw, e2e, args.seed,
                                       record["host"]["build_stamp"]))
            metrics = {n: metrics[n] for n, _ in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, "%s-trace%d-seed%d.json"
                               % (args.workload, args.trace, args.seed)), "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps({"run_record": record}))
        print(json.dumps({"correct": bool(correct), "attempted": int(raw["attempted"]),
                          "failed": int(raw["failed"]), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if cluster is not None:
            cluster.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
