#!/usr/bin/env python3
"""Benchmark of the graft CDC engine, driven from outside the engine.

    python3 perfbench/run.py --workload <ingest_bulk|tail_mixed> --seed <n>
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the JVM harness (perfbench/scala) with the Scala
compiler that ships in Spark's jars, into .bench_build/. Each run then
starts one JVM at local[nproc], runs the workload, checks every output
against the sequential oracle, and prints one JSON line: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. The full report, with the
host fingerprint and the sample counts, goes to .bench_build/results/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

# Workload constants. The tail's offered rate is fixed here, below the
# sustainable rate measured on a 4-core host; it is never computed at run
# time. The tail lands files_per_second * seconds files, so a 25 s window
# gives 105 freshness samples; its reader makes about 150 lookups. Its
# trigger cap is twice the files that arrive per trigger, so an epoch
# slowed by compaction is caught up by the next one. Its reader makes at
# least min_lookups lookups, the fewest on which a p90 has ten samples
# beyond it: on a host too slow to make them in the window it reads on
# while ingest catches up. The bulk drain's point reads on its fresh table
# speed up over their first calls, so it makes warm_lookups unmeasured ones
# before the measured ones.
# A mirror is a single job of a second or two: each run mirrors its table
# `mirrors` times and reports the median.
WORKLOADS = {
    "ingest_bulk": {
        "events": 180000, "epochs": 3, "buckets": 32,
        "lookups_per_cycle": 100, "warm_lookups": 50, "mirrors": 3,
        "setup_reps": 3,
    },
    "tail_mixed": {
        "base_events": 50000, "base_epochs": 1, "files_per_second": 4.2,
        "file_events": 500, "buckets": 8, "trigger_ms": 2000,
        "files_per_trigger": 16, "setup_reps": 3, "min_lookups": 100,
        "mirrors": 3,
    },
}

END_TO_END = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "rss_peak_mb": "MB",
    "ingest_eps": "events/s",
    "ingest_applied_eps": "events/s",
    "mirror_s": "s",
    "write_bytes_per_event": "B/event",
    "freshness_s_p50": "s",
    "freshness_s_p90": "s",
    "lookup_ms_p50": "ms",
    "lookup_ms_p90": "ms",
}

PER_LAYER = {
    "trigger_ms_p50": "ms", "trigger_overhead_ms_p50": "ms",
    "latest_offset_ms_p50": "ms", "query_planning_ms_p50": "ms",
    "wal_commit_ms_p50": "ms", "commit_offsets_ms_p50": "ms",
    "files_per_trigger_mean": "count", "epochs": "count",
    "merge_ms_p50": "ms", "merge_ms_p90": "ms",
    "merge_map_stage_ms_p50": "ms", "merge_write_stage_ms_p50": "ms",
    "merge_driver_ms_p50": "ms", "merge_busy_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "tasks_per_epoch": "count", "applied_per_input": "ratio", "files_written_per_epoch": "count",
    "buckets_touched_p50": "count",
    "compact_s": "s", "compact_files_in": "count",
    "snapshot_ms_p50": "ms", "lookup_job_ms_p50": "ms",
    "deltas_per_bucket_p50": "count", "deltas_per_bucket_max": "count",
    "commit_ms_fresh": "ms", "commit_ms_aged": "ms", "list_files_ms": "ms",
    "full_read_s": "s", "table_files": "count", "table_versions": "count",
    "bytes_per_live_row": "B",
    "mirror_latest_offset_ms_p50": "ms", "mirror_get_batch_ms_p50": "ms",
    "mirror_add_batch_ms_p50": "ms", "mirror_triggers": "count",
    "feed_gen_s": "s", "oracle_s": "s", "heap_peak_mb": "MB", "gc_s": "s",
}

# Same list as build.sbt: Spark 4 on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded
# The heap is fixed and pre-touched, so the engine's peak RSS does not
# wander with the collector's heap sizing from run to run; heap use itself
# is the traced run's heap_peak_mb.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for base, exts in (("src/main/scala", (".scala",)),
                       ("src/main/resources", None),
                       ("perfbench/scala", (".scala",))):
        for d, _, names in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, n) for n in names
                    if exts is None or n.endswith(exts)]
    return sorted(out)


def source_stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars) or not any(
            n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler under '{jars}'; set SPARK_HOME")
    return jars


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    with tempfile.NamedTemporaryFile("w", suffix=".args", dir=out,
                                     delete=False) as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + fh.name]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    os.unlink(fh.name)
    if r.returncode != 0:
        print(r.stdout, file=sys.stderr)
        fail(f"compilation failed ({' '.join(cmd[:6])} ...)")


def build(root, jars):
    """Compile engine and harness unless the build matches the sources."""
    files = sources(root)
    stamp = source_stamp(root, files)
    dest = os.path.join(root, ".bench_build", "perfbench")
    stamp_file = os.path.join(dest, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest, stamp
    t0 = time.time()
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=os.path.dirname(dest))
    main_src = [f for f in files if f.endswith(".scala") and
                "/src/main/scala/" in f]
    bench_src = [f for f in files if "/perfbench/scala/" in f]
    try:
        scalac(jars, f"{jars}/*", os.path.join(tmp, "main"), main_src)
        scalac(jars, f"{tmp}/main:{jars}/*", os.path.join(tmp, "bench"),
               bench_src)
        with open(os.path.join(tmp, "stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return dest, stamp


# ------------------------------------------------------------ scratch dirs

def proc_start(pid):
    """Kernel start time of a process, or None when it is gone. Together
    with the pid this names one process: a recycled pid has another start
    time."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def sweep_stale(runs):
    """Remove run directories whose owning process is gone. A run directory
    is published with its owner file by one rename, so a published one
    without an owner is never a live run's."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        d = os.path.join(runs, name)
        try:
            with open(os.path.join(d, "owner.json")) as fh:
                owner = json.load(fh)
            alive = proc_start(owner["pid"]) == owner["start"]
        except (OSError, ValueError, KeyError):
            # a directory still being published may not have its owner yet
            alive = name.startswith(".new-")
        if not alive:
            shutil.rmtree(d, ignore_errors=True)


def make_workdir(runs, workload):
    os.makedirs(runs, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".new-", dir=runs)
    with open(os.path.join(tmp, "owner.json"), "w") as fh:
        json.dump({"pid": os.getpid(), "start": proc_start(os.getpid())}, fh)
    final = os.path.join(runs, f"{workload}-{os.getpid()}-{os.path.basename(tmp)[5:]}")
    os.rename(tmp, final)
    return final


# ------------------------------------------------------------------ host

def host_fingerprint(root, cores, info, stamp):
    mem = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1])
    shm = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        shm = st.f_blocks * st.f_frsize
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        commit = r.stdout.strip() or None
    return {
        "nproc": cores, "mem_total_kb": mem, "dev_shm_bytes": shm,
        "java": info.get("java_version"), "spark": info.get("spark_version"),
        "git_commit": commit, "source_sha256": stamp,
        "session": {k: v for k, v in info.items() if k.startswith("spark.")},
    }


def same_host(a, b):
    keys = ("nproc", "mem_total_kb", "dev_shm_bytes", "java", "spark")
    return all(a.get(k) == b.get(k) for k in keys)


# --------------------------------------------------------------- metrics

def end_to_end(workload, raw, session_s, traced=False):
    v, s = raw["values"], raw["samples"]
    once = v["warmup_s"] if workload == "ingest_bulk" else v["base_load_s"]
    attempted, failed = stats.tally(raw["ops"])
    fresh = stats.freshness(raw["files"])
    out = {
        "setup_s": (session_s + stats.median(s["feed_gen_s"])
                    + s["oracle_s"][0] + once),
        "rss_peak_mb": v["rss_peak_mb"],
        "ingest_eps": stats.median(s["ingest_eps"]),
        "ingest_applied_eps": stats.median(s["ingest_applied_eps"]),
        "mirror_s": stats.median(s["mirror_s"]),
        "write_bytes_per_event": stats.median(s["write_bytes_per_event"]),
        "freshness_s_p50": stats.median(fresh),
        "lookup_ms_p50": stats.median(s["lookup_ms"]),
    }
    # The tail and every lookup loop must support their p90s; an untraced
    # run short of samples is a failed run. A backlog's freshness is
    # quantised at its few epoch commits and is reported from the files it
    # has. Traced runs report their end-to-end numbers only to measure the
    # tracing overhead.
    support = {}
    for name, xs, need in (
            ("freshness_s_p90", fresh, workload == "tail_mixed" and not traced),
            ("lookup_ms_p90", s["lookup_ms"], not traced)):
        support[name] = stats.beyond(len(xs), 0.9) >= 10
        out[name] = stats.percentile(xs, 0.9, min_beyond=0)
        if need and not support[name]:
            attempted += 1
            failed += 1
            raw["failures"].append(f"samples: {name} rests on {len(xs)} samples")
    out["ok_ratio"] = stats.ok_ratio(attempted, failed)
    counts = {"freshness": len(fresh), "lookup": len(s["lookup_ms"])}
    return out, support, counts, attempted, failed


def per_layer(raw, cores):
    v, s = raw["values"], raw["samples"]
    cycles = v.get("cycles", 1.0)

    def med(k):
        return stats.median(s[k])

    def total(k):
        return sum(s[k]) / cycles

    def p90(k):
        return stats.percentile(s[k], 0.9, min_beyond=0)

    epochs = len(s["merge_ms"])
    out = {
        "trigger_ms_p50": med("trigger_ms"),
        "trigger_overhead_ms_p50": med("trigger_overhead_ms"),
        "latest_offset_ms_p50": med("latest_offset_ms"),
        "query_planning_ms_p50": med("query_planning_ms"),
        "wal_commit_ms_p50": med("wal_commit_ms"),
        "commit_offsets_ms_p50": med("commit_offsets_ms"),
        "files_per_trigger_mean": sum(s["files_per_trigger"]) / len(s["files_per_trigger"]),
        "epochs": epochs / cycles,
        "merge_ms_p50": med("merge_ms"), "merge_ms_p90": p90("merge_ms"),
        "merge_map_stage_ms_p50": med("merge_map_stage_ms"),
        "merge_write_stage_ms_p50": med("merge_write_stage_ms"),
        "merge_driver_ms_p50": med("merge_driver_ms"),
        "merge_busy_s": total("merge_busy_s"),
        "shuffle_write_mb": total("shuffle_write_mb"),
        "shuffle_read_mb": total("shuffle_read_mb"),
        "spill_mb": total("spill_mb"),
        "tasks_per_epoch": sum(s["tasks"]) / epochs,
        "applied_per_input": sum(s["rows_applied"]) / sum(s["rows_in"]),
        "files_written_per_epoch": sum(s["files_written"]) / len(s["files_written"]),
        "buckets_touched_p50": med("buckets_touched"),
        "compact_s": med("compact_s"), "compact_files_in": med("compact_files_in"),
        "snapshot_ms_p50": med("snapshot_ms"),
        "lookup_job_ms_p50": med("lookup_job_ms"),
        "deltas_per_bucket_p50": med("deltas_at_lookup"),
        "deltas_per_bucket_max": max(s["deltas_at_lookup"]),
        "commit_ms_fresh": med("commit_ms_fresh"),
        "commit_ms_aged": med("commit_ms_aged"),
        "list_files_ms": med("list_files_ms"),
        "full_read_s": med("full_read_s"),
        "table_files": v["table_files"], "table_versions": v["table_versions"],
        "bytes_per_live_row": v["bytes_per_live_row"],
        "mirror_latest_offset_ms_p50": med("mirror_latest_offset_ms"),
        "mirror_get_batch_ms_p50": med("mirror_get_batch_ms"),
        "mirror_add_batch_ms_p50": med("mirror_add_batch_ms"),
        "mirror_triggers": total("mirror_triggers"),
        "feed_gen_s": med("feed_gen_s"), "oracle_s": med("oracle_s"),
        "heap_peak_mb": v["heap_peak_mb"], "gc_s": v["gc_s"],
    }
    extra = {
        "rows_in": total("rows_in"), "rows_applied": total("rows_applied"),
        "lander_late_ms_max": max(stats.lateness_ms(raw["files"])),
        "list_files_count": v.get("list_files_count"),
        "merge_samples": epochs,
        "phase_sum_vs_merge_ms": (med("merge_map_stage_ms") + med("merge_write_stage_ms")
                                  + med("merge_driver_ms")) / med("merge_ms"),
    }
    for name, k in (("epoch_ms_p50_compacting", "epoch_ms_compacting"),
                    ("epoch_ms_p50_plain", "epoch_ms_plain"),
                    ("lookup_ms_p50_base_only", "lookup_ms_base_only"),
                    ("lookup_ms_p50_with_deltas", "lookup_ms_with_deltas")):
        if s.get(k):
            extra[name] = med(k)
            extra[k + "_n"] = len(s[k])
    extra["compactions"] = len(s.get("epoch_ms_compacting", []))
    if s.get("local1.ingest_applied_eps"):
        # bulk only: eps(N) / (N eps(1)), and per merge phase
        # t(1) / (N t(N)), where a serial driver constant reads near 1/N
        n = cores
        extra["scaling_efficiency"] = (med("ingest_applied_eps")
                                       / (n * med("local1.ingest_applied_eps")))
        for p in ("merge_ms", "merge_map_stage_ms", "merge_write_stage_ms",
                  "merge_driver_ms", "trigger_overhead_ms"):
            extra[f"scaling_eff.{p}"] = med(f"local1.{p}") / (n * med(p))
    return out, extra


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a graft checkout (no src/main/scala here)")
    jars = spark_jars()
    classes, stamp = build(root, jars)

    runs = os.path.join(root, ".bench_build", "runs")
    sweep_stale(runs)
    work = make_workdir(runs, args.workload)
    proc = None
    try:
        cores = len(os.sched_getaffinity(0))
        os.makedirs(os.path.join(work, "tmp"))
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = ["java", *opens, *HEAP, "-XX:-UsePerfData",
               f"-XX:ParallelGCThreads={cores}",
               f"-XX:ConcGCThreads={max(1, cores // 4)}",
               f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", ":".join([f"{classes}/bench", f"{classes}/main",
                                os.path.join(root, "src/main/resources"),
                                f"{jars}/*"]),
               "graftbench.Main", f"work={work}", f"out={work}/out.json",
               f"cores={cores}", f"workload={args.workload}",
               f"seed={args.seed}", f"seconds={args.seconds}",
               f"trace={args.trace}"]
        cmd += [f"{k}={v}" for k, v in WORKLOADS[args.workload].items()]
        launched = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = None
        raw = None
        if os.path.exists(os.path.join(work, "out.json")):
            with open(os.path.join(work, "out.json")) as fh:
                raw = json.load(fh)
        if rc != 0 or raw is None or "error" in raw["info"]:
            with open(os.path.join(work, "jvm.log")) as fh:
                tail = fh.readlines()[-40:]
            sys.stderr.writelines(tail)
            why = "timed out" if rc is None else f"exited {rc}"
            fail(f"the engine JVM {why}: "
                 f"{raw['info'].get('error') if raw else 'no result'}")
        session_s = raw["values"]["session_ready_unix_s"] - launched
        report = emit(args, root, cores, raw, session_s, stamp)
        save(root, args, report)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def emit(args, root, cores, raw, session_s, stamp):
    host = host_fingerprint(root, cores, raw["info"], stamp)
    e2e, support, counts, attempted, failed = end_to_end(
        args.workload, raw, session_s, traced=bool(args.trace))
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "params": WORKLOADS[args.workload], "attempted": attempted,
              "failed": failed, "failures": raw["failures"], "ops": raw["ops"],
              "end_to_end": e2e, "p90_has_ten_beyond": support,
              "sample_counts": counts, "raw_values": raw["values"]}
    if args.trace:
        layers, extra = per_layer(raw, cores)
        base = untraced_median(root, args.workload, host)
        if base:
            extra["tracing_overhead"] = {
                k: (e2e[k] - base[k]) / base[k] for k in base}
        report.update(per_layer=layers, per_layer_extra=extra)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return report


def untraced_median(root, workload, host):
    """Median end-to-end metrics of this build's untraced runs on this
    host, the base of the tracing overhead; None before the first one."""
    path = os.path.join(root, ".bench_build", "history", f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    rows = [json.loads(l) for l in open(path)]
    rows = [r for r in rows if same_host(r["host"], host) and
            r["host"]["source_sha256"] == host["source_sha256"]]
    if not rows:
        return None
    return {k: stats.median([r["end_to_end"][k] for r in rows])
            for k in END_TO_END}


def save(root, args, report):
    d = os.path.join(root, ".bench_build", "results")
    os.makedirs(d, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}"
            f"-s{args.seed}-t{args.trace}.json")
    with open(os.path.join(d, name), "w") as fh:
        json.dump(report, fh, indent=1)
    if not args.trace:
        h = os.path.join(root, ".bench_build", "history")
        os.makedirs(h, exist_ok=True)
        with open(os.path.join(h, f"{args.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps({"host": report["host"],
                                 "end_to_end": report["end_to_end"]}) + "\n")
    print(f"perfbench: report {os.path.join(d, name)}", file=sys.stderr)


if __name__ == "__main__":
    main()
