#!/usr/bin/env python3
"""GMALL warehouse benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload gmall_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the program and the harness from source with sbt (perfbench/build.sbt on
top of the program's unchanged build); later runs reuse the build while
the sources are unchanged. A run stages seeded inputs (gen.py, a separate
process that then publishes them), starts the system (one Spark driver
JVM, Harness.scala), times the drain, checks every output (checks.py),
and prints one JSON line last: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1 (which also writes
perfbench/work/<run>/trace.json with spans and metrics).
"""
import argparse
import datetime
import hashlib
import json
import os
import queue
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402

ALL_APPS = ["ods_route", "dwd_first_order", "dws_wide_join", "dws_allocation",
            "ads_trademark", "dau", "doc_claims"]
TOPICS = {"ods_route": ["events"], "dwd_first_order": ["orders"],
          "dws_wide_join": ["orders", "details"], "dws_allocation": ["details"],
          "ads_trademark": ["details"], "dau": ["events"], "doc_claims": ["docs"]}
STATEFUL = {"dws_wide_join", "dws_allocation", "ads_trademark", "dau", "doc_claims"}
BIG_STATE = {"dws_wide_join", "dws_allocation"}  # RocksDB under Replay.stateProvider
RUN_LIMIT_S = 170  # a run that is not done by then is killed
KNOWN_FAULTS = [
    "dws_wide_join.state_rows and dws_allocation.state_rows do not count state rows: "
    "Replay.stateProvider sets spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    "=false for the RocksDB (big-state) provider, so numRowsTotal is not maintained. "
    "Read state_mem_bytes and the rocksdb_* metrics of those apps instead."]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout root", 2)
    target = os.path.join(BENCH, "target")
    stamp_f, cp_f = os.path.join(target, "bench_build.stamp"), os.path.join(target, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == stamp:
                with open(cp_f) as g:
                    return g.read()
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out", 2)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed", 2)
    os.makedirs(target, exist_ok=True)
    with open(cp_f, "w") as f:
        f.write(cps[-1])
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------- processes

class Lines:
    """A child's stdout as a queue of lines, read on a thread."""

    def __init__(self, proc, deadline):
        self.q, self.deadline = queue.Queue(), deadline
        threading.Thread(target=self._pump, args=(proc.stdout,), daemon=True).start()

    def _pump(self, stream):
        for ln in stream:
            self.q.put(ln.rstrip("\n"))
        self.q.put(None)

    def expect(self, prefix):
        while True:
            try:
                ln = self.q.get(timeout=max(0.1, self.deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"timed out waiting for {prefix}")
            if ln is None:
                raise RuntimeError(f"process ended before {prefix}")
            if ln.startswith(prefix):
                return ln


def proc_cpu_s(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) * 1024 / 1e6
    raise RuntimeError("no VmHWM")


def host_steal_jiffies():
    """Time the hypervisor ran something else while this host wanted to run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def reply(proc):
    proc.stdin.write("ok\n")
    proc.stdin.flush()


# ---------------------------------------------------------------- checkpoints

LOG_NAME = re.compile(r"^\d+(\.compact)?$")


class Checkpoints:
    """What each query's checkpoint says, read from outside the system:
    when each batch was planned (offset log) and committed (commit log),
    how far each batch read into each source's file log, and which file
    log entry holds each slice file. Scanned while the run goes, since
    the engine purges old offset and commit entries."""

    def __init__(self, run_dir, apps):
        self.run_dir, self.apps = run_dir, apps
        self.entry = {a: {} for a in apps}  # (topic, file) -> (source, file-log batch)
        self.reach = {a: {} for a in apps}  # batch id -> [file-log offset per source]
        self.committed = {a: {} for a in apps}  # batch id -> epoch s
        self.planned = {a: {} for a in apps}

    def scan(self):
        for a in self.apps:
            cp = os.path.join(self.run_dir, "cp", a)
            d = os.path.join(cp, "commits")
            for n in os.listdir(d) if os.path.isdir(d) else []:
                if n.isdigit() and int(n) not in self.committed[a]:
                    try:
                        self.committed[a][int(n)] = os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
                    except FileNotFoundError:
                        pass
            d = os.path.join(cp, "offsets")
            for n in os.listdir(d) if os.path.isdir(d) else []:
                if n.isdigit() and int(n) not in self.planned[a]:
                    try:
                        f = os.path.join(d, n)
                        t = os.stat(f).st_mtime_ns / 1e9
                        with open(f) as fh:
                            lines = fh.read().splitlines()[2:]  # version, metadata, then sources
                    except FileNotFoundError:
                        continue
                    self.reach[a][int(n)] = [json.loads(x)["logOffset"] if x != "-" else -1
                                             for x in lines]
                    self.planned[a][int(n)] = t
            src = os.path.join(cp, "sources")
            for s in os.listdir(src) if os.path.isdir(src) else []:
                d = os.path.join(src, s)
                for n in os.listdir(d):
                    if not LOG_NAME.match(n):
                        continue
                    try:
                        with open(os.path.join(d, n)) as f:
                            for ln in f:
                                if ln.startswith("{"):
                                    e = json.loads(ln)
                                    parts = e["path"].rstrip("/").split("/")
                                    self.entry[a][(parts[-2], parts[-1])] = (int(s), e["batchId"])
                    except FileNotFoundError:
                        pass

    def poll(self, stop):
        while not stop.wait(0.5):
            self.scan()

    def batch_of(self, a, topic, name):
        """The query batch that read slice file `name` of `topic`, or None."""
        if (topic, name) not in self.entry[a]:
            return None
        s, k = self.entry[a][(topic, name)]
        hits = [b for b, r in self.reach[a].items() if s < len(r) and r[s] >= k]
        return min(hits) if hits else None


# ---------------------------------------------------------------- metrics

def written_mb(run_dir, apps):
    """Bytes under the sinks and the checkpoints' offset, commit and source
    logs. The state-store files are left out: how many of them remain at
    the end depends on when RocksDB compaction and state-store maintenance
    happened to run (3.2 vs 4.1 MB on identical gmall_backlog inputs)."""
    tops = [os.path.join(run_dir, "out")] + [
        os.path.join(run_dir, "cp", a, log) for a in apps for log in ("offsets", "commits", "sources")]
    return sum(os.lstat(os.path.join(d, f)).st_size
               for top in tops for d, _, fs in os.walk(top) for f in fs) / 1e6


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))]


def freshness(cps, pubs, apps):
    """Per data slice: from its due publish time to the commit of the last
    app's batch that consumed it, in ms."""
    out = []
    for p in pubs:
        if p["flush"]:
            continue
        name = f"s{p['slice']:05d}.parquet"
        done = max(cps.committed[a][cps.batch_of(a, t, name)] for a in apps for t in TOPICS[a])
        out.append((done - p["due"]) * 1000)
    return out


def end_to_end(m, cps, pubs, apps, rows):
    fresh = freshness(cps, pubs, apps)
    first_slice = f"s{min(p['slice'] for p in pubs):05d}.parquet"
    first = min(cps.planned[a][cps.batch_of(a, t, first_slice)] for a in apps for t in TOPICS[a])
    last = max(max(cps.committed[a].values()) for a in apps)
    return {
        "setup_s": (m["gen_s"] + m["jvm_s"] + m["start_s"] + statistics.median(m["warmup_s"]), "s"),
        "drain_rows_per_s": (rows / (last - first), "rows/s"),
        "freshness_p50_ms": (statistics.median(fresh), "ms"),
        "cpu_s": (m["cpu_s"], "s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MB"),
        "bytes_written_mb": (m["bytes_written_mb"], "MB"),
    }


def per_layer(raw, cps, pubs, apps, warmups):
    """Per-layer metrics from the traced run's progress events, task
    totals, spans and counters, plus the checkpoints and publish log."""
    m = {}
    published_at = sorted(p["actual"] for p in pubs)
    for a in ALL_APPS:
        evs = [json.loads(e) if isinstance(e, str) else e for e in raw["progress"].get(a, [])]
        dur = lambda e, k: e["durationMs"].get(k, 0)
        trig = [dur(e, "triggerExecution") for e in evs] or [0]
        ops = lambda e: e.get("stateOperators", [])
        cm = lambda e, k: sum(o.get("customMetrics", {}).get(k, 0) for o in ops(e))
        backlog = 0
        if a in apps:
            for e in evs:
                start = datetime.datetime.strptime(e["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ") \
                    .replace(tzinfo=datetime.timezone.utc).timestamp()
                pub = warmups + sum(1 for t in published_at if t <= start)
                for t in TOPICS[a]:
                    used = sum(1 for (tt, name) in cps.entry[a]
                               if tt == t and cps.batch_of(a, tt, name) < e["batchId"])
                    backlog = max(backlog, pub - used)
        m.update({
            f"{a}.batches": (len(evs), "count"),
            f"{a}.rows_in": (sum(e["numInputRows"] for e in evs), "rows"),
            f"{a}.rows_out": (sum(ops(e)[-1]["numRowsUpdated"] for e in evs) if a == "ads_trademark"
                              else raw["extra"].get(f"{a}.rows_out", 0), "rows"),
            f"{a}.trigger_p50_ms": (statistics.median(trig), "ms"),
            f"{a}.trigger_p95_ms": (pct(trig, 0.95), "ms"),
            f"{a}.add_batch_ms": (sum(dur(e, "addBatch") for e in evs), "ms"),
            f"{a}.planning_ms": (sum(dur(e, "queryPlanning") for e in evs), "ms"),
            f"{a}.offsets_ms": (sum(dur(e, "latestOffset") + dur(e, "getBatch") for e in evs), "ms"),
            f"{a}.commit_ms": (sum(dur(e, "walCommit") + dur(e, "commitOffsets") for e in evs), "ms"),
            f"{a}.shuffle_write_bytes": (raw["shuffle_write_bytes"].get(a, 0), "bytes"),
            f"{a}.task_cpu_ms": (raw["task_cpu_ns"].get(a, 0) / 1e6, "ms"),
            f"{a}.backlog_slices_max": (backlog, "slices"),
        })
        if a in STATEFUL:
            m.update({
                f"{a}.state_rows": (max([sum(o["numRowsTotal"] for o in ops(e)) for e in evs] or [0]), "rows"),
                f"{a}.state_mem_bytes": (max([sum(o["memoryUsedBytes"] for o in ops(e)) for e in evs] or [0]), "bytes"),
                f"{a}.state_commit_ms": (sum(o["commitTimeMs"] for e in evs for o in ops(e)), "ms"),
            })
        if a in BIG_STATE:
            m.update({
                f"{a}.rocksdb_sst_bytes": (max([cm(e, "rocksdbSstFileSize") for e in evs] or [0]), "bytes"),
                f"{a}.rocksdb_put_count": (sum(cm(e, "rocksdbPutCount") for e in evs), "count"),
                f"{a}.rocksdb_get_count": (sum(cm(e, "rocksdbGetCount") for e in evs), "count"),
            })
    span_ms = lambda name: sum(s["end"] - s["start"] for s in raw["spans"] if s["name"] == name)
    m.update({
        "sinks.upsert_ms": (span_ms("sinks.upsert"), "ms"),
        "sinks.upsert_bytes": (raw["counters"].get("sinks.upsert_bytes", 0), "bytes"),
        "sinks.read_before_ms": (span_ms("sinks.read_before"), "ms"),
        "sinks.append_ms": (span_ms("sinks.append"), "ms"),
        "functions.simhash_fp_ms": (raw["extra"].get("functions.simhash_fp_ms", 0), "ms"),
        "jvm.gc_ms": (raw["extra"]["jvm.gc_ms"], "ms"),
        "gen.late_ms_max": (max((p["actual"] - p["due"]) * 1000 for p in pubs), "ms"),
    })
    return m


# ---------------------------------------------------------------- run

def run(args, classpath):
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BENCH, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    deadline = time.time() + RUN_LIMIT_S
    procs = []
    m = {}
    try:
        t0 = time.time()
        gen = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--work", work],
            stdout=subprocess.PIPE, text=True)
        procs.append(gen)
        staged = Lines(gen, deadline).expect("@@staged")
        m["gen_s"] = time.time() - t0
        print(staged, file=sys.stderr, flush=True)
        manifest = dict(ln.strip().split("=", 1) for ln in open(os.path.join(work, "manifest.properties")))
        apps = manifest["apps"].split(",")

        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        # a fixed, pre-touched heap, so peak RSS tracks off-heap memory
        jvm_cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
                   f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                   "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK_OPENS:
            jvm_cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        jvm_cmd += ["-cp", classpath, "graft.streaming.perfbench.Harness", "--work", work,
                    "--cpus", str(args.cpus), "--trace", str(args.trace),
                    "--trigger-ms", str(args.trigger_ms)]
        t1 = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            jvm = subprocess.Popen(jvm_cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                   stderr=log, text=True, cwd=work)
        procs.append(jvm)
        out = Lines(jvm, deadline)
        out.expect("@@session")
        t2 = time.time()
        m["jvm_s"] = t2 - t1
        out.expect("@@started")
        m["start_s"] = time.time() - t2
        m["warmup_s"] = [float(out.expect("@@warmup").split()[1])
                         for _ in range(int(manifest["warmups"]))]
        out.expect("@@ready")

        run_dir = os.path.join(work, "run")
        cps = Checkpoints(run_dir, apps)
        stop = threading.Event()
        poller = threading.Thread(target=cps.poll, args=(stop,), daemon=True)
        cpu0, steal0, t_go = proc_cpu_s(jvm.pid), host_steal_jiffies(), time.time()
        with open(os.path.join(work, ".go"), "w"):
            pass
        os.rename(os.path.join(work, ".go"), os.path.join(work, "go"))
        reply(jvm)
        poller.start()
        out.expect("@@drained")
        m["cpu_s"] = proc_cpu_s(jvm.pid) - cpu0
        m["host_steal_share"] = (host_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK") / (
            (time.time() - t_go) * os.cpu_count())
        reply(jvm)
        stop.set()
        poller.join()
        cps.scan()
        out.expect("@@end")
        m["peak_rss_mb"] = proc_hwm_mb(jvm.pid)
        reply(jvm)
        if jvm.wait(timeout=max(1, deadline - time.time())) != 0:
            raise RuntimeError(f"system exited {jvm.returncode}; see {work}/jvm.log")
        if gen.wait(timeout=max(1, deadline - time.time())) != 0:
            raise RuntimeError(f"generator exited {gen.returncode}")
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        fail(f"{tag}: {e}")

    m["bytes_written_mb"] = written_mb(run_dir, apps)
    with open(os.path.join(run_dir, "publish.jsonl")) as f:
        pubs = [json.loads(ln) for ln in f]
    slices = range(int(manifest["warmups"]) + int(manifest["slices"]) + 1)
    attempted = len(slices) * len(apps)  # one slice delivered to one app
    consumed = sum(1 for i in slices for a in apps
                   if all(cps.batch_of(a, t, f"s{i:05d}.parquet") is not None for t in TOPICS[a]))
    if consumed != attempted:
        fail(f"{tag}: {attempted - consumed} slice deliveries never committed")
    e2e = end_to_end(m, cps, pubs, apps, int(manifest["rows"]))
    names, fails = checks.run_all(manifest["kind"], run_dir, os.path.join(work, "static"))
    for f in fails:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "cpus": args.cpus, "trigger_ms": args.trigger_ms, "digest": manifest["digest"],
              "rows": int(manifest["rows"]), "slices": int(manifest["slices"]),
              "setup": {k: m[k] for k in ("gen_s", "jvm_s", "start_s", "warmup_s")},
              "host_steal_share": m["host_steal_share"],
              "checks": names, "check_failures": fails,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "freshness_ms": freshness(cps, pubs, apps)}
    metrics = {k: e2e[k] for k in metric_names("end_to_end")}
    if args.trace:
        with open(os.path.join(work, "trace_raw.json")) as f:
            raw = json.load(f)
        layers = per_layer(raw, cps, pubs, apps, int(manifest["warmups"]))
        result["per_layer"] = {k: v for k, (v, _) in layers.items()}
        result["known_faults"] = KNOWN_FAULTS
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "known_faults": KNOWN_FAULTS,
                       "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                       "spans": raw["spans"]}, f)
        if BIG_STATE & set(apps):
            for k in KNOWN_FAULTS:
                print(f"perfbench: known fault: {k}", file=sys.stderr)
        metrics = {k: layers[k] for k in metric_names("per_layer")}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    if not args.keep:
        for d in ("run", "static", "tmp", "spark-local", "warehouse", "trace_raw.json"):
            p = os.path.join(work, d)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else (
                os.path.exists(p) and os.remove(p))
    return {"correct": not fails, "attempted": attempted, "failed": attempted - consumed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def metric_names(kind):
    """The metrics BENCHMARK.json names under `kind` (the rest stay in result.json)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [x["name"] for x in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["gmall_backlog", "gmall_paced", "doc_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: every core of the host)")
    ap.add_argument("--trigger-ms", type=int, default=0,
                    help="processing-time trigger interval; 0 runs triggers back-to-back")
    ap.add_argument("--keep", action="store_true", help="keep inputs, outputs and checkpoints")
    args = ap.parse_args()
    classpath = build()
    res = run(args, classpath)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
