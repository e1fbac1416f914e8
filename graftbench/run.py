#!/usr/bin/env python3
"""graft's benchmark: two seeded workloads against graft's public API.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload ts_provider --seed 7 --seconds 5 --trace 0

The first run compiles graft and the benchmark from source with the Scala
compiler among the Spark jars graft's build.sbt names; later runs reuse
the build while the sources are unchanged. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). `--record` re-records the reference digests
instead (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import stats  # noqa: E402

WORKLOADS = ("ts_provider", "corpus_batch")
REFERENCE = os.path.join(BENCH, "reference", "digests.json")
REFERENCE_SEED = 1
# The heap is pinned (graft's own build defaults to -Xmx28g): 2 GiB
# committed at start with a fixed young generation, and not pre-touched.
# peak_rss_mb then counts the heap pages the workload touches: the young
# generation in full once it has cycled, and old regions as data is
# retained. Left to size the young generation itself, G1 made the peak
# resident set spread by a quarter to a third across seeds.
HEAP = "2g"
YOUNG = "512m"
# C1-only JIT: in a run of about a minute on four cores, C2's background
# compiles take more CPU than the workload and make every timing depend
# on when they land; C1 reaches steady code within the warmup.
JIT = "-XX:TieredStopAtLevel=1"
JVM_TIMEOUT_S = 170
# the counts that must repeat exactly when a traced pass is repeated;
# codegen compiles are not among them (see README.md)
EXACT_COUNTS = ("jobs", "stages", "tasks", "shuffle_records", "input_rows")
# the tail latency percentile: a 36-request provider pass leaves 9 samples beyond it
TAIL_Q = 75
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


BUILD_INPUTS = ("build.sbt", "src/main", "graftbench/src/main")


def source_hash(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def jar_dir(root):
    """The directory of jars graft compiles against: the `unmanagedBase`
    of graft's own build.sbt, its only main dependencies. The Scala
    compiler is among them."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise SystemExit("graftbench: graft's build.sbt names no unmanagedBase holding the Scala compiler")
    return m.group(1)


def build(root, state, src_hash):
    """Compile graft and the benchmark with the Scala compiler among the
    Spark jars, into the benchmark's state directory; return the runtime
    classpath. No build tool runs, so nothing outside the checkout is
    written."""
    jars = jar_dir(root)
    classes = os.path.join(state, f"classes-{src_hash}")
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(classes, "graftbench", "Main.class")):
        return classpath
    log("compiling graft and the benchmark")
    tmp = os.path.join(state, "tmp")
    staging = classes + ".partial"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(tmp, exist_ok=True)
    sources = sorted(os.path.join(d, f) for top in ("src/main/scala", "graftbench/src/main/scala")
                     for d, _, fs in os.walk(os.path.join(root, top)) for f in fs if f.endswith(".scala"))
    args_file = os.path.join(staging, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-d", staging, "-classpath", os.path.join(jars, "*"), "-nowarn"] + sources))
    compiler = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "scala-*.jar"))))
    proc = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                           "-cp", compiler, "scala.tools.nsc.Main", "@" + args_file],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0 or not os.path.exists(os.path.join(staging, "graftbench", "Main.class")):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    os.remove(args_file)
    # graft's resources (its DataSourceRegister service file) sit beside the classes
    shutil.copytree(os.path.join(root, "src", "main", "resources"), staging, dirs_exist_ok=True)
    os.replace(staging, classes)
    return classpath


def read_stat():
    """(steal jiffies, load average) from /proc."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return int(cpu[8]), load


def run_jvm(classpath, workload, seed, seconds, trace, work, record):
    out = os.path.join(work, "raw.json")
    cmd = ["java", JIT, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", workload, str(seed), str(seconds), str(trace), work, out]
    if record:
        cmd.append("record")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S if not record else 900)
        except subprocess.TimeoutExpired:
            raise SystemExit("graftbench: the JVM timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"graftbench: the JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(raw):
    ms = [op["ms"] for op in raw["ops"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (stats.median([p["wall_s"] for p in raw["passes"]]), "s"),
        "req_p50_ms": (stats.percentile(ms, 50), "ms"),
        f"req_p{TAIL_Q}_ms": (stats.percentile(ms, TAIL_Q), "ms"),
        "cpu_s": (stats.median([p["cpu_s"] for p in raw["passes"]]), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def first_pass(raw):
    """The traced records of the first pass (op ids below 1000)."""
    return [o for o in raw["trace"] if o["id"] < 1000]


def per_layer(raw):
    ops = first_pass(raw)
    n = len(ops)
    cpus = raw["cpus"]

    def span_ms(op, layer):
        return sum(s["ms"] for s in op["spans"] if s["layer"] == layer)

    def jobs(op, layer):
        return sum(1 for j in op["jobs"] if j["layer"] == layer)

    def mean(f):
        return sum(f(op) for op in ops) / n

    wall_ms = sum(op["wall_ms"] for op in ops)
    shuffle = sum(op["shuffle_records"] for op in ops)
    m = {
        "sources.frame_ms": (mean(lambda o: span_ms(o, "sources")), "ms"),
        "sources.frame_jobs": (mean(lambda o: jobs(o, "sources")), "count"),
        "sources.rows_read": (sum(o["input_rows"] for o in ops), "count"),
        "sources.bytes_read": (sum(o["input_bytes"] for o in ops), "B"),
        "plans.plan_ms": (mean(lambda o: o["plan_ms"]), "ms"),
        "plans.queries": (mean(lambda o: o["queries"]), "count"),
        "plans.codegen_compiles": (mean(lambda o: o["codegen_compiles"]), "count"),
        "plans.codegen_ms": (mean(lambda o: o["codegen_ms"]), "ms"),
        "operators.call_ms": (mean(lambda o: span_ms(o, "operators")), "ms"),
        "operators.call_jobs": (mean(lambda o: jobs(o, "operators")), "count"),
        "functions.call_ms": (mean(lambda o: span_ms(o, "functions")), "ms"),
        "functions.call_jobs": (mean(lambda o: jobs(o, "functions")), "count"),
        "spark.jobs": (mean(lambda o: len(o["jobs"])), "count"),
        "spark.stages": (mean(lambda o: o["stages"]), "count"),
        "spark.tasks": (mean(lambda o: o["tasks"]), "count"),
        "spark.driver_gap_ms": (mean(lambda o: stats.driver_gap(
            o["start_ms"], o["end_ms"], [(j["start_ms"], j["end_ms"]) for j in o["jobs"]])), "ms"),
        "spark.busy_share": (sum(o["exec_run_ms"] for o in ops) / (wall_ms * cpus), "ratio"),
        "spark.executor_cpu_s": (mean(lambda o: o["exec_cpu_ns"] / 1e9), "s"),
        "spark.shuffle_records": (mean(lambda o: o["shuffle_records"]), "count"),
        "spark.shuffle_bytes": (mean(lambda o: o["shuffle_bytes"]), "B"),
        "spark.spill_bytes": (mean(lambda o: o["spill_bytes"]), "B"),
        "spark.rows_out_per_shuffle_record": (sum(o["rows_out"] for o in ops) / max(shuffle, 1), "ratio"),
        "spark.action_ms": (mean(lambda o: span_ms(o, "action")), "ms"),
        "spark.bytes_written": (mean(lambda o: o["bytes_written"]), "B"),
        "spark.gc_ms": (mean(lambda o: o["gc_ms"]), "ms"),
        "spark.failed_tasks": (sum(o["failed_tasks"] for o in ops), "count"),
    }
    return m


def exact_counts(ops):
    """The exact counts of each op, keyed by its slot in the pass."""
    out = {}
    for o in ops:
        c = {k: o[k] for k in EXACT_COUNTS if k in o}
        c["jobs"] = len(o["jobs"])
        out[f'{o["id"] % 1000}:{o["key"]}'] = c
    return out


def count_drift(first, repeat):
    """(op, count) pairs whose value differs between a pass and its
    repeat, or ops that only one of them ran."""
    drift = [f"{op}: not in both passes" for op in sorted(set(first) ^ set(repeat))]
    return drift + [f"{op}.{k}: {first[op][k]} -> {v}" for op, c in repeat.items() if op in first
                    for k, v in c.items() if first[op].get(k) != v]


def check(raw, reference):
    """Failed ops: an error, or a digest unlike the reference."""
    ref = reference.get(raw["workload"], {})
    failed = []
    for op in raw["ops"]:
        want = ref.get(op["key"])
        if op["digest"].startswith("error") or want != op["digest"]:
            failed.append((op["key"], op["digest"], want))
    return failed


def duckdb_crosscheck(raw, work):
    """Compare each batch output that has a DuckDB oracle with the
    oracle run over the same staged inputs."""
    import duckdb
    import pandas as pd

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/full/{t}.parquet/*.parquet')")
    result = {}
    for name, sql in sorted(raw["oracle_sql"].items()):
        s = normalize(con.execute(f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')").df())
        d = normalize(con.execute(sql).df())
        same = list(s.columns) == list(d.columns) and len(s) == len(d) and bool(
            (s.astype(object).where(s.notna(), "\0") == d.astype(object).where(d.notna(), "\0")).all().all())
        result[name] = "match" if same else f"MISMATCH ({len(s)} vs {len(d)} rows)"
    return result


def record(classpath, state, workloads):
    """Re-record the reference digests of `workloads` at the reference seed."""
    reference = {"reference_seed": REFERENCE_SEED, "duckdb_crosscheck": {}}
    if os.path.exists(REFERENCE):
        with open(REFERENCE) as fh:
            reference = json.load(fh)
    oracle = reference["duckdb_crosscheck"]
    for w in workloads:
        work = os.path.join(state, f"record-{w}")
        shutil.rmtree(work, ignore_errors=True)
        raw = run_jvm(classpath, w, REFERENCE_SEED, 0, 0, work, record=True)
        errors = [op for op in raw["ops"] if op["digest"].startswith("error")]
        if errors:
            raise SystemExit(f"graftbench: ops failed while recording: {errors}")
        reference[w] = {op["key"]: op["digest"] for op in raw["ops"]}
        oracle.pop(w, None)
        if raw["oracle_sql"]:
            oracle[w] = duckdb_crosscheck(raw, work)
            log(f"{w} DuckDB cross-check: {oracle[w]}")
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(REFERENCE), exist_ok=True)
    with open(REFERENCE, "w") as fh:
        json.dump(reference, fh, indent=1, sort_keys=True)
        fh.write("\n")
    bad = [f"{w}/{n}" for w, r in oracle.items() if w in workloads for n, v in r.items() if v != "match"]
    if bad:
        raise SystemExit(f"graftbench: DuckDB oracle mismatch: {bad}")


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a terminated run still stops its JVM and removes its staged inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=REFERENCE_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record the reference digests (of --workload, or of every workload)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("graftbench: run from the root of a graft checkout (no src/main/scala/graft here)")
    if not args.record and not args.workload:
        ap.error("--workload is required")
    state = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(state, exist_ok=True)
    src_hash = source_hash(root)
    classpath = build(root, state, src_hash)
    if args.record:
        record(classpath, state, [args.workload] if args.workload else WORKLOADS)
        return

    reference = {}
    if os.path.exists(REFERENCE):
        with open(REFERENCE) as fh:
            reference = json.load(fh)
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    steal0, load0 = read_stat()
    try:
        raw = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace, work, record=False)
        # the last run's raw per-op records, for attributing a result
        shutil.copy(os.path.join(work, "raw.json"), os.path.join(state, f"last-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, load1 = read_stat()

    failed = check(raw, reference)
    for key, got, want in failed:
        log(f"FAILED {key}: got {got}, reference {want}")
    attempted = len(raw["ops"])
    with open("/proc/meminfo") as fh:
        mem_total_kb = int(fh.readline().split()[1])
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "mem_total_mb": mem_total_kb // 1024, "xms": HEAP, "xmx": HEAP,
        "xmn": YOUNG, "jit": JIT,
        "max_heap_mb": raw["max_heap_mb"], "master": f"local[{raw['cpus']}]",
        "shuffle_partitions": raw["shuffle_partitions"], "load_start": load0, "load_end": load1,
        "steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"), "commit": git_commit(root),
        "source_hash": src_hash, "passes": len(raw["passes"]), "ops": attempted,
        "fail_ratio": len(failed) / attempted,
        f"samples_beyond_p{TAIL_Q}": stats.samples_beyond(len(raw["ops"]) // len(raw["passes"]), TAIL_Q),
        "setup_parts": raw["setup_parts"],
    }
    if args.trace:
        metrics = per_layer(raw)
        first = first_pass(raw)
        repeat = [o for o in raw["trace"] if o["id"] >= 1000]
        drift = count_drift(exact_counts(first), exact_counts(repeat))
        for d in drift:
            log(f"COUNT DRIFT {d}")
        stamp["count_drift"] = drift
        # not an exact count: the repeat reuses classes the first pass compiled
        stamp["codegen_compiles_per_pass"] = [sum(o["codegen_compiles"] for o in ops) for ops in (first, repeat)]
        metrics["trace.count_drift"] = (len(drift), "count")
        metrics["trace.wall_s"] = (raw["passes"][0]["wall_s"], "s")
        trace_dir = os.path.join(state, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{src_hash}.json")
        with open(trace_file, "w") as fh:
            json.dump({"stamp": stamp, "ops": raw["trace"]}, fh)
        stamp["trace_file"] = os.path.relpath(trace_file, root)
    else:
        metrics = end_to_end(raw)
    print("stamp " + json.dumps(stamp, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
