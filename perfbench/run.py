#!/usr/bin/env python3
"""End-to-end workload benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles ``src/main/scala``
plus the harness in ``perfbench/scala`` against the Spark jars into
``.bench_build/`` (and, for ``warehouse_queries``, generates the warehouse
tables there with ``graft.tools.GenData``); later runs reuse both while the
sources are unchanged. Each run then generates its inputs from the seed,
runs one JVM (``perfbench.PerfBench``) that warms up and measures the
workload for S seconds, checks every output against DuckDB, and prints one
JSON line as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with spans
and Spark listeners and prints the per-layer metrics, and writes every span
to ``.bench_build/traces/``. Exit code 1 means the program failed: an op
threw, an output check failed, or the JVM died or hung (then the op in
flight counts as failed). Any other non-zero code means the run
could not be made, and nothing is printed. See README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Primary op kinds of each workload: the ops its latency and per-layer
# medians are taken over (retail: every RetailPipeline day run, new or
# re-run).
PRIMARY = {"retail_daily": ("day", "rerun"), "warehouse_queries": ("query",),
           "corpus_prep": ("pipeline",)}

# corpus_prep draws its documents from one of this many seeded corpora, so
# the DuckDB oracle result (seconds per corpus) is computed once per corpus.
CORPORA = 2

# retail_daily: raw days that warm up (untimed) before the timed new days.
RETAIL_WARMUP_DAYS = 2

# warehouse_queries: graft.tools.GenData's size multiplier (1.0 is sf0.1).
WAREHOUSE_MULTIPLIER = "1.0"

# The JVM's heap, fixed (-Xms = -Xmx) and pre-touched: every op starts from
# the same committed heap, and resident memory beyond it is off-heap.
HEAP = "3g"

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the sbt build's own
    ``unmanagedBase`` (build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        die("build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def build(jars):
    """Compile the engine and the harness once per source tree; return the
    classes directory."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                        for n in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} sources")
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp:false", "-classpath", f"{jars}/*",
                        "-d", tmp] + srcs, stdout=sys.stderr)
    if r.returncode != 0:
        die("compile failed")
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t:.1f} s")
    return out


def java(classes, jars, main, args, tmp, timeout, env=None):
    """Run ``main`` in a JVM; return its exit code, or None when it did not
    end within ``timeout`` seconds (it is then killed)."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", main] + args
    # Two malloc arenas: native memory (and so the off-heap part of
    # peak_mem_mb) does not depend on how many threads happened to malloc
    # at once.
    env = dict(env or os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{main} did not finish within {timeout:.0f} s")
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests so far (Linux), summed
    over CPUs: a run that lost much of it measured a busy host, not the
    program."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def warehouse_tables(classes, jars, cpus):
    """The warehouse tables GenData writes at WAREHOUSE_MULTIPLIER, built
    once and kept while GenData's source (which uses only Spark) and the
    multiplier are unchanged."""
    h = hashlib.sha256(WAREHOUSE_MULTIPLIER.encode())
    with open(os.path.join(ROOT, "src/main/scala/graft/tools/GenData.scala"), "rb") as f:
        h.update(f.read())
    out = os.path.join(BUILD, "tables-" + h.hexdigest()[:16])
    if not os.path.isdir(out):
        for old in glob.glob(os.path.join(BUILD, "tables-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        if java(classes, jars, "graft.tools.GenData",
                [os.path.join(tmp, "tables"), WAREHOUSE_MULTIPLIER],
                os.path.join(tmp, "jvm-tmp"), 120, env) != 0:
            die("GenData failed")
        shutil.rmtree(os.path.join(tmp, "jvm-tmp"), ignore_errors=True)
        os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)] if s else 0.0


def wall(o):
    return o["end"] - o["start"]


def peak_mem_mb(rec):
    """The most heap any op left live (after the full GC that follows it)
    plus the peak off-heap resident memory (the high-water mark beyond the
    pre-touched heap): memory the program holds, not the heap size the
    harness chose."""
    live = max((o.get("heap_live_mb", 0.0) for o in rec["ops"]), default=0.0)
    return live + max(0.0, rec.get("vm_hwm_mb", 0.0) - rec.get("heap_committed_mb", 0.0))


def end_to_end(rec, timed):
    """The contract metrics (generic across workloads) and the named
    per-workload figures they stand for."""
    phases = {p["name"]: p["end"] - p["start"] for p in rec["phases"]}
    prim = [wall(o) for o in timed if o["kind"] in PRIMARY[rec["workload"]]]
    work = sum(o["items"] for o in timed) / sum(wall(o) for o in timed) if timed else 0.0
    metrics = {
        "setup_s": (phases.get("session.build", 0.0) + phases.get("setup", 0.0), "s"),
        "peak_mem_mb": (peak_mem_mb(rec), "MB"),
        "op_p50_s": (median(prim), "s"),
        "work_per_s": (work, "1/s"),
    }
    by = lambda k: [o for o in timed if o["kind"] == k]
    rate = lambda os_: sum(o["items"] for o in os_) / sum(map(wall, os_)) if os_ else 0.0
    named = {"samples": len(prim)}
    if rec["workload"] == "retail_daily":
        named.update(day_p50_s=median([wall(o) for o in by("day")]),
                     events_per_s=rate(by("day")),
                     rerun_p50_s=median([wall(o) for o in by("rerun")]),
                     catchup_events_per_s=rate(by("catchup")))
    elif rec["workload"] == "warehouse_queries":
        named.update(query_p50_s=median(prim), query_p90_s=p90(prim),
                     queries_per_s=rate(by("query")))
    else:
        named.update(corpus_docs_per_s=rate(by("pipeline")), corpus_run_p50_s=median(prim))
    return metrics, named


def per_layer(rec, timed):
    """Per-layer metrics of a traced run: medians over the workload's
    primary ops unless noted."""
    prim = [o for o in timed if o["kind"] in PRIMARY[rec["workload"]]]
    spans = rec["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["op"], []).append(s)

    def med(field, ops=prim):
        return median([o.get(field, 0.0) for o in ops])

    def span_med(name, field=None, ops=prim):
        vals = [sum((s[field] if field else s["end"] - s["start"])
                    for s in children.get(o["id"], []) if s["name"] == name) for o in ops]
        return median(vals)

    phases = {p["name"]: p["end"] - p["start"] for p in rec["phases"]}
    catchup = [o["stream"] for o in timed if o["kind"] == "catchup" and "stream" in o]
    stream = catchup[0] if catchup else {"batches": 0, "input_rows": 0, "trigger_s": 0, "state_rows": 0}
    rows = {}
    for r in rec.get("stage_rows", []):
        rows.setdefault(r["stage"], []).append(r["rows"])
    unspanned = [wall(o) - sum(s["end"] - s["start"] for s in children.get(o["id"], [])
                               if s["parent"] == -1) for o in prim]
    m = {
        "session.build_s": (phases.get("session.build", 0.0), "s"),
        "retail.ingest_s": (span_med("retail.ingest"), "s"),
        "retail.star_s": (span_med("retail.star"), "s"),
        "retail.mart_s": (span_med("retail.mart"), "s"),
        "io.csv_scan_s": (span_med("retail.ingest", "scan_s"), "s"),
        "io.input_bytes": (span_med("retail.ingest", "input_bytes"), "B"),
        "io.input_records": (span_med("retail.ingest", "input_records"), "count"),
        "io.write_s": (med("write_s"), "s"),
        "io.catalog_s": (med("catalog_s"), "s"),
        "io.bytes_written": (med("bytes_written"), "B"),
        "io.records_written": (med("records_written"), "count"),
        "stream.batches": (stream["batches"], "count"),
        "stream.input_rows_per_s": (stream["input_rows"] / stream["trigger_s"]
                                    if stream["trigger_s"] else 0.0, "1/s"),
        "stream.state_rows": (stream["state_rows"], "count"),
        "query.build_s": (span_med("query.build"), "s"),
        "query.exec_s": (span_med("query.exec"), "s"),
        "corpus.gate_s": (span_med("corpus.gate"), "s"),
        "corpus.exact_dedup_s": (span_med("corpus.exact_dedup"), "s"),
        "corpus.pairs_s": (span_med("corpus.pairs"), "s"),
        "corpus.components_s": (span_med("corpus.components"), "s"),
        "corpus.chunk_write_s": (span_med("corpus.chunk_write"), "s"),
        "corpus.gated_rows": (median(rows.get("corpus.gate", [])), "count"),
        "corpus.unique_rows": (median(rows.get("corpus.exact_dedup", [])), "count"),
        "corpus.pair_rows": (median(rows.get("corpus.pairs", [])), "count"),
        "corpus.chunk_rows": (median(rows.get("corpus.chunk", [])), "count"),
        "snapshot.pinned_bytes": (med("pinned_bytes"), "B"),
        "spark.jobs": (med("jobs"), "count"),
        "spark.offjob_s": (med("offjob_s"), "s"),
        "spark.plan_s": (med("plan_s"), "s"),
        "spark.codegen_s": (med("codegen_s"), "s"),
        "spark.setup_codegen_s": (sum(o.get("codegen_s", 0.0) for o in rec["ops"]
                                      if o["kind"] == "warmup"), "s"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.task_run_s": (med("task_run_s"), "s"),
        "spark.task_cpu_s": (med("task_cpu_s"), "s"),
        "spark.gc_s": (med("gc_s"), "s"),
        "spark.core_util": (median([o.get("task_run_s", 0.0) / (wall(o) * rec["cpus"])
                                    for o in prim]), "ratio"),
        "spark.shuffle_read_bytes": (med("shuffle_read_bytes"), "B"),
        "spark.shuffle_write_bytes": (med("shuffle_write_bytes"), "B"),
        "spark.fetch_wait_s": (med("fetch_wait_s"), "s"),
        "spark.spill_bytes": (med("spill_bytes"), "B"),
        "spark.task_failures": (sum(o.get("task_failures", 0) for o in rec["ops"]), "count"),
        "jvm.heap_live_mb": (max((o.get("heap_live_mb", 0.0) for o in rec["ops"]), default=0.0),
                             "MB"),
        "trace.op_p50_s": (median([wall(o) for o in prim]), "s"),
        "trace.unspanned_s": (max(unspanned) if unspanned else 0.0, "s"),
    }
    return m


# ------------------------------------------------------------------- main

def check(workload, rec, inp, work, checks):
    """The run's output checks; return the names of the ops they fail."""
    t = time.time()
    oracle_cache = os.path.join(BUILD, "oracle")
    try:
        if workload == "retail_daily":
            bad = checks.check_retail(rec, os.path.join(work, "raw"))
        elif workload == "warehouse_queries":
            bad = checks.check_warehouse(rec, os.path.join(inp, "tables"), oracle_cache)
        else:
            bad = checks.check_corpus(rec, os.path.join(inp, "documents.parquet"), oracle_cache)
    except Exception as e:  # an output the check cannot read is a failed check
        log(f"output check error: {e!r}")
        bad = {o["name"] for o in rec["ops"]}
    log(f"output checks in {time.time() - t:.1f} s; mismatched: {sorted(bad) or 'none'}")
    return bad


def measure(a, classes, jars, cpus, started, gen):
    """Generate the inputs and run the JVM once; return its record, the
    run, input and work directories, and the host steal during the JVM."""
    run = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    inp, work = os.path.join(run, "input"), os.path.join(run, "work")
    os.makedirs(inp)
    os.makedirs(work)
    if a.workload == "retail_daily":
        # The warm-up days, then one timed new day per 6 s of the budget
        # (a new day and its re-run take about 3 s each on four cores).
        new_days = max(2, round(a.seconds / 6))
        days = gen.write_raw_days(os.path.join(inp, "pending"), a.seed,
                                  RETAIL_WARMUP_DAYS + new_days)
        with open(os.path.join(inp, "days.tsv"), "w") as f:
            f.writelines(f"{d}\t{n}\t{'warmup' if i < RETAIL_WARMUP_DAYS else 'new'}\n"
                         for i, (d, n) in enumerate(days))
    elif a.workload == "warehouse_queries":
        inp = warehouse_tables(classes, jars, cpus)
    else:
        gen.write_documents(os.path.join(inp, "documents.parquet"), a.seed % CORPORA)

    out = os.path.join(run, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inp, "--work", work,
            "--cpus", str(cpus), "--out", out]
    steal0 = steal_s()
    # A hung JVM is killed in time for the run to end within 180 s.
    code = java(classes, jars, "perfbench.PerfBench", args, os.path.join(work, "tmp"),
                max(60, 165 - (time.time() - started)))
    steal = steal_s() - steal0
    if code != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed (exit {code})")
        return crashed(a.workload, cpus, os.path.join(run, "ops.jsonl")), run, inp, work, steal
    with open(out) as f:
        return json.load(f), run, inp, work, steal


def crashed(workload, cpus, progress):
    """The record of a JVM that died or hung: the ops it finished, as its
    progress file lists them, and a failed op for the one in flight. It
    has no timings, so the run's metrics read 0."""
    ops = []
    if os.path.exists(progress):
        with open(progress) as f:
            ops = [json.loads(line) for line in f if line.strip()]
    ops.append({"kind": "crash", "ok": False})
    for o in ops:
        o.update(name="", start=0.0, end=0.0, items=0)
    return {"workload": workload, "cpus": cpus, "phases": [], "ops": ops, "spans": [],
            "crashed": True}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        die("no engine sources (src/main/scala) in this checkout")
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import checks
    import gen

    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die(f"no Spark jars in {jars}")
    cpus = len(os.sched_getaffinity(0))
    classes = build(jars)

    rec, run, inp, work, steal = measure(a, classes, jars, cpus, started, gen)
    bad = set() if rec.get("crashed") else check(a.workload, rec, inp, work, checks)

    for o in rec["ops"]:
        if o["ok"] and o["name"] in bad:
            o["ok"], o["error"] = False, "output check failed"
    timed = [o for o in rec["ops"]
             if o["ok"] and o["kind"] != "warmup" and not rec.get("crashed")]
    failed = sum(not o["ok"] for o in rec["ops"])

    e2e, named = end_to_end(rec, timed)
    named["ops_failed_ratio"] = failed / len(rec["ops"])
    named["host_steal_s"] = steal
    metrics = per_layer(rec, timed) if a.trace else e2e
    untraced = os.path.join(BUILD, "records", f"{a.workload}-seed{a.seed}.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as f:
            named["tracing_overhead_s"] = (metrics["trace.op_p50_s"][0]
                                           - json.load(f)["end_to_end"]["op_p50_s"])
    log("named: " + json.dumps({k: round(v, 6) if isinstance(v, float) else v
                                for k, v in named.items()}))

    keep = os.path.join(BUILD, "traces" if a.trace else "records")
    os.makedirs(keep, exist_ok=True)
    rec["named"] = named
    rec["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    with open(os.path.join(keep, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(rec, f)
    shutil.rmtree(run, ignore_errors=True)

    correct = not bad and failed == 0 and not rec.get("crashed")
    print(json.dumps({
        "correct": correct, "attempted": len(rec["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
