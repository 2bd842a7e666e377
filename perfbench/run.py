#!/usr/bin/env python3
"""Oracle-checked benchmark of spark-graft's streaming ingest and
landed-artifact lifecycle rows.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 24 --trace 0

Run from the repository root. It builds the engine and the harness from
source (skipped when nothing changed), generates the input tables from the
seed, runs one JVM, checks every row's output against its DuckDB oracle SQL
and every file-fed stream for exactly-once ingest, and prints one JSON
object as the last line of stdout. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
from stats import beyond, geomean, median, percentile, union_length  # noqa: E402

# Each workload's rows; README.md gives the reason for each row.
WORKLOADS = {
    "ingest": ["q105_incremental_mixture", "q177_stream_dedup"],
    "lifecycle": ["q157_compacted_quantiles", "q222_retention_vacuum"],
}
WARMUPS = 2          # passes before timing; the first is the correctness dump
DEADLINE_S = 170     # a run must end within 180 s
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
HARNESS = os.path.join(HERE, "harness")
CLASSES = [os.path.join(HARNESS, "target", "scala-2.13", "classes"),
           os.path.join(ROOT, "target", "scala-2.13", "classes")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.isdir(c) for c in CLASSES)):
        return False
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {BUILD_DIR}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


# ------------------------------------------------------------------ run

def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars():
    """The Spark jar dir the engine's build compiles against, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    base = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(base):
        fail(f"no Spark jars at {base!r}")
    return os.path.join(base, "*")


def run_jvm(work, data, out, args, deadline):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.sql.icu.caseMappings.enabled=false",
           "-Dspark.sql.legacy.parquet.nanosAsLong=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(CLASSES + [spark_jars()]), "perfbench.Main",
            data, out, str(args.seconds), str(args.seed), str(args.trace), str(WARMUPS)]
    cmd += WORKLOADS[args.workload]
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", str(cpus())),
               SPARK_LOCAL_DIRS=local)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded the run deadline; see {out}/jvm.log")
    if rc != 0:
        fail(f"JVM exited {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f)


def oracle(out, data, deadline):
    """Each row's dumped result against its DuckDB oracle SQL."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                          os.path.join(out, "verify"), data], capture_output=True,
                         text=True, stdin=subprocess.DEVNULL,
                         timeout=max(5, deadline - time.time()))
    with open(os.path.join(out, "oracle.log"), "w") as f:
        f.write(res.stdout + res.stderr)
    return set(re.findall(r"^OK\s+(\S+)", res.stdout, re.M))


# ------------------------------------------------------------------ metrics

def in_pass(t, passes):
    for i, p in enumerate(passes):
        if p["start"] <= t <= p["end"]:
            return i
    return None


def row_of(t, runs):
    for r in runs:
        if r["start"] <= t <= r["end"]:
            return r["row"]
    return None


def work_cpu_ms(x):
    """Process CPU of a pass or row, less the JIT compiler threads' CPU."""
    return x["cpu_ms"] - x["jit_cpu_ms"]


def microbatches(raw, passes):
    return [b for b in raw["batches"] if b["executed"] and in_pass(b["ts"], passes) is not None]


def end_to_end(raw):
    passes = raw["passes"]
    per_row = {}
    for r in raw["row_runs"]:
        per_row.setdefault(r["row"], []).append(work_cpu_ms(r))
    m = {
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "pass_cpu_s": (median([work_cpu_ms(p) for p in passes]) / 1000, "s"),
        "row_cpu_geomean_ms": (geomean(median(v) for v in per_row.values()), "ms"),
    }
    trig = [b["durations"]["triggerExecution"] for b in microbatches(raw, passes)]
    log(f"{len(passes)} timed passes, {len(trig)} micro-batches "
        f"(p90 {percentile(trig, 90)} ms, {beyond(trig, 90)} samples beyond it)")
    return m


def per_layer(raw):
    passes = raw["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    tp = raw["traced_passes"]
    n = len(tp)

    def avg(f):
        return sum(f(x) for x in tp) / n

    def avg_passes(f):
        return sum(f(p) for p in traced) / len(traced)

    tr_runs = [r for r in raw["row_runs"] if passes[r["pass"]]["traced"]]
    tb = microbatches(raw, traced)
    # wall-clock figures come from the untraced passes
    plain_runs = {}
    for r in raw["row_runs"]:
        if not passes[r["pass"]]["traced"]:
            plain_runs.setdefault(r["row"], []).append(r["end"] - r["start"])
    pb = microbatches(raw, plain)
    trig = [b["durations"]["triggerExecution"] for b in pb]

    def dsum(key):
        return sum(b["durations"].get(key, 0) for b in tb) / n

    def ssum(key):
        return sum(s[key] for b in tb for s in b["state"]) / n

    last = {}
    for b in sorted(tb, key=lambda b: (b["run_id"], b["batch"])):
        last[b["run_id"]] = b
    setup = raw["setup"]
    tmp = [p["tmp_mb"] for p in passes]
    m = {
        "wall.pass_s": (median([(p["end"] - p["start"]) / 1000 for p in plain]), "s"),
        "wall.row_geomean_ms": (geomean(median(v) for v in plain_runs.values()), "ms"),
        "wall.microbatch_p50_ms": (median(trig), "ms"),
        "wall.ingest_rows_per_s": (1000 * sum(b["input_rows"] for b in pb) / sum(trig), "rows/s"),
        "setup.session_ms": (setup["session_ms"], "ms"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "setup.jit_ms": (setup["jit_ms"], "ms"),
        "tables.load_cold_ms": (raw["tables"]["load_cold_ms"], "ms"),
        "tables.load_cached_ms": (raw["tables"]["load_cached_ms"], "ms"),
        "scan.files": (avg(lambda x: x["scan_files"]), "count"),
        "scan.mb": (avg(lambda x: x["scan_mb"]), "MB"),
        "scan.rows": (avg(lambda x: x["scan_rows"]), "count"),
        "scan.ms": (avg(lambda x: x["scan_ms"]), "ms"),
        "plan.actions": (avg(lambda x: x["actions"]), "count"),
        "plan.ms": (avg(lambda x: x["plan_ms"]), "ms"),
        "queries.call_ms": (sum(r["call_ms"] for r in tr_runs) / n, "ms"),
        "queries.result_ms": (sum(r["result_ms"] for r in tr_runs) / n, "ms"),
        "sched.jobs": (avg(lambda x: len(x["jobs"])), "count"),
        "sched.stages": (avg(lambda x: x["stages"]), "count"),
        "sched.stages_skipped": (avg(lambda x: x["job_stages"] - x["stages"]), "count"),
        "sched.tasks": (avg(lambda x: x["tasks"]), "count"),
        "sched.task_run_ms": (avg(lambda x: x["task_run_ms"]), "ms"),
        "sched.task_cpu_ms": (avg(lambda x: x["task_cpu_ms"]), "ms"),
        "sched.driver_only_ms": (avg(lambda x: (x["end"] - x["start"])
                                     - union_length(x["jobs"])), "ms"),
        "shuffle.write_mb": (avg(lambda x: x["shuffle_write_mb"]), "MB"),
        "shuffle.read_mb": (avg(lambda x: x["shuffle_read_mb"]), "MB"),
        "shuffle.records": (avg(lambda x: x["shuffle_records"]), "count"),
        "shuffle.skew": (max(x["skew"] for x in tp), "ratio"),
        "collect.result_mb": (avg(lambda x: x["collect_mb"]), "MB"),
        "stream.queries": (len({b["run_id"] for b in tb}) / n, "count"),
        "stream.batches": (len(tb) / n, "count"),
        "stream.nodata_batches": (sum(1 for b in tb if b["input_rows"] == 0) / max(1, len(tb)),
                                  "ratio"),
        "stream.input_rows": (sum(b["input_rows"] for b in tb) / n, "count"),
        "stream.plan_ms": (dsum("queryPlanning"), "ms"),
        "stream.getbatch_ms": (dsum("getBatch"), "ms"),
        "stream.addbatch_ms": (dsum("addBatch"), "ms"),
        "stream.wal_ms": (dsum("walCommit") + dsum("commitOffsets"), "ms"),
        "state.commit_ms": (ssum("commit_ms"), "ms"),
        "state.update_ms": (ssum("update_ms"), "ms"),
        "state.remove_ms": (ssum("remove_ms"), "ms"),
        "state.rows": (sum(s["rows"] for b in last.values() for s in b["state"]) / n, "count"),
        "state.mem_mb": (sum(s["mem_bytes"] for b in last.values() for s in b["state"])
                         / n / 1e6, "MB"),
        "fs.creates": (avg_passes(lambda p: p["fs"]["creates"]), "count"),
        "fs.renames": (avg_passes(lambda p: p["fs"]["renames"]), "count"),
        "fs.deletes": (avg_passes(lambda p: p["fs"]["deletes"]), "count"),
        "fs.lists": (avg_passes(lambda p: p["fs"]["lists"]), "count"),
        "fs.opens": (avg_passes(lambda p: p["fs"]["opens"]), "count"),
        "landed.files": (avg_passes(lambda p: p["landed"]["files"]), "count"),
        "landed.mb": (avg_passes(lambda p: p["landed"]["mb"]), "MB"),
        "scratch.retained_mb": ((tmp[-1] - tmp[0]) / max(1, len(tmp) - 1), "MB"),
        "read.geomean_ms": (geomean(median(v) for v in raw["reads"].values()), "ms"),
        "jvm.heap_live_mb": (raw["heap_live_mb"], "MB"),
        "jvm.gc_ms": (sum(p["gc_ms"] for p in passes) / len(passes), "ms"),
        "jvm.jit_ms": (sum(p["jit_ms"] for p in passes) / len(passes), "ms"),
        "jvm.jit_cpu_ms": (sum(p["jit_cpu_ms"] for p in passes) / len(passes), "ms"),
        "codegen.compiles": (sum(p["codegens"] for p in passes) / len(passes), "count"),
        "trace.overhead_ms": (median([p["end"] - p["start"] for p in traced])
                              - median([p["end"] - p["start"] for p in plain]), "ms"),
    }
    return m


def spans(raw):
    """Row -> call/result -> action -> job spans and micro-batches under
    their row, for the traced passes; the parent is the innermost span
    that contains the child's start."""
    passes = raw["passes"]
    out = []
    for r in raw["row_runs"]:
        if not passes[r["pass"]]["traced"]:
            continue
        call_end = r["start"] + r["call_ms"]
        out += [("row", r["row"], r["start"], r["end"]),
                ("call", r["row"], r["start"], call_end),
                ("result", r["row"], call_end, r["end"])]
    for tp in raw["traced_passes"]:
        out += [("action", "", s, e) for s, e in tp["action_spans"]]
        out += [("job", "", s, e) for s, e in tp["jobs"]]
    traced = [p for p in passes if p["traced"]]
    for b in raw["batches"]:
        if b["executed"] and in_pass(b["ts"], traced) is not None:
            out.append(("microbatch", b["id"], b["ts"], b["ts"] + b["durations"]["triggerExecution"]))
    depth = {"row": 0, "call": 1, "result": 1, "microbatch": 2, "action": 3, "job": 4}
    out.sort(key=lambda s: (s[2], depth[s[0]]))
    res = []
    for i, (kind, name, s, e) in enumerate(out):
        parent = None
        for j in range(i - 1, -1, -1):
            pk, _, ps, pe = out[j]
            if depth[pk] < depth[kind] and ps <= s <= pe:
                parent = j
                break
        res.append({"id": i, "kind": kind, "name": name, "start": s, "end": e, "parent": parent})
    return res


def checks(raw, oracle_ok):
    """Rows that failed a check, each with its reasons."""
    bad = {}
    for row, err in raw["verify_failures"].items():
        bad.setdefault(row, []).append(f"verify dump threw: {err}")
    for r in raw["row_runs"]:
        if r["error"]:
            bad.setdefault(r["row"], []).append(f"pass {r['pass']} threw: {r['error']}")
    for row in raw["rows"]:
        if row not in oracle_ok and row not in raw["verify_failures"]:
            bad.setdefault(row, []).append("output differs from its DuckDB oracle")
    starts = sorted((v["start"], v["row"]) for v in raw["verify_starts"])
    spans_ = [dict(row=row, start=s, end=(starts[i + 1][0] if i + 1 < len(starts)
                                          else raw["verify_end"]))
              for i, (s, row) in enumerate(starts)] + raw["row_runs"]
    by_query = {b["id"]: b["ts"] for b in raw["batches"]}
    for f in raw["feeds"]:
        row = row_of(by_query.get(f["id"], 0), spans_) or "?"
        if f["unchecked"]:
            bad.setdefault(row, []).append(f"{f['path']}: {f['unchecked']}")
        elif f["ingested"] != f["feed_rows"]:
            bad.setdefault(row, []).append(
                f"{f['path']}: ingested {f['ingested']} rows of {f['feed_rows']}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    # the first run in a checkout also builds; the deadline counts from its end
    deadline = (time.time() if build() else start) + DEADLINE_S

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(OUT_DIR, name)
    work = os.path.join(BUILD_DIR, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    data = os.path.join(work, "data")
    try:
        gen_data.write(data, args.seed)
        raw = run_jvm(work, data, out, args, deadline)
        oracle_ok = oracle(out, data, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = checks(raw, oracle_ok)
    for row, why in bad.items():
        log(f"FAILED {row}: {'; '.join(why)}")
    executions = {}
    for r in raw["row_runs"]:
        executions[r["row"]] = executions.get(r["row"], 1) + 1  # +1: the verify dump
    attempted = sum(executions.values())
    failed = sum(executions[r] for r in bad if r in executions)
    metrics = per_layer(raw) if args.trace else end_to_end(raw)
    if args.trace:
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump(spans(raw), f)
    for k, (v, u) in metrics.items():
        log(f"{k:24s} {v:14.4f} {u}")
    log(f"run took {time.time() - start:.1f} s")
    # a feed check that no row's interval claims (the second warm-up pass)
    # cannot be counted as a failed operation, so it fails the run
    correct = "?" not in bad and all(r in oracle_ok for r in raw["rows"] if r not in bad)
    print(json.dumps({"correct": correct,
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
