#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark's JVM side with sbt (offline) and caches the classpath under
`.bench_build/`; later runs rebuild only when a source file changed.
Each run starts one fresh JVM (Spark `local[n]`, n = CPU count) with its
own temp root, times the workload, checks every output, and prints one
JSON line last: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
traced JVM reports the per-layer ones, and an untraced JVM of the same
seed gives the tracing overhead. See NOTES.md for the definitions.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile
from pathlib import Path

import metrics as M

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
BUILD = REPO / ".bench_build" / "perfbench"
JVM_HEAP = "3g"
# C1 only: a benchmark JVM lives under a minute, and in that time C2 never
# finishes compiling Spark. Over a pipeline_upsert run its threads used
# 70-80 CPU-s, over two of the four cores for the whole run, so timed work
# slowed or sped up with how much CPU other load left to the compiler.
# With C1 alone compiling takes about 15 CPU-s (see NOTES.md). C1 alone
# would also shrink the code cache to 48 MB, which Spark's generated code
# fills within a minute; from then on upsert batches took up to twice as
# long while the cache was swept and code recompiled. 240 MB is the size
# the JVM gives C2.
JVM_FLAGS = [f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
# a run's JVMs must all end this long after it starts: the whole run,
# traced and untraced JVM together, must end within 180 s
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*parts):
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def sources():
    roots = [REPO / "build.sbt", REPO / "project" / "build.properties",
             REPO / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties", BENCH / "src",
             # the class-data archive is recorded over the workloads' entries
             BENCH / "workloads.json"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def build():
    """Compile graft and the benchmark; return the runtime classpath and
    the JVM class-data archive.

    Class directories are packed into jars, and one JVM run over the
    workloads' warm-ups and first entries on the small tables dumps the
    classes it loaded into an archive that every benchmark JVM maps at
    start. That cuts each run's fixed start-up cost without touching
    what graft computes. A build that cannot record the archive fails,
    and every run maps it with `-Xshare:on`, so a run the JVM would start
    without it fails instead: set-up always times the same path.
    """
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: graft's sources (build.sbt, src/main/scala/graft) "
                 "are not in the parent directory of perfbench/")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    # the class-data archive is recorded under these flags
    h.update(" ".join(JVM_FLAGS).encode())
    stamp = h.hexdigest()
    cp_file, stamp_file, jsa = BUILD / "classpath.txt", BUILD / "stamp", BUILD / "classes.jsa"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), jsa
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft and the benchmark with sbt")
    build_log = BUILD / "sbt.log"
    with open(build_log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = build_log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l and ":" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    jars = []
    for i, part in enumerate(cps[-1].split(":")):
        if os.path.isdir(part):
            jar = BUILD / f"classes{i}.jar"
            with zipfile.ZipFile(jar, "w") as z:
                for f in sorted(Path(part).rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(part).as_posix())
            part = str(jar)
        jars.append(part)
    cp = ":".join(jars)
    log("recording the JVM class-data archive")
    spec = json.loads((BENCH / "workloads.json").read_text())
    # the warm-ups and a few entries of each workload load nearly every
    # class the runs use; running all entries would double the build time
    names = [n for w in spec.values() for n in w["warmup"] + w.get("entries", [])[:4]]
    plan = {"workload": "archive", "warm_data": BENCH / "data" / "sf0.001",
            "data": BENCH / "data" / "sf0.001", "warmup": ",".join(dict.fromkeys(names))}
    try:
        run_jvm(cp, plan, BUILD / "archive", time.time() + 600,
                [f"-XX:ArchiveClassesAtExit={jsa}"])
    except RuntimeError as e:
        sys.exit(f"perfbench: recording the class-data archive failed: {e}")
    shutil.rmtree(BUILD / "archive", ignore_errors=True)
    if not jsa.is_file():
        sys.exit("perfbench: the JVM wrote no class-data archive")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, jsa


def archive_opts(jsa):
    return [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"]


def graft_tmp_dirs():
    tmp = tempfile.gettempdir()
    return {n for n in os.listdir(tmp) if n.startswith("graft_")}


def run_jvm(cp, plan, run_dir, deadline, jvm_opts=()):
    """One fresh JVM over `plan`; returns (records, launch time in ms)."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    plan = dict(plan, records=str(run_dir / "records.jsonl"))
    plan_file = run_dir / "plan.txt"
    plan_file.write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", *jvm_opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", str(plan_file)]
    launched = time.time() * 1000
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    records = []
    rec_file = run_dir / "records.jsonl"
    if rec_file.is_file():
        records = [json.loads(l) for l in rec_file.read_text().splitlines() if l.strip()]
    if rc != 0 or not any(r["kind"] == "end" for r in records):
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise RuntimeError(f"benchmark JVM ended with {rc}")
    return records, launched


def plan_for(workload, seed, trace):
    spec = json.loads((BENCH / "workloads.json").read_text())[workload]
    data = BENCH / "data"
    plan = {"workload": workload, "seed": seed,
            "trace": trace, "cpus": len(os.sched_getaffinity(0)),
            "data": data / "sf0.01", "warm_data": data / "sf0.001",
            "warmup": ",".join(spec.get("warmup", []))}
    if workload == "pipeline_upsert":
        plan.update({k: v for k, v in spec["pipeline"].items()})
        return plan
    # the seed shuffles the entries; the lead-in always runs first, before
    # the state builds, so it absorbs the JIT's warm-up identically in
    # every run. Each entry runs once per process.
    entries = list(spec["entries"])
    random.Random(seed).shuffle(entries)
    M.check_plan(spec["builds"], spec["lead_in"] + entries)
    plan.update(lead_in=",".join(spec["lead_in"]), builds=",".join(spec["builds"]),
                entries=",".join(entries))
    return plan


def run_once(build_out, workload, seed, trace, deadline):
    cp, jsa = build_out
    run_dir = REPO / ".bench_build" / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    plan = plan_for(workload, seed, trace)
    if workload == "pipeline_upsert":
        plan["table"] = run_dir / "tmp" / "upsert_table"
    before = graft_tmp_dirs()
    try:
        records, launched = run_jvm(cp, plan, run_dir, deadline, archive_opts(jsa))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    leaked = sorted(graft_tmp_dirs() - before)
    return records, launched, leaked


# ---------------------------------------------------------------- checks

def entry_checks(records):
    """(attempted, failed, notes) for an entry workload's outputs."""
    expected = json.loads((BENCH / "fingerprints.json").read_text())
    attempted, failed, notes = 0, 0, []
    for r in records:
        if r["kind"] == "build":
            attempted += 1
            if r["error"]:
                failed += 1
                notes.append(f"{r['name']}: {r['error']}")
        elif r["kind"] == "entry":
            attempted += 1
            want = expected.get(r["name"])
            got = {"rows": r["rows"], "hash": r["hash"]}
            if r["error"]:
                bad = r["error"]
            elif want is None:
                bad = "no recorded fingerprint"
            elif want["rows"] != got["rows"] or ("hash" in want and want["hash"] != got["hash"]):
                bad = f"fingerprint {got} != recorded {want}"
            else:
                bad = None
            if bad:
                failed += 1
                notes.append(f"{r['name']}: {bad}")
    return attempted, failed, notes


def pipeline_checks(records, plan):
    """(attempted, failed, notes) for `pipeline_upsert`: every planned
    batch must commit, and every planned read must match the fold."""
    batches = int(plan["open_batches"]) + int(plan["saturated_batches"])
    reads = int(plan["scans"]) + 2  # the scans, the versionAsOf read, the head
    committed = sum(1 for r in records if r["kind"] == "batch")
    checks = [r for r in records if r["kind"] in ("scan", "version_check", "head_check")]
    bad = [c for c in checks if not c["ok"]]
    failed = (batches - committed) + (reads - len(checks)) + len(bad)
    notes = [r["error_text"] for r in records if r["kind"] == "pipeline" and r["errors"]]
    notes += [f"{c['kind']} {c.get('index', '')}: {c['rows']} rows, expected "
              f"{c['expected_rows']}" for c in bad]
    return batches + reads, failed, notes


# --------------------------------------------------------------- metrics

OP_KINDS = ("entry", "batch", "scan", "version_check", "head_check")

def ops(records):
    """The timed operations as (name, start, end): entries, or the
    pipeline's upserts and reads."""
    return [(r.get("name", r["kind"]), r["start"], r["end"])
            for r in records if r["kind"] in OP_KINDS]


def first_timed(records):
    return min(r["start"] for r in records if r["kind"] in ("build", "entry"))


def end_to_end(records, launched):
    walls = [(e - s) / 1000 for _, s, e in ops(records)]
    end = next(r for r in records if r["kind"] == "end")
    return {
        "wall_s": (sum(walls), "s"),
        "cpu_s": (sum(r["cpu_ms"] for r in records if r["kind"] in OP_KINDS) / 1000, "s"),
        # launch to the first timed call, plus any warm-up after it
        "setup_s": ((first_timed(records) - launched + sum(
            r["end"] - r["start"] for r in records if r["kind"] == "warmup")) / 1000, "s"),
        "state_build_s": (sum(r["end"] - r["start"] for r in records
                              if r["kind"] == "build") / 1000, "s"),
        "peak_live_heap_mb": (end["peak_live_heap_bytes"] / 2**20, "MB"),
    }


def per_layer(records, untraced_wall_s, loadavg_start, failed_frac):
    windows = [(s, e) for _, s, e in ops(records)]
    op_ms = [e - s for s, e in windows]
    # with ten operations or fewer no percentile has ten beyond it: the max
    entry_tail = M.tail(op_ms) or (max(op_ms), 100, len(op_ms))
    end = next(r for r in records if r["kind"] == "end")

    # listener records belong to the operation that was running when the
    # bus delivered them; the bus is drained before the next one starts
    timed = {r["op"] for r in records if r["kind"] in OP_KINDS}

    def of(kind, ops=timed):
        return [r for r in records if r["kind"] == kind and r["op"] in ops]

    jobs, stages, phases, progress = of("job"), of("stage"), of("phases"), of("progress")
    entries = [r for r in records if r["kind"] == "entry"]
    batches = [r for r in records if r["kind"] == "batch"]
    scans = [r for r in records if r["kind"] == "scan"]
    pipes = [r for r in records if r["kind"] == "pipeline"]
    collects = [r for r in records if r["kind"] == "collect"]
    table = next((r for r in records if r["kind"] == "table"), None)
    job_iv = [(j["start"], j["end"]) for j in jobs]
    wall_ms = sum(e - s for s, e in windows)
    in_jobs_ms = sum(M.union_ms(job_iv, s, e) for s, e in windows)

    def stage_sum(key, ops=timed):
        return sum(st[key] for st in stages if st["op"] in ops)

    skews = [st["task_max_ms"] / st["task_median_ms"] for st in stages
             if st["tasks"] > 1 and st["task_median_ms"] > 0]

    # streams: the entry's construct span holds the whole drain
    stream_startup = 0.0
    for e in entries:
        if e["name"].startswith("stream_"):
            trig = sum(p["trigger_ms"] for p in progress if p["op"] == e["op"])
            stream_startup += (e["constructed"] - e["start"]) - trig
    last_progress = {}
    for p in progress:
        last_progress[p["id"]] = p

    latency, lags = M.open_loop([dict(b, handed_over=b["collected"])
                                 for b in batches if b["phase"] == 1])
    sat = [b for b in batches if b["phase"] == 2]
    sat_s = ((max(b["end"] for b in sat) - min(b["collected"] for b in sat)) / 1000) if sat else 0
    batch_spans = [(b["start"], b["end"]) for b in batches]
    scan_spans = [(s["start"], s["end"]) for s in scans]
    shard_spans = batch_spans + scan_spans
    batch_ops, scan_ops = {b["op"] for b in batches}, {s["op"] for s in scans}

    def p50(xs):
        return statistics.median(xs) if xs else 0.0

    def tail_or_max(xs):
        t = M.tail(xs)
        return t[0] if t else (max(xs) if xs else 0.0)

    m = {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stages), "count"),
        "spark.tasks": (stage_sum("tasks"), "count"),
        "spark.between_jobs_ms": (wall_ms - in_jobs_ms, "ms"),
        "spark.self_ms": (in_jobs_ms, "ms"),
        "spark.executor_run_ms": (stage_sum("run_ms"), "ms"),
        "spark.executor_cpu_ms": (stage_sum("cpu_ns") / 1e6, "ms"),
        "spark.gc_ms": (stage_sum("gc_ms"), "ms"),
        "spark.shuffle_read_bytes": (stage_sum("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (stage_sum("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (stage_sum("spill_bytes"), "bytes"),
        "spark.task_skew": (max(skews) if skews else 1.0, "ratio"),
        "plans.analysis_ms": (sum(p["analysis_ms"] for p in phases), "ms"),
        "plans.optimization_ms": (sum(p["optimization_ms"] for p in phases), "ms"),
        "plans.planning_ms": (sum(p["planning_ms"] for p in phases), "ms"),
        "sources.input_bytes": (stage_sum("input_bytes"), "bytes"),
        "sources.input_rows": (stage_sum("input_rows"), "count"),
        "operators.construct_jobs": (sum(1 for e in entries for j in jobs
                                          if j["op"] == e["op"] and j["start"] <= e["constructed"]), "count"),
        "operators.construct_ms": (sum(e["constructed"] - e["start"] for e in entries), "ms"),
        "operators.materialize_ms": (sum(e["end"] - e["constructed"] for e in entries), "ms"),
        "operators.self_ms": (sum(M.self_ms((e["start"], e["end"]), job_iv) for e in entries), "ms"),
        "streaming.queries": (len(last_progress), "count"),
        "streaming.triggers": (len(progress), "count"),
        "streaming.input_rows": (sum(p["input_rows"] for p in progress), "count"),
        "streaming.trigger_ms": (sum(p["trigger_ms"] for p in progress), "ms"),
        "streaming.add_batch_ms": (sum(p["add_batch_ms"] for p in progress), "ms"),
        "streaming.query_planning_ms": (sum(p["query_planning_ms"] for p in progress), "ms"),
        "streaming.offset_ms": (sum(p["offset_ms"] for p in progress), "ms"),
        "streaming.commit_ms": (sum(p["commit_ms"] for p in progress), "ms"),
        "streaming.startup_ms": (stream_startup, "ms"),
        "streaming.state_rows": (sum(p["state_rows"] for p in last_progress.values()), "count"),
        "streaming.state_memory_bytes": (sum(p["state_memory_bytes"] for p in last_progress.values()), "bytes"),
        "pipeline.batches": (sum(p["batches"] for p in pipes), "count"),
        "pipeline.items": (sum(p["items"] for p in pipes), "count"),
        "pipeline.collect_ms": (sum(c["gen_ms"] for c in collects), "ms"),
        "pipeline.queue_wait_ms": (sum(b["start"] - b["collected"] for b in batches), "ms"),
        "pipeline.process_ms": (sum(p["processing_s"] for p in pipes) * 1000, "ms"),
        "pipeline.idle_ratio": (next((p["idle_ratio"] for p in pipes if p["phase"] == 1), 0.0), "ratio"),
        "pipeline.self_ms": (sum(p["total_s"] - p["processing_s"] for p in pipes) * 1000, "ms"),
        "pipeline.batch_latency_p50_s": (p50(latency) / 1000, "s"),
        "pipeline.batch_latency_tail_s": (tail_or_max(latency) / 1000, "s"),
        "pipeline.ingest_rows_per_s": ((sum(b["rows"] for b in sat) / sat_s) if sat_s else 0.0, "rows/s"),
        "shard.upsert_ms": (sum(e - s for s, e in batch_spans), "ms"),
        "shard.upsert_jobs": (len(of("job", batch_ops)), "count"),
        "shard.files_rewritten": (sum(b["files_rewritten"] for b in batches), "count"),
        "shard.bytes_written": (sum(b["bytes_written"] for b in batches), "bytes"),
        "shard.files_total": (table["files_total"] if table else 0, "count"),
        "shard.table_bytes": (table["dir_bytes"] if table else 0, "bytes"),
        "shard.scan_ms": (sum(e - s for s, e in scan_spans), "ms"),
        "shard.scan_p50_s": (p50([e - s for s, e in scan_spans]) / 1000, "s"),
        "shard.scan_input_bytes": (stage_sum("input_bytes", scan_ops), "bytes"),
        "shard.bytes_stored_per_input_byte": ((table["dir_bytes"] / table["raw_bytes"]) if table else 0.0, "ratio"),
        "shard.self_ms": (sum(M.self_ms(sp, job_iv) for sp in shard_spans), "ms"),
        "bench.generator_lag_tail_ms": (tail_or_max(lags), "ms"),
        "bench.trace_overhead_frac": (sum(e - s for s, e in windows) / 1000 / untraced_wall_s - 1, "ratio"),
        "bench.loadavg_start": (loadavg_start, "load"),
        "bench.failed_frac": (failed_frac, "ratio"),
        "bench.entry_p50_s": (statistics.median(op_ms) / 1000, "s"),
        "bench.entry_tail_s": (entry_tail[0] / 1000, "s"),
        "bench.peak_rss_mb": (end["rss_hwm_kb"] / 1024, "MB"),
    }
    print(f"bench.entry_tail_s is p{entry_tail[1]} of {entry_tail[2]} operations", flush=True)
    return m


def write_trace(records, workload, seed, trace):
    """Per-operation and state-build timings in run order, with the
    construct/materialize split of each entry and, from the traced run,
    the job count and between-job time of each operation, for reading
    beside the metrics."""
    rows = []
    for r in records:
        if r["kind"] not in OP_KINDS + ("build",):
            continue
        row = {"name": r.get("name", r["kind"]), "wall_ms": r["end"] - r["start"]}
        if r["kind"] == "entry":
            row.update(construct_ms=r["constructed"] - r["start"],
                       materialize_ms=r["end"] - r["constructed"])
        if trace:
            mine = [(j["start"], j["end"]) for j in records
                    if j["kind"] == "job" and j["op"] == r["op"]]
            row.update(jobs=len(mine), between_jobs_ms=M.self_ms((r["start"], r["end"]), mine))
        rows.append(row)
    out = REPO / ".bench_build" / "traces" / f"{workload}-seed{seed}-trace{trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(rows, indent=1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in json.loads((BENCH / "workloads.json").read_text()):
        sys.exit(f"perfbench: unknown workload {a.workload}")
    built = build()
    deadline = time.time() + JVM_TIMEOUT_S
    loadavg = os.getloadavg()[0]
    checks = (lambda recs: pipeline_checks(recs, plan_for(a.workload, a.seed, 0))) \
        if a.workload == "pipeline_upsert" else entry_checks

    runs = []
    attempted = failed = 0
    for trace in ([1, 0] if a.trace else [0]):
        records, launched, leaked = run_once(built, a.workload, a.seed, trace, deadline)
        runs.append((records, launched))
        at, fa, notes = checks(records)
        if leaked:
            # a graft temp dir outside the run's own root fails the run
            fa += 1
            notes.append("graft temp dirs leaked outside the run's temp root: " + " ".join(leaked))
        attempted, failed = attempted + at, failed + fa
        for n in notes:
            log("check failed:", n)
    if a.trace:
        records = runs[0][0]
        untraced = sum(e - s for _, s, e in ops(runs[1][0])) / 1000
        out = per_layer(records, untraced, loadavg, failed / attempted)
    else:
        out = end_to_end(*runs[0])
    write_trace(runs[0][0], a.workload, a.seed, a.trace)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
