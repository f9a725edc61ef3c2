#!/usr/bin/env python3
"""Benchmark of the extract engine: nightly cron, corpus index and stream
replay.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness in `perfbench/` with sbt (once per
source state, into `.bench_build/`), runs workload W for S seconds in one
JVM (closed loop, one caller, local[nproc]), checks its outputs against
DuckDB and NumPy, prints every metric by name with its unit, and ends
with one JSON line. `--trace 1` reports the per-layer metrics instead of
the end-to-end ones and writes the span file and a per-op layer
breakdown to `.bench_build/trace/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np

WORKLOADS = ["cron_daily", "corpus_index", "stream_replay"]
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CDS = BUILD / "classes.jsa"
JVM_TIMEOUT_S = 165
# a traced op's layer spans must cover its wall time to within this share
TRACE_TOLERANCE = 0.05
# quality floors. IVF-PQ + re-rank against exact top-10: on the fixture's
# unclustered unit vectors the program reaches 0.38-0.40, so this guards
# against a drop, not an absolute standard. MinHash-LSH against the
# planted near-duplicates (word-3-gram Jaccard >= 8/9, caught with
# probability >= 0.98)
RECALL_FLOOR = 0.33
PLANTED_FLOOR = 0.9
# the op each workload's latency metrics describe: a day, a probe batch,
# a stream lifecycle (not the corpus passes before the probes, or the
# closing sentinel lifecycle)
LATENCY_KINDS = {"day", "probe", "lifecycle"}

ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src",
             ROOT / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    submit = shutil.which("spark-submit")
    spark_home = os.environ.get("SPARK_HOME") or (submit and str(Path(submit).resolve().parents[1]))
    if not (ROOT / "src" / "main" / "scala").is_dir() or shutil.which("sbt") is None or not spark_home:
        fail("needs the program sources under src/main/scala, sbt on PATH and a Spark distribution")
    stamp, cp_file, stamp_file = source_stamp(), BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={BUILD / 'sbt-global'}",
         f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".bench_build" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1]
    train_cds(cp)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def train_cds(cp):
    """Dump the classes a short cron_daily run loads into a class-data-
    sharing archive. Every run maps it, which takes JVM and Spark start-up
    from ~6 s to ~3 s on a 4-core box. The build fails without it, and a
    run whose JVM cannot map it fails (`-Xshare:on`), so every run starts
    the same way."""
    CDS.unlink(missing_ok=True)
    work = BUILD / "train"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = argparse.Namespace(workload="cron_daily", seed=0, seconds=1, trace=0)
    run_jvm(cp, args, work, len(os.sched_getaffinity(0)), None, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(work, ignore_errors=True)
    if not CDS.exists():
        fail("build failed: no class-data-sharing archive was written")


def steal_ticks():
    """(CPU time the hypervisor gave to other guests, all CPU time), in
    ticks since boot; zeros where /proc/stat is missing."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, work, cores, fail_op, jvm_opts=()):
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java")
    (work / "tmp").mkdir(parents=True)
    if not jvm_opts:
        jvm_opts = [f"-XX:SharedArchiveFile={CDS}", "-Xshare:on"]
    cmd = [java, *ADD_OPENS, *jvm_opts, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.awt.headless=true",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--cores", str(cores)]
    if fail_op is not None:
        cmd += ["--fail-op", str(fail_op)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(work / "jvm.log", "w") as out:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out; see {work / 'jvm.log'}")
    if p.returncode != 0 or not (work / "result.json").exists():
        log((work / "jvm.log").read_text()[-4000:])
        fail(f"workload failed (exit {p.returncode})")
    return json.loads((work / "result.json").read_text())


# ---------------------------------------------------------------- checks
# Each check recomputes the workload's result independently and returns
# a list of mismatch descriptions (empty = correct).

def db():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def diff(con, got, want):
    """Rows in one query's result and not in the other's (multiset)."""
    a = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    n = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    return a, b, n


def check_cron(res, con):
    o = res["outputs"]
    days = sorted({op["detail"] for op in res["ops"] if op["ok"]})
    if not days:
        return ["no day written"]
    errs = []
    for d in days:
        csv = f"{o['csv_dir']}/{o['prefix']}_{d}.csv/*.csv"
        con.execute(f"CREATE OR REPLACE TEMP TABLE c AS SELECT * FROM read_csv('{csv}', header=true)")
        ts = [r[0] for r in con.execute("SELECT ts FROM c").fetchall()]
        if ts != sorted(ts) or len(set(ts)) != len(ts):
            errs.append(f"{d}: rows not sorted by distinct ts")
        # the 2024 zone rule puts a January day at UTC [d 08:00, d+1 08:00),
        # written in local time (UTC-8)
        want = f"""SELECT date_trunc('second', ts) - INTERVAL 8 HOUR AS ts, event_type,
                 arg_max(value, ts) AS value FROM read_parquet('{o['events']}/*.parquet')
                 WHERE ts >= TIMESTAMP '{d} 08:00:00' AND ts < TIMESTAMP '{d} 08:00:00' + INTERVAL 1 DAY
                 GROUP BY 1, 2"""
        got = """SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, CAST(value AS DOUBLE) AS value
                 FROM (UNPIVOT c ON COLUMNS(* EXCLUDE ts) INTO NAME event_type VALUE value)"""
        a, b, n = diff(con, got, want)
        if a or b or n == 0:
            errs.append(f"{d}: {a} extra, {b} missing of {n} cells")
    return errs


def check_stream(res, con):
    o = res["outputs"]
    want = f"""SELECT date_trunc('second', ts) AS ts, event_type, arg_max(value, ts) AS value,
               count(*) AS n_points FROM read_parquet('{o['in']}/*.parquet')
               WHERE event_type <> '__sentinel' GROUP BY 1, 2"""
    got = f"""SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value, n_points
              FROM read_parquet('{o['sink']}/*/*.parquet', hive_partitioning=true)"""
    a, b, n = diff(con, got, want)
    return [f"stream sink: {a} extra, {b} missing of {n} windows"] if a or b or n == 0 else []


def corpus_quality(res, con):
    """(recall@k of the probes against exact top-k, planted-pair recall)."""
    o = res["outputs"]
    rows = con.execute(f"SELECT vec_id, embedding FROM read_parquet('{o['embeddings']}/*.parquet')").fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {v: i for i, v in enumerate(ids)}
    got = {}
    for q, nb in o["neighbors"]:
        got.setdefault(q, set()).add(nb)
    k, hit = o["k"], 0
    for q, nbs in got.items():
        sims = x @ x[pos[q]]
        sims[pos[q]] = -np.inf
        hit += len(nbs & set(ids[np.argsort(-sims, kind="stable")[:k]].tolist()))
    recall = hit / (k * len(got)) if got else 0.0
    pairs = {tuple(p) for p in o["pairs"]}
    planted = [tuple(sorted(p)) for p in o["planted"]]
    planted_recall = sum(p in pairs for p in planted) / len(planted) if planted else 0.0
    return recall, planted_recall


# --------------------------------------------------------------- metrics

def tail(walls):
    """Highest percentile with at least ten samples beyond it, as
    (seconds, percentile, samples beyond); None below eleven samples."""
    w, n = sorted(walls), len(walls)
    for p in range(99, -1, -1):
        idx = max(0, math.ceil(p * n / 100) - 1)
        if n - idx - 1 >= 10:
            return w[idx], p, n - idx - 1
    return None


def breakdown(res):
    """Per traced op: layer self times, engine counts, driver gap, the op
    wall time no layer span covers, and the jobs that started during the
    op but carry none of its spans (the listener only listens during
    traced ops, so every job it saw belongs to one)."""
    spans = {s["id"]: s for s in res["spans"]}
    kids, jobs_by_span = {}, {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    for j in res["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    ops = {o["id"]: o for o in res["ops"]}
    rows = []
    for root in (s for s in spans.values() if s["parent"] == -1):
        op = ops[root["op"]]
        layers, jobs, stack = {}, [], [root]
        while stack:
            s = stack.pop()
            ch = kids.get(s["id"], [])
            self_ms = (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in ch)
            layer = "harness" if s["name"] == "op" else s["name"].split(".")[0]
            layers[s["name"]] = layers.get(s["name"], 0.0) + self_ms / 1000
            for j in jobs_by_span.get(s["id"], []):
                jobs.append(dict(j, layer=layer))
            stack.extend(ch)
        # wall time with at least one job of this op running
        iv = sorted((max(j["start"], root["start"]), min(j["end"], root["end"])) for j in jobs)
        busy, cur = 0.0, None
        for a, b in iv:
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    busy += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            busy += cur[1] - cur[0]
        wall = op["wall_s"]
        mine = {j["id"] for j in jobs}
        stray = [j["id"] for j in res["jobs"] if j["id"] not in mine
                 and root["start"] <= j["start"] <= root["end"]]
        rows.append(dict(op=op["id"], kind=op["kind"], detail=op["detail"], ok=op["ok"], wall_s=wall,
                         rows_in=op["rows_in"], files=op["files"], bytes=op["bytes"], self_s=layers,
                         unattributed_s=wall - sum(v for k, v in layers.items() if k != "op"),
                         stray_jobs=stray, job_busy_s=busy / 1000,
                         driver_gap_s=max(0.0, wall - busy / 1000), jobs=jobs))
    return sorted(rows, key=lambda r: r["op"])


def trace_errors(bd):
    """Traced ops whose layer spans leave more than TRACE_TOLERANCE of the
    wall time uncovered, or during which a job ran outside every span."""
    errs = []
    for r in bd:
        if r["unattributed_s"] > TRACE_TOLERANCE * r["wall_s"]:
            errs.append(f"op {r['op']}: layer spans cover {1 - r['unattributed_s'] / r['wall_s']:.1%} "
                        f"of its {r['wall_s']:.3f} s wall")
        if r["stray_jobs"]:
            errs.append(f"op {r['op']}: jobs {r['stray_jobs']} ran outside its spans")
    return errs


def per_layer(res, cores, bd, recall=0.0):
    def s_of(r, prefix):
        return sum(v for k, v in r["self_s"].items() if k.startswith(prefix))

    def jobs_of(r, layer):
        return [j for j in r["jobs"] if j["layer"] == layer]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def kind(k):
        return [r for r in everything if r["kind"] == k]

    # per-op layer metrics describe the ops op_p50_s times
    bd, everything = [r for r in bd if r["kind"] in LATENCY_KINDS], bd
    tj = [j for r in bd for j in r["jobs"]]
    rows_in = sum(r["rows_in"] for r in bd)
    walls = sum(r["wall_s"] for r in bd)
    written = sum(j["records_written"] for j in tj)
    lifecycles = kind("lifecycle")
    m = {
        "sources.open_s": mean(s_of(r, "sources.") for r in bd),
        "sources.rows_read": mean(sum(j["records_read"] for j in r["jobs"]) for r in bd),
        "sources.read_amp": sum(j["records_read"] for j in tj) / rows_in if rows_in else 0.0,
        "extract.query_s": mean(s_of(r, "extract.") for r in bd),
        "extract.query_jobs": mean(len(jobs_of(r, "extract")) for r in bd),
        "operators.sink_s": mean(s_of(r, "operators.") for r in bd),
        "operators.sink_jobs": mean(len(jobs_of(r, "operators")) for r in bd),
        "operators.bytes_written": mean(r["bytes"] for r in bd),
        "operators.files_written": mean(r["files"] for r in bd),
        "operators.bytes_per_out_row": sum(r["bytes"] for r in bd) / written if written else 0.0,
        "engine.jobs": mean(len(r["jobs"]) for r in bd),
        "engine.stages": mean(sum(j["stages"] for j in r["jobs"]) for r in bd),
        "engine.tasks": mean(sum(j["tasks"] for j in r["jobs"]) for r in bd),
        "engine.task_busy_s": mean(sum(j["run_ms"] for j in r["jobs"]) / 1000 for r in bd),
        "engine.busy_frac": sum(j["run_ms"] for j in tj) / 1000 / (walls * cores) if walls else 0.0,
        "engine.driver_gap_s": mean(r["driver_gap_s"] for r in bd),
        "engine.shuffle_write_bytes": mean(sum(j["shuffle_write"] for j in r["jobs"]) for r in bd),
        "engine.spill_bytes": mean(sum(j["spill"] for j in r["jobs"]) for r in bd),
        "engine.failed_tasks": mean(sum(j["failed_tasks"] for j in r["jobs"]) for r in bd),
        "ext.dedup_s": mean(s_of(r, "ext.dedup") for r in kind("dedup")),
        "ext.dedup_pairs": len(res["outputs"].get("pairs", [])),
        "ext.index_build_s": mean(s_of(r, "ext.index_build") for r in kind("index_build")),
        "ext.index_bytes": mean(r["bytes"] for r in kind("index_build")),
        "ext.index_probe_s": mean(s_of(r, "ext.index_probe") for r in kind("probe")),
        "ext.recall_at_10": recall,
        "streaming.lifecycle_s": mean(s_of(r, "streaming.") for r in lifecycles),
        "streaming.jobs_per_batch": mean(len(r["jobs"]) for r in lifecycles),
        "streaming.rows_out": mean(sum(j["records_written"] for j in r["jobs"]) for r in lifecycles),
        "trace.unattributed_frac": max((r["unattributed_s"] / r["wall_s"] for r in everything), default=0.0),
        "trace.overhead_frac": overhead(res),
        "heap_peak_mb": res["heap_peak_mb"],
    }
    return m


def overhead(res):
    """Tracing overhead: each untraced op of the most frequent latency kind
    against the mean of the traced ops just before and after it (which
    cancels a steady warm-up trend), median ratio - 1."""
    seq = [o for o in res["ops"] if o["ok"] and o["kind"] in LATENCY_KINDS]
    kinds = [o["kind"] for o in seq]
    seq = [o for o in seq if kinds and o["kind"] == max(set(kinds), key=kinds.count)]
    ratios = [(a["wall_s"] + c["wall_s"]) / 2 / b["wall_s"] for a, b, c in zip(seq, seq[1:], seq[2:])
              if a["traced"] and c["traced"] and not b["traced"]]
    return statistics.median(ratios) - 1 if ratios else 0.0


def unit(name):
    if name == "rows_per_s":
        return "rows/s"
    if "recall" in name:
        return "ratio"
    for suffix, u in (("_s", "s"), ("_frac", "ratio"), ("_amp", "ratio"), ("_bytes", "bytes"),
                      ("bytes_written", "bytes"), ("_row", "bytes/row"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


def write_trace(res, bd, args, lm):
    d = BUILD / "trace" / f"{args.workload}-seed{args.seed}"
    d.mkdir(parents=True, exist_ok=True)
    (d / "spans.json").write_text(json.dumps(
        {"ops": res["ops"], "spans": res["spans"], "jobs": res["jobs"]}, indent=1))
    lines = [f"# {args.workload} seed {args.seed}: traced ops, layer self times (s)",
             f"# tolerance: wall time outside every layer span <= {TRACE_TOLERANCE:.0%} of op wall, "
             "and no job outside the op's spans",
             "op kind detail wall_s layer_self_s... job_busy_s driver_gap_s jobs stray_jobs unattributed_frac"]
    for r in bd:
        layers = " ".join(f"{k}={v:.4f}" for k, v in sorted(r["self_s"].items()) if k != "op")
        lines.append(f"{r['op']} {r['kind']} {r['detail'][:24]} {r['wall_s']:.4f} {layers} "
                     f"job_busy={r['job_busy_s']:.4f} driver_gap={r['driver_gap_s']:.4f} "
                     f"jobs={len(r['jobs'])} stray_jobs={len(r['stray_jobs'])} "
                     f"unattributed={r['unattributed_s'] / r['wall_s']:.4f}")
    lines.append("# per-layer metrics")
    lines += [f"{k} = {v:.6g} {unit(k)}" for k, v in lm.items()]
    (d / "breakdown.txt").write_text("\n".join(lines) + "\n")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-op", type=int, default=None,
                    help="make this op's sink fail (cron_daily; for the harness's own test)")
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    cp = build()
    work = BUILD / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    steal0 = steal_ticks()
    res = run_jvm(cp, args, work, cores, args.fail_op)
    steal = [b - a for a, b in zip(steal0, steal_ticks())]

    con = db()
    errs, extra = [], {}
    if args.workload == "cron_daily":
        errs = check_cron(res, con)
    elif args.workload == "stream_replay":
        errs = check_stream(res, con)
    else:
        recall, planted = corpus_quality(res, con)
        extra = {"recall_at_10": recall, "planted_pair_recall_frac": planted}
        if recall < RECALL_FLOOR:
            errs.append(f"recall@10 {recall:.4f} below {RECALL_FLOOR}")
        if planted < PLANTED_FLOOR:
            errs.append(f"planted near-duplicate recall {planted:.4f} below {PLANTED_FLOOR}")
    if args.trace:
        bd = breakdown(res)
        errs += trace_errors(bd)
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    for o in ops:
        if not o["ok"]:
            log(f"perfbench: op {o['id']} ({o['kind']} {o['detail'][:40]}) failed: {o['error'][:300]}")
    timed = [o for o in ok if o["start"] >= res["timed_start"]]
    walls = [o["wall_s"] for o in timed if o["kind"] in LATENCY_KINDS]
    if not walls:
        errs.append("no timed operation succeeded")
        walls = [0.0]
    for e in errs:
        log("perfbench: CHECK FAILED " + e)
    e2e = {
        "setup_s": res["session_s"] + res["stage_s"] + res["warmup_s"],
        "op_p50_s": statistics.median(walls),
        "rows_per_s": sum(o["rows_in"] for o in timed) / res["timed_s"],
    }
    info = {
        "wall_s": res["timed_s"], "failed_frac": (len(ops) - len(ok)) / len(ops) if ops else 0.0,
        "session_s": res["session_s"], "stage_s": res["stage_s"],
        "warmup_s": res["warmup_s"], **extra,
        # a share of several percent means other guests on the host slowed the run
        "host_steal_frac": steal[0] / steal[1] if steal[1] else 0.0,
    }
    print(f"workload {args.workload} seed {args.seed}: {len(ops)} ops attempted, "
          f"{len(ops) - len(ok)} failed, closed loop, 1 caller, local[{cores}], "
          f"{'traced' if args.trace else 'untraced'}; outputs {'correct' if not errs else 'WRONG'}")
    t = tail(walls)
    print(f"op_tail_s = {t[0]:.6g} s (p{t[1]} of {len(walls)} samples, {t[2]} beyond it)" if t
          else f"op_tail_s: no percentile has ten of the {len(walls)} samples beyond it")
    for k, v in {**e2e, **info}.items():
        print(f"{k} = {v:.6g} {unit(k)}")
    metrics = e2e
    if args.trace:
        metrics = per_layer(res, cores, bd, extra.get("recall_at_10", 0.0))
        for k, v in metrics.items():
            print(f"{k} = {v:.6g} {unit(k)}")
        d = write_trace(res, bd, args, metrics)
        print(f"trace: {len(bd)} traced ops, {len(trace_errors(bd))} outside the tolerance; "
              f"spans and breakdown in {d.relative_to(ROOT)}")
    print(json.dumps({"correct": not errs, "attempted": len(ops), "failed": len(ops) - len(ok),
                      "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
