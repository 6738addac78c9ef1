#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs one JVM at local[nproc]
that sets up, warms up and measures for `--seconds`, checks every output
against DuckDB (`check.py`), prints each metric by name with its unit,
and ends with one JSON line. `--trace 0` reports the end-to-end metrics
of BENCHMARK.json; `--trace 1` runs the same loop untraced and then
traced, plus the kernel and single-core extras, and reports the
per-layer metrics. Exits non-zero if any operation failed or any output
was wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import mix  # noqa: E402
import stats  # noqa: E402
from stats import median  # noqa: E402

WORKLOADS = ("cdc_stream", "batch_mix")
SETUPS = 3          # set-up cycles per run; setup_s is their median
JVM_HEAP = "2g"       # fixed (-Xms = -Xmx), so the resident set does not follow heap resizing
JVM_TIMEOUT_S = 165

# batch_mix: the changelog behind the events table and the Debezium
# envelopes, and the rest of the corpus as a multiple of the sf0.1
# cardinalities.
CHANGES = dict(n=50_000, keys=5_000, zipf_s=1.1, tombstone_share=0.1)
MIX_MULT = 0.05

# cdc_stream: fixed-size files, an ascending ladder of offered rates in
# events/s with the share of the run each step takes (the first is the
# reference rate for freshness, so it gets the most samples), and the
# freshness limit a sustained step must meet. Steps last seconds, so a
# growing backlog shows as freshness past the limit; the limit sits between
# the 4 000 events/s step on a host running at half speed (about 3 s) and
# the overloaded 32 000 events/s step (5 s and more).
STREAM = dict(file_rows=250, keys=20_000, zipf_s=1.1, tombstone_share=0.1,
              redelivery_share=0.1, warmup_files=10)
LADDER_EPS = [2_000, 4_000, 32_000]
LADDER_SHARE = [0.5, 0.25, 0.25]
FRESHNESS_LIMIT_S = 4.0

MB = 1048576.0


def parse_args():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ inputs

def stream_schedule(seconds, traced):
    """(file, due_s, phase, step) rows: warm-up files at the reference
    rate, then one ladder per measured phase. File 0 is the set-up file."""
    f, rows = 1, []
    ref_gap = STREAM["file_rows"] / LADDER_EPS[0]
    for i in range(STREAM["warmup_files"]):
        rows.append((f, i * ref_gap, "warmup", -1))
        f += 1
    for phase in ("main", "traced") if traced else ("main",):
        t0 = 0.0
        for step, eps in enumerate(LADDER_EPS):
            step_s = seconds * LADDER_SHARE[step]
            gap = STREAM["file_rows"] / eps
            n = max(2, int(round(step_s / gap)))
            for i in range(n):
                rows.append((f, t0 + i * gap, phase, step))
                f += 1
            t0 += step_s
    return rows


def generate(workload, seed, data, seconds, traced, small=False):
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    if workload == "batch_mix":
        mix.write_list(os.path.join(data, "mix.tsv"))
        if small:
            return gen.corpus(data, seed, 0.01, dict(CHANGES, n=2000, keys=200))
        return gen.corpus(data, seed, MIX_MULT, CHANGES)
    sched = stream_schedule(seconds, traced)
    with open(os.path.join(data, "schedule.tsv"), "w") as fh:
        fh.writelines(f"{f}\t{d:.6f}\t{ph}\t{st}\n" for f, d, ph, st in sched)
    with open(os.path.join(data, "file_rows"), "w") as fh:
        fh.write(str(STREAM["file_rows"]))
    kw = {k: v for k, v in STREAM.items() if k != "warmup_files"}
    props = gen.stream_pool(os.path.join(data, "pool"), seed, n_files=len(sched) + 1, **kw)
    props["ladder_eps"] = LADDER_EPS
    return props


# --------------------------------------------------------------------- JVM

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(jar, workload, seed, seconds, traced, data, out, log, jvm_flags=()):
    scratch = os.path.join(os.path.dirname(out), "jvm")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m", *jvm_flags]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={scratch}/local", f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
        f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}",
        f"-Dderby.stream.error.file={scratch}/derby.log",
        "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graftbench.Main", "--workload", workload, "--data", data, "--out", out,
        "--seconds", str(seconds), "--trace", str(traced), "--cores", str(cores()),
        "--setups", str(SETUPS), "--seed", str(seed),
    ]
    with open(log, "w") as fh:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=scratch, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
    path = os.path.join(out, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def class_archive(jar, workload):
    """Flags that map a class-data archive of the classes a run of
    `workload` loads. The archive is made once per build (for every
    workload, by the first run after the build), by a short run on small
    inputs; later runs map it instead of loading and verifying those
    classes again, which halves the cold start of a run. Without it a run
    works the same, with a slower first set-up cycle."""
    path = jar[:-len(".jar")] + f"-{workload}.jsa"
    if not os.path.exists(path):
        work = os.path.join(build.BUILD, "train", workload)
        shutil.rmtree(work, ignore_errors=True)
        data, out = os.path.join(work, "data"), os.path.join(work, "out")
        os.makedirs(out)
        generate(workload, 1, data, 2.0, False, small=True)
        run_jvm(jar, workload, 1, 2.0, 0, data, out, os.path.join(work, "jvm.log"),
                [f"-XX:ArchiveClassesAtExit={path}.tmp"])
        if os.path.exists(path + ".tmp"):
            os.rename(path + ".tmp", path)
        shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={path}"] if os.path.exists(path) else []


# --------------------------------------------------------------- checking

def check_outputs(workload, res, data, out):
    """{output name: (ok, detail, rows)}."""
    if workload == "cdc_stream":
        final = res["final_cycle"]
        files = [os.path.join(data, "pool", f"part-{f['file']:05d}.parquet")
                 for f in res["files"] if f["cycle"] == final]
        con = check.connect(data)
        return {"stream_current": check.check(con, os.path.join(out, "stream_current"),
                                              check.stream_oracle(files))}
    con = check.connect(data)
    oracles = res.get("oracle_sql", {})
    return {name: check.check(con, os.path.join(out, name), mix.oracle(name, oracles))
            for name, _, _, _ in mix.MIX}


# ------------------------------------------------------------- summaries

def measured_passes(res, phase):
    """The passes of a phase after the first, which warms the loop up."""
    return [p for p in res["passes"] if p["phase"] == phase and p["pass"] > 1]


def calls_of(res, phase, p):
    return [o for o in res["ops"] if o["phase"] == phase and o["pass"] == p]


def mix_e2e(res, phase):
    """Calls per second over a pass and the slowest call of a pass (a pass
    has too few calls for a percentile with ten beyond it), each the median
    over the measured passes; and the median of all their calls."""
    rate, slowest, calls = [], [], []
    passes = measured_passes(res, phase)
    for p in passes:
        secs = [(o["t1_us"] - o["t0_us"]) / 1e6 for o in calls_of(res, phase, p["pass"])]
        rate.append(len(secs) / ((p["t1_us"] - p["t0_us"]) / 1e6))
        slowest.append(max(secs))
        calls += secs
    return {
        "work_rate_per_s": median(rate), "latency_p50_s": median(calls), "latency_tail_s": median(slowest),
        "_tail_rule": f"slowest of {len(mix.PASS)} calls per pass, median over {len(passes)} passes",
    }


def stream_timeline(res, phase):
    final = res["final_cycle"]
    files = [f for f in res["files"] if f["cycle"] == final]
    commit_t = {c["batch"]: c["t1_us"] / 1e6 for c in res["commits"] if c["cycle"] == final}
    batches = [(b["batch"], b["rows"], commit_t.get(b["batch"], float("inf"))) for b in res["batches"]]
    commits = stats.file_commits([(f["file"], f["stamp_us"] / 1e6) for f in files], batches,
                                 res["file_rows"])
    return [f for f in files if f["phase"] == phase], commits


def stream_e2e(res, phase):
    """Freshness at the reference rate, and the highest ladder rate whose
    files all commit within the freshness limit."""
    files, commits = stream_timeline(res, phase)
    fr = res["file_rows"]
    steps = sorted({f["step"] for f in files})
    sustained_rate, ref = 0.0, []
    per_step = []
    for s in steps:
        sf = [(f["file"], f["stamp_us"] / 1e6) for f in files if f["step"] == s]
        fresh = stats.freshness(sf, commits)
        _, tail_v, _ = stats.tail(fresh)
        ok = len(fresh) == len(sf) and tail_v <= FRESHNESS_LIMIT_S
        rate = stats.offered_rate([t for _, t in sf], fr)
        per_step.append((LADDER_EPS[s], rate, median(fresh), tail_v, ok))
        if s == 0:
            ref = fresh
        if ok and all(p[4] for p in per_step):
            sustained_rate = rate
    pct, tail_v, n = stats.tail(ref)
    if sustained_rate == 0.0 and per_step:  # nothing sustained: report what the lowest step achieved
        sf = [f for f in files if f["step"] == steps[0]]
        done = [commits[f["file"]] for f in sf if commits.get(f["file"]) is not None]
        if done:
            sustained_rate = len(done) * fr / (max(done) - sf[0]["stamp_us"] / 1e6)
    return {
        "work_rate_per_s": sustained_rate,
        "latency_p50_s": median(ref),
        "latency_tail_s": tail_v,
        "_tail_rule": f"p{pct:.0f} of {n} files at {LADDER_EPS[0]} events/s",
        "_steps": per_step,
    }


def engine_layer(res, phase):
    """Per-call means of the engine counters over one phase. Jobs are tied
    to a call by the span property, else by time; stages to jobs by id."""
    eng = res.get("engine", {})
    jobs, stages, plans = eng.get("jobs", []), eng.get("stages", []), eng.get("plans", [])
    if res["workload"] == "cdc_stream":
        batch_jobs = {}
        for j in jobs:
            if j.get("stream_batch") is not None:
                batch_jobs.setdefault(int(j["stream_batch"]), []).append(j)
        calls = []
        for b in res["batches"]:
            if b["batch"] in batch_jobs:
                end = b["at_ms"]
                start = end - b["duration_ms"].get("triggerExecution", 0)
                calls.append((start, end, batch_jobs[b["batch"]]))
    else:
        ops = [o for o in res["ops"] if o["phase"] == phase]
        by_span = {str(o["span"]): o for o in ops}
        assigned = {o["span"]: [] for o in ops}
        for j in jobs:
            o = by_span.get(j.get("span") or "")
            if o is None or not (o["t0_us"] / 1e3 <= j["start_ms"] <= o["t1_us"] / 1e3):
                o = next((x for x in ops if x["t0_us"] / 1e3 <= j["start_ms"] <= x["t1_us"] / 1e3), None)
            if o is not None:
                assigned[o["span"]].append(j)
        calls = [(o["t0_us"] / 1e3, o["t1_us"] / 1e3, assigned[o["span"]]) for o in ops]
    stage_by_id = {}
    for s in stages:
        stage_by_id.setdefault(s["stage"], []).append(s)
    acc = {k: [] for k in ("jobs", "stages", "tasks", "gap", "cpu", "gc", "sr", "sw", "inp", "spill",
                           "skew", "job_self", "an", "opt", "phys")}
    for start, end, js in calls:
        sts = [s for j in js for sid in j.get("stages", []) for s in stage_by_id.get(sid, [])]
        acc["jobs"].append(len(js))
        acc["stages"].append(len(sts))
        acc["tasks"].append(sum(s["tasks"] for s in sts))
        acc["gap"].append(stats.self_time((start, end), [(j["start_ms"], j["end_ms"]) for j in js]))
        acc["cpu"].append(sum(s.get("cpu_ns", 0) for s in sts) / 1e6)
        acc["gc"].append(sum(s.get("gc_ms", 0) for s in sts))
        acc["sr"].append(sum(s.get("shuffle_read_b", 0) for s in sts) / MB)
        acc["sw"].append(sum(s.get("shuffle_write_b", 0) for s in sts) / MB)
        acc["inp"].append(sum(s.get("input_b", 0) for s in sts) / MB)
        acc["spill"].append(sum(s.get("spill_b", 0) for s in sts) / MB)
        longest = max(sts, key=lambda s: s["end_ms"] - s["submit_ms"], default=None)
        if longest and len(longest["task_ms"]) >= 2 and median(longest["task_ms"]) > 0:
            acc["skew"].append(max(longest["task_ms"]) / median(longest["task_ms"]))
        for j in js:
            own = [(s["submit_ms"], s["end_ms"]) for sid in j.get("stages", []) for s in stage_by_id.get(sid, [])]
            acc["job_self"].append(stats.self_time((j["start_ms"], j["end_ms"]), own))
        mine = [p for p in plans if start <= min(v["start_ms"] for k, v in p.items() if k != "at_ms") <= end]
        for key, ph in (("an", "analysis"), ("opt", "optimization"), ("phys", "planning")):
            acc[key].append(sum(p[ph]["end_ms"] - p[ph]["start_ms"] for p in mine if ph in p))
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    return {
        "engine.plan_analysis_ms": mean(acc["an"]), "engine.plan_optimizer_ms": mean(acc["opt"]),
        "engine.plan_physical_ms": mean(acc["phys"]), "engine.jobs": mean(acc["jobs"]),
        "engine.stages": mean(acc["stages"]), "engine.tasks": mean(acc["tasks"]),
        "engine.driver_gap_ms": mean(acc["gap"]), "engine.task_cpu_ms": mean(acc["cpu"]),
        "engine.gc_ms": mean(acc["gc"]), "engine.shuffle_read_mb": mean(acc["sr"]),
        "engine.shuffle_write_mb": mean(acc["sw"]), "engine.input_mb": mean(acc["inp"]),
        "engine.spill_mb": mean(acc["spill"]), "engine.stage_skew": mean(acc["skew"]),
        "span.job_self_ms": mean(acc["job_self"]),
    }


def per_layer(res, workload, props, checks, e2e_main, e2e_traced):
    """Every per-layer metric of the traced phase; a layer a workload does
    not run reads 0."""
    m = engine_layer(res, "traced")
    mixed = workload == "batch_mix"
    passes = measured_passes(res, "traced")
    ops = [o for p in passes for o in calls_of(res, "traced", p["pass"])]
    call_s = lambda name: median([(o["t1_us"] - o["t0_us"]) / 1e6 for o in ops if o["name"] == name])
    m["span.pass_self_ms"] = median([
        stats.self_time((p["t0_us"], p["t1_us"]),
                        [(o["t0_us"], o["t1_us"]) for o in calls_of(res, "traced", p["pass"])]) / 1e3
        for p in passes])
    for step, _ in mix.CDC[1:]:
        m[f"cdc.{step}_s"] = call_s(step) if mixed else 0.0
        m[f"cdc.{step}_rows"] = checks[step][2] if mixed else 0
    m["sources.parse_s"] = call_s("parse") if mixed else 0.0
    m["sources.parse_rows_per_s"] = props["rows"] / m["sources.parse_s"] if m["sources.parse_s"] else 0.0

    def apply_eps(phase, pass_list):
        """Changelog events per second over the `cdc` calls of a pass."""
        cdc = {n for n, _ in mix.CDC}
        return median([props["rows"] / sum((o["t1_us"] - o["t0_us"]) / 1e6
                                           for o in calls_of(res, phase, p["pass"]) if o["name"] in cdc)
                       for p in pass_list])
    one = [p for p in res["passes"] if p["phase"] == "1core"]
    m["apply.events_per_s"] = apply_eps("traced", passes) if mixed else 0.0
    m["apply.eps_1core"] = apply_eps("1core", one) if mixed else 0.0
    m["apply.parallel_eff"] = (apply_eps("main", measured_passes(res, "main")) / (cores() * m["apply.eps_1core"])
                               if mixed else 0.0)

    all_ops = res["ops"]
    m["lineage.persisted_rdds_after"] = sum(o["rdds_left"] for o in all_ops) / max(1, len(all_ops))
    m["lineage.storage_mb_after"] = sum(o["storage_mb_left"] for o in all_ops) / max(1, len(all_ops))
    m["hazard.calls_leaving_rdds"] = sum(1 for o in all_ops if o["rdds_left"])
    m["hazard.conf_keys_changed"] = len(set(res["setup_conf_changed"]) |
                                        {k for o in all_ops for k in o["conf_changed"]})
    for k, v in res["kernels"].items():
        m[f"kernel.{k}_ns_per_row"] = v
    m.update(stream_layer(res, workload))
    base, traced = e2e_main["latency_p50_s"], e2e_traced["latency_p50_s"]
    m["trace.overhead_pct"] = (traced / base - 1.0) * 100.0 if base else 0.0
    m["trace.latency_p50_s"] = traced
    m["trace.work_rate_per_s"] = e2e_traced["work_rate_per_s"]
    for k in ("rows", "keys", "zipf_s", "tombstone_share", "redelivery_share"):
        m[f"input.{k}"] = props[k]
    return m


def stream_layer(res, workload):
    keys = ["stream.batch_ms", "stream.addbatch_ms", "stream.queryplanning_ms", "stream.walcommit_ms",
            "stream.batches", "stream.rows_per_batch", "stream.state_rows", "stream.state_mem_mb",
            "stream.state_commit_ms", "stream.backlog_files", "stream.gen_late_ms", "sink.merge_ms",
            "sink.rows_merged"]
    if workload != "cdc_stream":
        return {k: 0.0 for k in keys}
    files, commits = stream_timeline(res, "traced")
    t_start = min(f["stamp_us"] for f in files) / 1e6
    final = res["final_cycle"]
    sink = {c["batch"]: c for c in res["commits"] if c["cycle"] == final}
    bs = sorted((b for b in res["batches"]
                 if b["batch"] in sink and sink[b["batch"]]["t1_us"] / 1e6 >= t_start),
                key=lambda b: b["batch"])
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    d = lambda b, k: b["duration_ms"].get(k, 0)
    stamped = [(f["file"], f["stamp_us"] / 1e6) for f in files]
    return {
        "stream.batch_ms": mean([d(b, "triggerExecution") for b in bs]),
        "stream.addbatch_ms": mean([d(b, "addBatch") for b in bs]),
        "stream.queryplanning_ms": mean([d(b, "queryPlanning") for b in bs]),
        "stream.walcommit_ms": mean([d(b, "walCommit") for b in bs]),
        "stream.batches": len(bs),
        "stream.rows_per_batch": mean([b["rows"] for b in bs]),
        "stream.state_rows": bs[-1]["state_rows"] if bs else 0,
        "stream.state_mem_mb": bs[-1]["state_mem_b"] / MB if bs else 0.0,
        "stream.state_commit_ms": mean([b["state_commit_ms"] for b in bs]),
        "stream.backlog_files": max([stats.backlog(stamped, commits, t) for _, t in stamped], default=0),
        "stream.gen_late_ms": mean([(f["stamp_us"] - f["due_us"]) / 1e3 for f in files]),
        "sink.merge_ms": mean([(sink[b["batch"]]["t1_us"] - sink[b["batch"]]["t0_us"]) / 1e3 for b in bs]),
        "sink.rows_merged": mean([b["state_updated"] for b in bs]),
    }


def attempted_failed(workload, res, checks):
    bad_outputs = sum(1 for ok, _, _ in checks.values() if not ok)
    if workload == "cdc_stream":
        final = res["final_cycle"]
        files, commits = stream_timeline(res, None)
        delivered = [f for f in res["files"] if f["cycle"] == final]
        lost = sum(1 for f in delivered if commits.get(f["file"]) is None)
        return len(delivered) + len(checks), lost + bad_outputs
    errors = sum(1 for o in res["ops"] if o["error"])
    return len(res["ops"]), errors + bad_outputs


# ------------------------------------------------------------------- main

def main():
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jar = build.build()
    cds = {w: class_archive(jar, w) for w in WORKLOADS}[args.workload]
    work = os.path.join(build.BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    t = time.time()
    props = generate(args.workload, args.seed, data, args.seconds, args.trace == 1)
    gen_s = time.time() - t
    log = os.path.join(work, "jvm.log")
    res = run_jvm(jar, args.workload, args.seed, args.seconds, args.trace, data, out, log, cds)
    if res is None or "fatal" in res:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.stderr.write(f"run failed: {res.get('fatal') if res else 'no result (timeout or crash)'}\n")
        sys.exit(1)

    checks = check_outputs(args.workload, res, data, out)
    attempted, failed = attempted_failed(args.workload, res, checks)
    summarise = stream_e2e if args.workload == "cdc_stream" else mix_e2e
    e2e = summarise(res, "main")
    e2e["setup_s"] = median(res["setup_s"])
    e2e["peak_rss_mb"] = res["peak_rss_mb"]

    print(f"# workload {args.workload}  seed {args.seed}  cores {cores()}  seconds {args.seconds}  "
          f"trace {args.trace}  (inputs generated in {gen_s:.1f} s, not timed)")
    print(f"# inputs {json.dumps(props, sort_keys=True)}")
    print(f"# setup cycles {['%.3f' % s for s in res['setup_s']]}  tail rule: {e2e['_tail_rule']}")
    for row in e2e.get("_steps", []):
        print("# ladder %7d eps offered %9.1f  freshness p50 %.3f s tail %.3f s  %s"
              % (row[0], row[1], row[2], row[3], "sustained" if row[4] else "NOT sustained"))
    for name, (ok, detail, rows) in checks.items():
        print(f"# check {name:28s} {'ok ' if ok else 'BAD'} {rows:9d} rows  {detail if not ok else ''}")
    errs = [o for o in res.get("ops", []) if o["error"]]
    for o in errs[:10]:
        print(f"# error {o['name']} pass {o['pass']}: {o['error']}")
    print(f"# ops_failed_frac {failed / attempted:.6f} ({failed} of {attempted} attempted)")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        traced = summarise(res, "traced")
        values = per_layer(res, args.workload, props, checks, e2e, traced)
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        values = e2e
        wanted = [m["name"] for m in spec["end_to_end"]]
    for name in sorted(set(values) | set(units)):
        if name in units and name in values:
            print(f"{name} = {values[name]:.6g} {units[name]}")
    correct = failed == 0
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in wanted}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
