#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark program from source, runs
one workload in a fresh JVM with its own scratch root, checks every answer,
and prints the metrics as one JSON line (the last line of stdout).

    python3 perfbench/run.py --workload orders --seed 7 --seconds 20 --trace 0

Run it from the root of a graft checkout. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORKLOADS = ("analytics", "orders")
RUN_LIMIT_S = 170  # one run must end within 180 s
BUILD_LIMIT_S = 850
HEAP = "3g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
FAMILIES = ("orders_rollup", "orders_bloom", "orders_custjoin", "orders_zorder")
SNAPSHOT_CALLS = ("dml", "append", "changes", "vacuum", "lookup")
FUNCTIONS = ("simhash60", "minhash_signature", "cosine_f32", "word_ngrams",
             "sorted_intersect_size")
LAYERS = ("driver", "operators", "plans", "exec", "snapshots", "index")
PHASES = {"analysis": "plans.analysis", "optimization": "plans.optimizer",
          "planning": "plans.physical"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """The read-only TPC-H-style input tables: GRAFT_BENCH_DATA, or
    testdata/sf0.01 in the user's or the superuser's home."""
    if "GRAFT_BENCH_DATA" in os.environ:
        candidates = [Path(os.environ["GRAFT_BENCH_DATA"])]
    else:
        candidates = [Path(h).expanduser() / "testdata" / "sf0.01" for h in ("~", "~root")]
    for d in candidates:
        if (d / "orders.parquet").exists():
            return d
    fail(f"input tables not found in {' or '.join(map(str, candidates))} (set GRAFT_BENCH_DATA)")


# ---- build -----------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.properties"))
    files += sorted((ROOT / "project").glob("*.sbt"))
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_command(tmp):
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return ["sbt", "--batch", *opts, "perfbench/compile",
            "export perfbench/Runtime/fullClasspath"]


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past the limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """Build graft and the benchmark program (once per source tree); the classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} is not a graft checkout (no build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    cache = BENCH / "target" / "perfbench-classpath.txt"
    stamp = source_stamp()
    if cache.exists():
        lines = cache.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp and \
                all(Path(p).exists() for p in lines[1].split(os.pathsep)):
            return lines[1]
    log = BENCH / "target" / "build.log"
    tmp = BENCH / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        rc = run_bounded(sbt_command(tmp), BUILD_LIMIT_S, cwd=BENCH, env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = next((ln.strip() for ln in reversed(lines) if ".jar" in ln and "[" not in ln), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cache.write_text(stamp + "\n" + cp + "\n")
    return cp


# ---- run -------------------------------------------------------------------

def run_program(cp, args, work, deadline):
    result = work / "result.json"
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=str(work / "scratch"),
               SPARK_GRAFT_REPO_ROOT=str(ROOT),
               SPARK_LOCAL_DIRS=str(work / "local"))
    env.pop("SPARK_HOME", None)
    (work / "tmp").mkdir(parents=True)
    cpus = min(4, len(os.sched_getaffinity(0)))
    cmd = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(data_dir()), str(cpus), str(work / "scratch"), str(result)]
    with open(work / "jvm.log", "w") as log:
        rc = run_bounded(cmd, max(10, deadline - time.time()), cwd=work, env=env,
                         stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("the benchmark program timed out" if rc is None else f"the benchmark program failed (exit {rc})")
    return json.loads(result.read_text())


# ---- answer checks -----------------------------------------------------------

def oracle_problems(report):
    """Each query's first result against its DuckDB oracle, by the rules of
    the repository's tools/check_parity.py; its report goes to stderr."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_parity
    first = Path(report["first_results"])
    oracle = json.loads((first / "oracle_sql.json").read_text())
    with contextlib.redirect_stdout(sys.stderr):
        failed = check_parity.main(str(data_dir()), str(first))
    problems = [f"{failed} of {len(oracle)} queries differ from the oracle"] if failed else []
    problems += [f"{q}: no oracle" for q in sorted(set(report["first_hash"]) - set(oracle))]
    return problems, len(oracle)


# ---- metrics -----------------------------------------------------------------

def latencies(ops, kind=None):
    sel = [o for o in ops if kind is None or o["kind"] == kind]
    ok = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in sel if o["ok"]]
    return stats.latency_summary(ok, failed=sum(1 for o in sel if not o["ok"]))


def finite(x, fallback):
    return fallback if x is None or x == float("inf") else x


def end_to_end(res, win):
    ops = win["ops"]
    wall = win["wall_s"]
    failed = sum(1 for o in ops if not o["ok"])
    every, reads, writes = latencies(ops), latencies(ops, "read"), latencies(ops, "write")
    m = {
        "setup_s": (res["setup_s"], "s"),
        "throughput_ops_s": ((len(ops) - failed) / wall, "ops/s"),
        "latency_p50_s": (finite(every.get("p50"), wall), "s"),
        "latency_tail_s": (finite(every.get("tail"), wall), "s"),
        "read_p50_s": (finite(reads.get("p50"), wall), "s"),
        "read_tail_s": (finite(reads.get("tail"), wall), "s"),
    }
    extra = {"failed_frac": (failed / len(ops), "ratio")}
    if writes["n"]:
        extra["write_p50_s"] = (finite(writes.get("p50"), wall), "s")
        extra["write_tail_s"] = (finite(writes.get("tail"), wall), "s")
    if "space_amp" in win["report"]:
        extra["space_amp"] = (win["report"]["space_amp"], "ratio")
    samples = {"all": every, "read": reads, "write": writes}
    return m, extra, samples


def setup_parts(res):
    return {p["name"]: p["s"] for p in res["setup_parts"]}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, base_win, win):
    """Per-layer metrics of the traced window; per-op values are means."""
    ops = win["ops"]
    op_ids = {o["id"] for o in ops}
    spans = [{"id": s[0], "parent": s[1], "op": s[2], "name": s[3], "start": s[4], "end": s[5]}
             for s in win["spans"]]
    op_span = {s["op"]: s for s in spans if s["name"] == "op"}
    next_id = max([s["id"] for s in spans], default=0) + 1

    def op_at(t, group=None):
        if group and group.startswith("op-"):
            o = int(group[3:])
            s = op_span.get(o)
            if s and s["start"] - 1 <= t <= s["end"] + 1:
                return o
        for o, s in op_span.items():
            if s["start"] - 1 <= t <= s["end"] + 1:
                return o
        return None

    jobs_by_op = {}
    for j in win["jobs"]:
        end = j["end_ms"] if j["end_ms"] is not None else j["start_ms"]
        o = op_at(j["start_ms"], j.get("group"))
        if o is None:
            continue
        jobs_by_op.setdefault(o, []).append(j)
        spans.append({"id": next_id, "parent": -1, "op": o, "name": "exec.job",
                      "start": j["start_ms"], "end": max(end, j["start_ms"])})
        next_id += 1
    plan_ms = {v: {} for v in PHASES.values()}
    rules_ms, rules_fired = {}, {}
    for q in win["queries"]:
        starts = [p[0] for p in q["phases"].values()]
        if not starts:
            continue
        o = op_at(min(starts))
        if o is None:
            continue
        for phase, (s, e) in q["phases"].items():
            if phase in PHASES:
                name = PHASES[phase]
                plan_ms[name][o] = plan_ms[name].get(o, 0.0) + (e - s)
                spans.append({"id": next_id, "parent": -1, "op": o, "name": name,
                              "start": s, "end": e})
                next_id += 1
        rules_ms[o] = rules_ms.get(o, 0.0) + q["graft_rules_ns"] / 1e6
        rules_fired[o] = rules_fired.get(o, 0) + q["graft_rules_fired"]

    stats.resolve_parents(spans)
    self_t = stats.self_times(spans)
    layer_self = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if s["op"] in op_ids:
            layer_self[stats.layer_of(s["name"])] = layer_self.get(stats.layer_of(s["name"]), 0.0) + self_t[s["id"]]
    n = len(ops)

    def per_op(d):
        return sum(d.get(o, 0) for o in op_ids) / n

    def job_sum(key):
        return sum(j[key] for js in jobs_by_op.values() for j in js) / n

    gaps = []
    for o in op_ids:
        s = op_span[o]
        covered = stats.union_length([(j["start_ms"], j["end_ms"] or j["start_ms"])
                                      for j in jobs_by_op.get(o, [])], s["start"], s["end"])
        gaps.append(s["end"] - s["start"] - covered)

    def span_mean(name):
        return mean(s["end"] - s["start"] for s in spans if s["name"] == name)

    report = win["report"]
    writes = [o for o in ops if o["kind"] == "write"]
    m = {
        "core.session_ms": (setup_parts(res)["session"] * 1000, "ms"),
        "plans.analysis_ms": (per_op(plan_ms["plans.analysis"]), "ms"),
        "plans.optimizer_ms": (per_op(plan_ms["plans.optimizer"]), "ms"),
        "plans.physical_ms": (per_op(plan_ms["plans.physical"]), "ms"),
        "plans.graft_rules_ms": (per_op(rules_ms), "ms"),
        "plans.graft_rules_fired": (per_op(rules_fired), "count"),
        "operators.build_ms": (sum(s["end"] - s["start"] for s in spans
                                   if s["name"] == "operators.build") / n, "ms"),
        "exec.jobs": (sum(len(js) for js in jobs_by_op.values()) / n, "count"),
        "exec.stages": (job_sum("stages"), "count"),
        "exec.tasks": (job_sum("tasks"), "count"),
        "exec.checkpoint_jobs": (sum(1 for js in jobs_by_op.values() for j in js
                                     if "checkpoint" in (j["call_site"] or "").lower()) / n, "count"),
        "exec.driver_gap_ms": (mean(gaps), "ms"),
        "exec.task_cpu_ms": (job_sum("task_cpu_ns") / 1e6, "ms"),
        "exec.task_run_ms": (job_sum("task_run_ms"), "ms"),
        "exec.gc_ms": (job_sum("gc_ms"), "ms"),
        "scan.bytes": (job_sum("scan_bytes"), "bytes"),
        "scan.records": (job_sum("scan_records"), "count"),
        "shuffle.write_bytes": (job_sum("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (job_sum("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_ms": (job_sum("fetch_wait_ms"), "ms"),
        "spill.bytes": (job_sum("spill_bytes"), "bytes"),
    }
    for f in FUNCTIONS:
        m[f"functions.{f}_ns_row"] = (res["functions"].get(f"{f}_ns_row", 0.0), "ns")
    for c in SNAPSHOT_CALLS:
        m[f"snapshots.{c}_ms"] = (span_mean(f"snapshots.{c}"), "ms")
    m["snapshots.versions"] = (report.get("versions", 0), "count")
    m["snapshots.data_bytes_per_commit"] = (mean(o.get("data_bytes", 0) for o in writes), "bytes")
    m["snapshots.cdc_bytes_per_commit"] = (mean(o.get("cdc_bytes", 0) for o in writes), "bytes")
    m["snapshots.cdc_bytes"] = (report.get("cdc_bytes", 0), "bytes")
    m["snapshots.head_dirs"] = (report.get("head_dirs", 0), "count")
    m["index.walk_ms"] = (span_mean("index.walk"), "ms")
    for f in FAMILIES:
        m[f"index.fold_ms.{f}"] = (mean(o["folds"][f] for o in writes if f in o.get("folds", {})), "ms")
        m[f"index.serve_ms.{f}"] = (span_mean(f"index.serve.{f}"), "ms")
        m[f"index.bytes.{f}"] = (report.get("index_bytes", {}).get(f, 0), "bytes")
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = (layer_self.get(layer, 0.0) / n, "ms")
    # tracing overhead: each traced op against its untraced twin, the
    # same op of the same seed in the window after
    def dur(o):
        return o["end_ms"] - o["start_ms"]
    pairs = [(dur(a), dur(t)) for a, t in zip(base_win["ops"], ops) if a["name"] == t["name"]]
    diffs = [t - b for b, t in pairs]
    base_total = sum(b for b, _ in pairs)
    m["trace.overhead_ms"] = (statistics.median(diffs) if diffs else 0.0, "ms")
    m["trace.overhead_frac"] = (sum(diffs) / base_total if base_total else 0.0, "ratio")
    return m, {layer: layer_self.get(layer, 0.0) / n for layer in LAYERS}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    cp = classpath()
    deadline = max(deadline, time.time() + 120)  # a first build gets its own budget
    runs = ROOT / ".perfbench_runs"
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_program(cp, args, work, deadline)
        problems = []
        for w in res["windows"]:
            tag = "traced" if w["traced"] else "untraced"
            problems += [f"{tag} op {o['id']} {o['name']}: {o['error']}" for o in w["ops"] if not o["ok"]]
            problems += [f"{tag} final check: {p}" for p in w["final_problems"]]
        oracle_checked = 0
        if args.workload == "analytics":
            op, oracle_checked = oracle_problems(res["windows"][-1]["report"])
            problems += [f"oracle: {p}" for p in op]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass

    base = next(w for w in res["windows"] if not w["traced"])
    e2e, extra, samples = end_to_end(res, base)
    detail = {
        "workload": args.workload, "env": res["env"], "seconds": args.seconds,
        "setup_parts_s": setup_parts(res),
        "cycles": base["cycles"], "wall_s": base["wall_s"], "host_steal_s": base["host_steal_s"],
        "samples": samples, "oracle_checked": oracle_checked,
        "ops": [[o["name"], round((o["end_ms"] - o["start_ms"]) / 1000.0, 4), o["ok"]]
                for o in base["ops"]],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "report": {k: v for k, v in base["report"].items()
                   if k not in ("first_hash", "first_results")},
        "problems": problems[:20],
    }
    if args.trace:
        layer, self_ms = per_layer(res, base, next(w for w in res["windows"] if w["traced"]))
        metrics = layer
        detail["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        detail["self_ms_per_op"] = self_ms
        detail["functions"] = res["functions"]
    else:
        metrics = e2e
    attempted = sum(len(w["ops"]) for w in res["windows"])
    failed = sum(1 for w in res["windows"] for o in w["ops"] if not o["ok"])
    correct = not problems
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
