#!/usr/bin/env python3
"""graft benchmark: HTTP query serving and a materialized engine suite.

    python3 perfbench/run.py --workload <query_api|engine_suite>
        --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed; every run works in its own directory under perfbench/.work and
deletes it at the end. The last line of stdout is the result JSON; a
traced run also writes spans and per-entry rows under perfbench/results.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import mix  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
BUILD_DIR = os.path.join(HERE, "target")
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# A run must end within 180 s of its build. The harness gets what is left
# after a margin for the output checks; a change that makes it slower than
# that is reported as a failed run (timed_out_result), not a crash.
RUN_LIMIT_S = 175
CHECK_MARGIN_S = 20


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; return
    (classpath, source digest, seconds spent building)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources (src/main/scala/graft) "
                         "next to perfbench/; run it from a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "perfbench-build.json")
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b.get("digest") == digest:
            return b["classpath"], digest, 0.0
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (first run in this checkout)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest, time.time() - t0


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

def write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def serving_inputs(wl, work, counts, seed):
    rng = random.Random(seed)
    pool = mix.pool(rng, counts)
    write_tsv(os.path.join(work, "mix.tsv"), pool)
    scheds = [mix.schedule(pool, c, 4000) for c in range(wl["query_clients"])]
    write_tsv(os.path.join(work, "schedule.tsv"), scheds)
    return {i: (kind, sql) for i, kind, sql in pool}


# ---------------------------------------------------------------- JVM

def run_jvm(classpath, args, work, deadline):
    """Run the harness; False if it was killed at the deadline."""
    # -Xms = -Xmx: a heap that grows during the run makes the first timed
    # entries pay for the growth, by an amount that varies from run to run
    heap = SPEC["jvm_heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'jvmtmp')}",
            "-Dspark.ui.enabled=false"] + JVM_FLAGS +
           ["-cp", classpath, "graftbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "jvmtmp"), exist_ok=True)
    # these would override spark.local.dir and move Spark's scratch files
    # out of the run's own directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    logf = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    except BaseException:  # interrupted: never leave the JVM behind
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        logf.close()
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
        sys.stderr.write(tail + "\n")
        if rc == "timeout":
            return False
        raise SystemExit(f"perfbench: harness exited with {rc}")
    return True


def timed_out_result(elapsed_s, trace):
    """Result line of a run whose harness hit the deadline: every
    operation counts as failed; times read as the whole elapsed time,
    rates as 0 and memory as the heap limit, so no metric looks better
    than it was."""
    heap_mb = float(SPEC["jvm_heap"].rstrip("g")) * 1024
    metrics = {}
    for m in SPEC["per_layer" if trace else "end_to_end"]:
        scale = {"s": 1.0, "ms": 1000.0}.get(m["unit"])
        if m["unit"] == "MB":
            v = heap_mb
        elif scale is not None and m["better"] == "lower":
            v = elapsed_s * scale
        else:
            v = 0.0
        metrics[m["name"]] = (v, m["unit"])
    return benchlib.result_line(False, 1, 1, metrics)


# ---------------------------------------------------------------- metrics

def serving_result(raw, items, data_dir, counts, trace):
    con = checks.connect(data_dir)
    reqs = [dict(zip(("client", "id", "t0", "ms", "status", "bytes", "md5",
                      "phase"), r)) for r in raw["requests"]]
    saves = [dict(zip(("id", "t0", "ms", "status", "body", "lines", "phase"), s))
             for s in raw["saves"]]
    body_dir = raw["_bodies"]
    verdict, rows_in = {}, {}
    for rid in sorted({r["id"] for r in reqs}):
        kind, sql = items[rid]
        body = open(os.path.join(body_dir, f"{rid}.json"), "rb").read()
        digest = hashlib.md5(body).hexdigest()
        if kind.startswith("reject"):
            reason = None if b'"error"' in body else "no error envelope"
        else:
            reason = checks.check_reply(con, sql, body, "ORDER BY" in sql)
            if reason is None:
                rows_in[rid] = len(json.loads(body))
        verdict[rid] = (digest, reason)
    bad = []
    for r in reqs:
        kind = items[r["id"]][0]
        digest, reason = verdict[r["id"]]
        r["ok"] = (r["status"] == mix.STATUS[kind] and r["md5"] == digest
                   and reason is None)
        if not r["ok"]:
            bad.append(f"request {r['id']} status {r['status']}: {reason}")
    for s in saves:
        table = items[s["id"]][1].split()[-1]
        try:
            docs = json.loads(s["body"])["docs"]
        except (ValueError, KeyError, TypeError):
            docs = -1
        s["docs"] = docs
        s["ok"] = (s["status"] == 200 and docs == counts[table]
                   and s["lines"] == 2 * docs)
        if not s["ok"]:
            bad.append(f"save {s['id']} status {s['status']} docs {docs} "
                       f"lines {s['lines']}")
    for b in bad[:5]:
        log(f"check failed: {b}")

    def window(phase):
        return next(x for x in raw["windows"] if x["phase"] == phase)

    def e2e(phase):
        rs = [r for r in reqs if r["phase"] == phase]
        ss = [s for s in saves if s["phase"] == phase]
        w = window(phase)
        secs = (w["end_ms"] - w["start_ms"]) / 1000.0
        ops = rs + ss  # /query/ requests and /elastic/save/ posts
        lat = [o["ms"] for o in ops]
        rows = sum(rows_in.get(r["id"], 0) for r in rs if r["ok"]) + \
            sum(s["docs"] for s in ss if s["ok"])
        busy_s = sum(o["ms"] for o in ops if o["ok"]) / 1000.0
        # the clients run at once, so one request's CPU cannot be told
        # apart: the window's CPU time is shared out over its operations
        n = max(1, len(ops))
        return {
            "cpu_ms_per_op": w["cpu_ms"] / n,
            "process_cpu_ms_per_op": w["process_cpu_ms"] / n,
            "rows_per_cpu_s": rows / (w["cpu_ms"] / 1000.0) if w["cpu_ms"] else 0.0,
            "op_geomean_ms": benchlib.geomean(lat),
            "ops_per_s": sum(o["ok"] for o in ops) / secs,
            "rows_per_s": rows / busy_s if busy_s else 0.0,
        }, len(rs) + len(ss), sum(not x["ok"] for x in rs + ss) + \
            len(raw["errors"])

    untraced, attempted, failed = e2e("untraced")
    lat = [x["ms"] for x in reqs + saves if x["phase"] == "untraced"]
    header = {"samples": len(lat), "request_p50_ms": benchlib.median(lat),
              "saves": sum(s["phase"] == "untraced" for s in saves)}
    header["highest_percentile_with_10_beyond"] = \
        benchlib.highest_supported_percentile(header["samples"])
    if not trace:
        return untraced, attempted, failed, header, None
    traced, t_att, t_fail = e2e("traced")
    tw = window("traced")
    layers = serving_layers(raw, reqs, saves, (tw["start_ms"], tw["end_ms"]))
    layers["api.request_ms.p50"] = header["request_p50_ms"]
    for k in ("op_geomean_ms", "ops_per_s"):
        layers[f"trace.overhead.{k}"] = traced[k] - untraced[k]
    layers.update(window_layers(untraced))
    layers["error_share"] = (failed + t_fail) / max(1, attempted + t_att)
    return untraced, attempted + t_att, failed + t_fail, header, layers


def window_layers(e2e):
    """Per-layer metrics of the untraced window: the wall-clock forms of
    the end-to-end metrics (what a client waits for, but on a shared
    host also how much CPU the host lent), rows per CPU second, and CPU
    per operation with the JIT compiler and GC counted in."""
    m = {f"wall.{k}": e2e[k] for k in ("op_geomean_ms", "ops_per_s", "rows_per_s")}
    m["rows_per_cpu_s"] = e2e["rows_per_cpu_s"]
    m["jvm.process_cpu_ms_per_op"] = e2e["process_cpu_ms_per_op"]
    return m


def spans_by_name(raw):
    out = {}
    for s in raw["spans"]:
        out.setdefault(s["name"], []).append(s)
    return out


def spark_totals(raw):
    tot = {}
    for a in raw["spark"]:
        for k, v in a.items():
            if k != "span":
                tot[k] = tot.get(k, 0) + v
    return tot


def spark_layer(raw, w0, w1):
    tot = spark_totals(raw)
    jobs = [j for j in raw["jobs"] if w0 <= j["start_ms"] <= w1]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": tot.get("stages", 0),
        "spark.tasks": tot.get("tasks", 0),
        "spark.task_busy_s": tot.get("task_busy_ms", 0) / 1000.0,
        "spark.driver_gap_s": benchlib.driver_gap(
            w0, w1, [(j["start_ms"], j["end_ms"]) for j in jobs
                     if j["end_ms"] >= 0]) / 1000.0,
        "spark.input_bytes": tot.get("input_bytes", 0),
        "spark.shuffle_bytes": tot.get("shuffle_bytes", 0),
        "spark.spill_bytes": tot.get("spill_bytes", 0),
        "spark.output_bytes": tot.get("output_bytes", 0),
        "spark.output_rows": tot.get("output_rows", 0),
        "spark.gc_s": tot.get("gc_ms", 0) / 1000.0,
        "spark.task_failures": tot.get("task_failures", 0),
    }


def serving_layers(raw, reqs, saves, win):
    w0, w1 = win
    by = spans_by_name(raw)
    m = spark_layer(raw, w0, w1)
    route_lines = []
    for line in raw["server_log"]:
        t, _, js = line.partition("\t")
        rec = json.loads(js)
        rec["t"] = float(t)
        route_lines.append(rec)
    log_rows = [r for r in route_lines if w0 <= r["t"] <= w1 + 5000]
    q_log = [r for r in log_rows if r["route"] == "GET /query/"]
    # the handler's own latency, over the route lines of both halves: a
    # half holds too few lines for p75 to have ten beyond it
    handler = [r["latency_ms"] for r in route_lines if r["route"] == "GET /query/"]
    m["api.handler_ms.p50"] = benchlib.percentile(handler, 50)
    m["api.handler_ms.p75"] = benchlib.percentile(handler, 75)
    # pair each traced reply with the route line of the same status and
    # size logged closest to the reply's last byte
    outside, free = [], list(q_log)
    for r in (x for x in reqs if x["phase"] == "traced"):
        end = r["t0"] + r["ms"]
        cands = [x for x in free if x["status"] == r["status"]
                 and x["bytes"] == r["bytes"]]
        if cands:
            best = min(cands, key=lambda x: abs(x["t"] - end))
            free.remove(best)
            outside.append(r["ms"] - best["latency_ms"])
    m["api.outside_handler_ms.p50"] = benchlib.percentile(outside, 50)
    traced = [r for r in reqs if r["phase"] == "traced"]
    m["api.response_bytes"] = benchlib.percentile([r["bytes"] for r in traced], 50)
    for c in (2, 4, 5):
        m[f"api.status_{c}xx"] = sum(r["status"] // 100 == c for r in log_rows)
    tsaves = [s for s in saves if s["phase"] == "traced" and s["ok"]]
    m["api.save_docs_per_s"] = (sum(s["docs"] for s in tsaves) /
                                (sum(s["ms"] for s in tsaves) / 1000.0)
                                if tsaves else 0.0)
    m["gate.validate_ms.p50"] = benchlib.percentile(
        [s["end_ms"] - s["start_ms"] for s in by.get("gate.validate", [])], 50)
    m["gate.rejected"] = len(by.get("gate.rejected", []))
    m["engine.register_ms.p50"] = benchlib.percentile(
        [s["end_ms"] - s["start_ms"] for s in by.get("engine.register", [])], 50)
    m["engine.lock_wait_ms.p50"] = benchlib.percentile(
        [s["end_ms"] - s["start_ms"] for s in by.get("engine.lock_wait", [])], 50)
    ph = by.get("spark.phases", [])
    for name, key in (("parse", "phase_parsing_ms"), ("analyze", "phase_analysis_ms"),
                      ("optimize", "phase_optimization_ms"),
                      ("plan", "phase_planning_ms")):
        m[f"spark.{name}_ms"] = benchlib.percentile(
            [s.get(key, 0.0) for s in ph], 50)
    bulk = by.get("indexer.bulkIndex", [])
    stats = {s["parent"]: s for s in by.get("indexer.stats", [])}
    longest = {a["span"]: a["longest_task_ms"] for a in raw["spark"]}
    m["indexer.docs"] = sum(stats[b["id"]]["docs"] for b in bulk if b["id"] in stats)
    m["indexer.write_s"] = sum(b["end_ms"] - b["start_ms"] for b in bulk) / 1000.0
    m["indexer.bytes_written"] = sum(stats[b["id"]]["bytes_written"]
                                     for b in bulk if b["id"] in stats)
    shares = [longest.get(b["id"], 0) / (b["end_ms"] - b["start_ms"])
              for b in bulk if b["end_ms"] > b["start_ms"]]
    m["indexer.longest_task_share"] = (sum(shares) / len(shares)) if shares else 0.0
    return m


def suite_result(raw, data_dir, trace):
    con = checks.connect(data_dir)
    entries = raw["entries"]
    oracles = raw["oracles"]
    rows_out, bad_entries = {}, set()
    for c in raw["checks"]:
        name = c["name"]
        sql = oracles.get(name)
        if c["error"]:
            reason, n = c["error"], 0
        elif sql is None:
            reason, n = "entry has no oracleSql", 0
        else:
            n, reason = checks.check_entry(
                con, os.path.join(raw["_checks"], c["dir"]), sql)
        rows_out[name] = n
        if reason:
            bad_entries.add(name)
            log(f"check failed: {name}: {reason}")
    untimed = [e for e in entries if not e["traced"]]
    attempted = len(entries)
    failed = sum(bool(e["error"]) or e["name"] in bad_entries for e in entries)
    w = next(x for x in raw["windows"] if x["phase"] == "untraced")
    per_entry, per_entry_cpu, per_entry_pcpu = {}, {}, {}
    for e in untimed:
        if not e["error"]:
            per_entry.setdefault(e["name"], []).append(e["wall_ms"])
            per_entry_cpu.setdefault(e["name"], []).append(e["cpu_ms"])
            per_entry_pcpu.setdefault(e["name"], []).append(e["process_cpu_ms"])
    # every metric is a function of the per-entry medians
    med = {k: benchlib.median(v) for k, v in per_entry.items()}
    cpu = {k: benchlib.median(v) for k, v in per_entry_cpu.items()}
    rows = sum(rows_out.get(k, 0) for k in med)
    suite_s = sum(med.values()) / 1000.0
    cpu_s = sum(cpu.values()) / 1000.0
    metrics = {
        "cpu_ms_per_op": benchlib.geomean(list(cpu.values())),
        "process_cpu_ms_per_op": benchlib.geomean(
            [benchlib.median(v) for v in per_entry_pcpu.values()]),
        "rows_per_cpu_s": rows / cpu_s if cpu_s else 0.0,
        "op_geomean_ms": benchlib.geomean(list(med.values())),
        "ops_per_s": len(med) / suite_s if suite_s else 0.0,
        "rows_per_s": rows / suite_s if suite_s else 0.0,
    }
    header = {"passes": w["passes"], "entries": len(med),
              "samples_per_entry": {k: len(v) for k, v in per_entry.items()},
              "entry_median_ms": {k: round(v, 1) for k, v in med.items()},
              "entry_median_cpu_ms": {k: round(v, 1) for k, v in cpu.items()}}
    if not trace:
        return metrics, attempted, failed, header, None, None
    layers, entry_rows = suite_layers(raw, med, rows_out)
    tw = next(x for x in raw["windows"] if x["phase"] == "traced")
    layers["trace.overhead.suite_s"] = (
        (tw["end_ms"] - tw["start_ms"]) / 1000.0 - sum(med.values()) / 1000.0)
    layers.update(window_layers(metrics))
    layers["error_share"] = failed / max(1, attempted)
    return metrics, attempted, failed, header, layers, entry_rows


def suite_layers(raw, med, rows_out):
    traced = [e for e in raw["entries"] if e["traced"]]
    tw = next(x for x in raw["windows"] if x["phase"] == "traced")
    m = spark_layer(raw, tw["start_ms"], tw["end_ms"])
    m["engine.stage_s"] = sum(raw["stage_artifacts"].values())
    for name, s in raw["stage_artifacts"].items():
        m[f"engine.stage.{name}_s"] = s
    jobs_by_span = {}
    for j in raw["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    accs = {a["span"]: a for a in raw["spark"]}
    rows = []
    for e in traced:
        ids = {e.get("build_span"), e.get("materialize_span")}
        js = [j for s in ids for j in jobs_by_span.get(s, [])]
        ivs = [(j["start_ms"], j["end_ms"]) for j in js if j["end_ms"] >= 0]
        b0 = e["start_ms"]
        b1 = b0 + e.get("build_ms", 0.0) + e.get("materialize_ms", 0.0)
        acc = {}
        for s in ids:
            for k, v in accs.get(s, {}).items():
                if k != "span":
                    acc[k] = acc.get(k, 0) + v
        rows.append({
            "name": e["name"], "family": e["family"], "kind": e["kind"],
            "wall_ms": e["wall_ms"], "untraced_median_ms": med.get(e["name"]),
            "build_ms": e.get("build_ms"), "materialize_ms": e.get("materialize_ms"),
            "count_ms": e.get("count_ms"), "cpu_ms": e.get("cpu_ms"), "jobs": len(js),
            "driver_gap_ms": benchlib.driver_gap(b0, b1, ivs),
            "parse_ms": e.get("phase_parsing_ms", 0.0),
            "analyze_ms": e.get("phase_analysis_ms", 0.0),
            "optimize_ms": e.get("phase_optimization_ms", 0.0),
            "plan_ms": e.get("phase_planning_ms", 0.0),
            "rows": rows_out.get(e["name"]), "error": e["error"], **acc})
    for name, key in (("parse", "parse_ms"), ("analyze", "analyze_ms"),
                      ("optimize", "optimize_ms"), ("plan", "plan_ms")):
        m[f"spark.{name}_ms"] = sum(r[key] for r in rows)
    m["queries.build_s"] = sum(r["build_ms"] or 0 for r in rows) / 1000.0
    m["queries.materialize_s"] = sum(r["materialize_ms"] or 0 for r in rows) / 1000.0
    m["queries.count_s"] = sum(r["count_ms"] or 0 for r in rows) / 1000.0
    wall = sum(r["wall_ms"] for r in rows)
    m["queries.count_vs_materialize"] = (m["queries.count_s"] * 1000.0 / wall
                                         if wall else 0.0)
    m["queries.read_s"] = sum(r["wall_ms"] for r in rows if r["kind"] == "read") / 1000.0
    m["queries.write_s"] = sum(r["wall_ms"] for r in rows if r["kind"] == "write") / 1000.0
    for f in SPEC["families"]:
        fr = [r for r in rows if r["family"] == f]
        m[f"family.{f}.wall_s"] = sum(r["wall_ms"] for r in fr) / 1000.0
        m[f"family.{f}.jobs"] = sum(r["jobs"] for r in fr)
        m[f"family.{f}.driver_gap_s"] = sum(r["driver_gap_ms"] for r in fr) / 1000.0
    return m, rows


def write_trace_files(raw, entry_rows, out_dir):
    """Spans (with self time, Spark jobs as child spans) and per-entry rows."""
    os.makedirs(out_dir, exist_ok=True)
    spans = list(raw["spans"])
    for j in raw["jobs"]:
        if j["end_ms"] >= 0:
            spans.append({"id": f"job{j['id']}", "parent": j["span"],
                          "name": "spark.job", "start_ms": j["start_ms"],
                          "end_ms": j["end_ms"], "stages": j["stages"]})
    own = benchlib.self_times(spans)
    with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
        for s in sorted(spans, key=lambda s: s["start_ms"]):
            f.write(json.dumps({**s, "self_ms": own[s["id"]]}) + "\n")
    if entry_rows is not None:
        with open(os.path.join(out_dir, "entries.jsonl"), "w") as f:
            for r in entry_rows:
                f.write(json.dumps(r) + "\n")


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the harness JVM and the work
    # directory are cleaned up on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath, digest, build_s = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S - CHECK_MARGIN_S
    wl = SPEC["workloads"][a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        counts = gen.write(data, wl["sf"], a.seed)
        args = {"mode": a.workload, "data": data, "work": os.path.join(work, "jvm"),
                "out": os.path.join(work, "raw.json"), "seconds": a.seconds,
                "trace": a.trace, "reps": wl["setup_reps"]}
        if a.workload == "engine_suite":
            write_tsv(os.path.join(work, "entries.tsv"),
                      [(e["name"], e["family"], e["kind"], e["samples"])
                       for e in wl["entries"]])
            args.update(entries=os.path.join(work, "entries.tsv"),
                        round_s=wl["round_s"],
                        checks=os.path.join(work, "checks"))
        else:
            items = serving_inputs(wl, work, counts, a.seed)
            args.update(mix=os.path.join(work, "mix.tsv"),
                        schedule=os.path.join(work, "schedule.tsv"),
                        clients=wl["query_clients"],
                        client_rate=wl["requests_per_client_per_s"],
                        bodies=os.path.join(work, "bodies"))
        t_jvm = time.time()
        if not run_jvm(classpath, args, work, deadline):
            log(f"harness killed after {time.time() - t_start:.0f} s")
            print(timed_out_result(time.time() - t_start, a.trace), flush=True)
            return
        t_checks = time.time()
        raw = json.load(open(args["out"]))
        if a.workload == "engine_suite":
            raw["_checks"] = args["checks"]
            e2e, attempted, failed, header, layers, entry_rows = \
                suite_result(raw, data, a.trace)
        else:
            raw["_bodies"] = args["bodies"]
            e2e, attempted, failed, header, layers = serving_result(
                raw, items, data, counts, a.trace)
            entry_rows = None
        t_end = time.time()
        log(f"inputs {t_jvm - t_start:.1f} s, harness {t_checks - t_jvm:.1f} s, "
            f"checks {t_end - t_checks:.1f} s")
        setup_s = benchlib.median([s["total_s"] for s in raw["setups"]])
        e2e["setup_s"] = setup_s
        header.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                      trace=a.trace, sf=wl["sf"], git_sha=git_sha(),
                      source_sha256=digest, build_s=build_s,
                      peak_rss_mb=raw["peak_rss_mb"],
                      heap_after_gc_mb=raw["heap_after_gc_mb"],
                      setups=raw["setups"], start=raw["header_start"],
                      end=raw["header_end"], session=raw["header_conf"])
        header["window"] = window_layers(e2e)
        log("header " + json.dumps(header, default=str))
        if a.trace:
            out_dir = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}")
            write_trace_files(raw, entry_rows, out_dir)
            with open(os.path.join(out_dir, "header.json"), "w") as f:
                json.dump({**header, "end_to_end": e2e}, f, indent=1, default=str)
            layers["jvm.heap_after_gc_mb"] = raw["heap_after_gc_mb"]
            metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"])
                       for m in SPEC["per_layer"]}
        else:
            metrics = {m["name"]: (e2e[m["name"]], m["unit"])
                       for m in SPEC["end_to_end"]}
        print(benchlib.result_line(failed == 0, attempted, failed, metrics),
              flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
