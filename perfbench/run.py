#!/usr/bin/env python3
"""End-to-end, layer-by-layer benchmark of the `graft` CLI and library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program if its sources changed
(see build.py), generates the workload's inputs from the seed, runs it,
checks every output against the generator's ground truth, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics`. With `--trace 0` the metrics are the end-to-end metrics
of BENCHMARK.json; with `--trace 1` they are its per-layer metrics. The
line before it names a JSON file with every sample, step and span.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

# One heap size for every JVM the benchmark starts. 1 GB holds this data
# with room to spare and keeps the session's peak RSS from swinging with
# how far G1 chose to grow the heap.
HEAP = "-Xmx1g"
HARNESS_TIMEOUT_S = 170
CHILD_TIMEOUT_S = 60
QUERY_ROLES = ("meta", "scan")
COMMANDS = ("dedup", "profile", "curate")


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def java(work):
    """The JVM command prefix: every temporary file, the JVM's own
    included, stays under the run's work dir."""
    return ["java"] + build.ADD_OPENS + [HEAP, "-XX:-UsePerfData",
                                         "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]


def java_env(work):
    env = dict(os.environ)
    env.update({"TZ": "UTC", "SPARK_MASTER": "local[%d]" % cpus(),
                "SPARK_GRAFT_CPUS": str(cpus()),
                "SPARK_LOCAL_DIRS": os.path.join(work, "tmp")})
    return env


def run_process(cmd, env, cwd, log, timeout):
    """Run `cmd` to completion. Returns (exit code, stdout lines with
    their arrival times, peak RSS in MB). The process is killed and
    reaped if it outlives `timeout` seconds."""
    lines = []
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=cwd, env=env)
        deadline = time.monotonic() + timeout
        try:
            for raw in p.stdout:
                lines.append((time.perf_counter(), raw.decode("utf-8", "replace")))
                if time.monotonic() > deadline:
                    raise TimeoutError("timed out: %s" % " ".join(cmd[-4:]))
            p.stdout.close()
            while True:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError("timed out: %s" % " ".join(cmd[-4:]))
                time.sleep(0.005)
        except BaseException:
            p.kill()
            p.wait()
            raise
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, lines, usage.ru_maxrss / 1024.0


def lake_size(lake):
    """(data files, bytes on disk, metadata bytes) of a lake directory.
    Data files are the Parquet files outside hidden (`_`/`.`) trees, as
    `Lake.dataFiles` counts them; every other file is metadata."""
    files = total = meta = 0
    for d, _, names in os.walk(lake):
        rel = os.path.relpath(d, lake)
        hidden = any(seg.startswith(("_", ".")) for seg in rel.split(os.sep) if seg != ".")
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            total += size
            if not hidden and n.endswith(".parquet") and not n.startswith(("_", ".")):
                files += 1
            else:
                meta += size
    return files, total, meta


# ---- running ----------------------------------------------------------

def run_harness(w, work, cp, seconds, trace):
    """The in-process part: set-up, then (lake_session) the operations.
    A traced run makes three cycles, untraced, traced, untraced; the
    first warms the session up, and the traced cycle is compared with
    the last."""
    plan = {"work": work, "cpus": cpus(), "seconds": seconds, "trace": bool(trace),
            "trace_block": w.cycle, "min_ops": w.cycle * (3 if trace else 1) if w.ops else 0,
            "setup": w.setup, "ops": w.ops}
    plan_file, result_file = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_file, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    log = os.path.join(work, "harness.log")
    cmd = java(work) + ["-cp", cp, "perfbench.Harness", plan_file, result_file]
    rc, _, rss = run_process(cmd, java_env(work), work, log, HARNESS_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(result_file):
        with open(log, encoding="utf-8", errors="replace") as f:
            raise RuntimeError("harness exited with %d:\n%s" % (rc, f.read()[-3000:]))
    with open(result_file, encoding="utf-8") as f:
        res = json.load(f)
    res["peak_rss_mb"] = rss
    return res


def run_cli(w, work, lake, cp, seconds, trace):
    """Cold `graft` processes, one per operation, in whole cycles of the
    shape mix while `seconds` allows. A traced run is one untraced
    process of the first shape, the reference for the tracing overhead,
    then one cycle carrying the benchmark's listener classes."""
    cwd = os.path.join(work, "cli")
    os.makedirs(cwd, exist_ok=True)
    out = []

    def spawn(shape, traced):
        trace_file = os.path.join(work, "child_%d.json" % len(out))
        props = ["-Dspark.extraListeners=perfbench.ChildSparkListener",
                 "-Dspark.sql.queryExecutionListeners=perfbench.ChildQueryListener",
                 "-Dperfbench.trace.out=" + trace_file] if traced else []
        cmd = (java(work) + props + ["-cp", cp, "graft.cli.Main"] + shape["args"]
               + ["--lake-dir", lake, "--config-dir", w.config])
        spawn_epoch, start = time.time(), time.perf_counter()
        rc, lines, rss = run_process(cmd, java_env(work), cwd, os.path.join(work, "cli.log"),
                                     CHILD_TIMEOUT_S)
        end = time.perf_counter()
        rec = {"k": len(out), "id": shape["id"], "role": shape["role"], "traced": traced,
               "rc": rc, "out": "".join(line for _, line in lines), "spawn_epoch": spawn_epoch,
               "exit_epoch": spawn_epoch + (end - start),
               "first_s": (lines[0][0] if lines else end) - start, "exit_s": end - start,
               "peak_rss_mb": rss}
        if traced and os.path.isfile(trace_file):
            with open(trace_file, encoding="utf-8") as f:
                rec["trace"] = json.load(f)
        out.append(rec)

    if trace:
        spawn(w.cli[0], False)
        for shape in w.cli:
            spawn(shape, True)
        return out
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        for shape in w.cli:
            spawn(shape, False)
    return out


# ---- checks -----------------------------------------------------------

def _step_error(rec):
    if rec.get("error"):
        return rec["error"]
    if rec.get("rc") not in (0, None):
        return "rc=%s: %s" % (rec["rc"], rec.get("out", "")[-300:])
    return None


def check(w, res, children):
    """Returns (attempted, failures). Each set-up step, each operation
    and each CLI process is one attempt; an operation fails when any of
    its steps errs or returns a wrong result."""
    chk = workloads.Checker(w)
    failures, attempted = [], 0
    for i, rec in enumerate(res["setup_steps"]):
        attempted += 1
        err = _step_error(rec) or chk.setup_step(i, rec)
        if err:
            failures.append({"setup_step": i, "error": err})
    for op in res["ops"]:
        attempted += 1
        errs = [_step_error(r) or e for r, e in zip(op["steps"], chk.op(op["id"], op["steps"]))]
        bad = [(j, e) for j, e in enumerate(errs) if e]
        if bad:
            failures.append({"op": op["k"], "id": op["id"], "errors": bad})
    for c in children:
        attempted += 1
        err = _step_error(c) or chk.cli(c["id"], c)
        if err:
            failures.append({"cli": c["k"], "id": c["id"], "error": err})
    return attempted, failures


# ---- end-to-end samples -----------------------------------------------

def _steps(w, res, traced):
    """(op, step record, step spec) for every timed step of the ops run
    with (or without) tracing."""
    spec = {op["id"]: op["steps"] for op in w.ops}
    for op in res["ops"]:
        if op["traced"] == traced:
            for rec, st in zip(op["steps"], spec[op["id"]]):
                if "start" in rec:
                    yield op, rec, st


def _wall(r):
    return r["end"] - r["start"]


def samples(w, res, children):
    """Samples behind each end-to-end metric, and the detail-only
    figures named per workload. Every run replays the same fixed mix,
    so a timing metric is the mean over the mix (`value`); the detail
    file adds each class's median, tail and count."""
    if w.name == "cli_oneshot":
        runs = [c for c in children if not c["traced"]]
        exits = [c["exit_s"] for c in runs]
        e2e = {
            "op_s": exits,
            "first_row_s": [c["first_s"] for c in runs],
            "meta_query_s": [c["exit_s"] for c in runs if c["role"] == "meta"],
            "scan_query_s": [c["exit_s"] for c in runs if c["role"] == "scan"],
            "peak_rss_mb": [c["peak_rss_mb"] for c in runs],
        }
        named = {"cli_first_row_s": e2e["first_row_s"], "cli_exit_s": exits}
        for shape in w.cli:
            named["cli_exit_s." + shape["id"]] = [c["exit_s"] for c in runs
                                                  if c["id"] == shape["id"]]
        return e2e, named
    steps = list(_steps(w, res, traced=False))
    refreshes = [op["end"] - op["start"] for op in res["ops"]
                 if not op["traced"] and op["id"].startswith("refresh")]
    commands = [_wall(r) for _, r, st in steps if st["kind"] == "main"]
    user_ops = refreshes + commands
    queries = [r for _, r, st in steps if st["role"] in QUERY_ROLES]
    by_name = {}
    for _, r, st in steps:
        by_name.setdefault(st["name"], []).append(r)
    collected = sum(len(w.truth["rounds"][w.round_of[op["id"]]]["rows"]) for op in res["ops"]
                    if not op["traced"] and op["id"] in w.round_of)
    e2e = {
        "op_s": user_ops,
        "first_row_s": [r["first"] - r["start"] for r in queries],
        "meta_query_s": [_wall(r) for _, r, st in steps if st["role"] == "meta"],
        "scan_query_s": [_wall(r) for _, r, st in steps if st["role"] == "scan"],
        "peak_rss_mb": [res["peak_rss_mb"]],
    }
    docs = len(w.truth["tables"]["docs"])
    cmd_walls = [_wall(r) for n in COMMANDS for r in by_name.get(n, [])]
    named = {
        "refresh_s": refreshes,
        "query_s": [_wall(r) for r in queries],
        "collect_rows_per_s": [collected / sum(_wall(r) for r in by_name["collect"])]
        if by_name.get("collect") else [],
        "compact_s": [_wall(r) for r in by_name.get("compact", [])],
        "fresh_query_s": [_wall(r) for n in ("probe_months", "probe_user")
                          for r in by_name.get(n, [])],
        "curate_docs_per_s": [docs * len(cmd_walls) / sum(cmd_walls)] if cmd_walls else [],
    }
    return e2e, named


# ---- per-layer metrics ------------------------------------------------

def _add(m, k, v):
    m[k] = m.get(k, 0.0) + v


def _phase_and_self(m, spans, n):
    for s in spans:
        if s["name"] in ("query.analyze", "query.optimize", "query.plan"):
            _add(m, s["name"] + "_s", (s["end"] - s["start"]) / 1e3 / n)
    for layer, ms in stats.self_times(stats.assign_parents(spans)).items():
        _add(m, "self.%s_s" % layer, ms / 1e3 / n)


def per_layer_cli(children):
    """Per traced process: the start-up phases from the child's own
    record, the query phases and jobs from its listeners."""
    m, spans = {}, []
    traced = [c for c in children if c["traced"] and "trace" in c]
    n = max(1, len(traced))
    for c in traced:
        t = c["trace"]
        proc = {"id": 0, "name": c["id"], "layer": "cli", "op": c["k"], "parent": -1,
                "start": c["spawn_epoch"] * 1e3, "end": c["exit_epoch"] * 1e3}
        kids = [dict(s, op=c["k"], parent=-1) for s in t["spans"]]
        spans += [dict(proc, id=-(c["k"] + 2))] + [dict(s, id=(c["k"] + 1) * 10 ** 6 + s["id"])
                                                   for s in kids]
        jobs = [(s["start"], s["end"]) for s in kids if s["layer"] == "spark"]
        phases = [s for s in kids if s["layer"] == "query"]
        q_start = min([s["start"] for s in phases] or [t["exit_hook_ms"]])
        q_end = max([e for _, e in jobs] + [s["end"] for s in phases] + [q_start])
        planning = sum(s["end"] - s["start"] for s in phases)
        _add(m, "cli.jvm_boot_s", (t["app_start_ms"] - proc["start"]) / 1e3 / n)
        _add(m, "cli.spark_context_s", (t["listener_init_ms"] - t["app_start_ms"]) / 1e3 / n)
        _add(m, "cli.pre_query_s", (q_start - t["listener_init_ms"]) / 1e3 / n)
        _add(m, "cli.post_query_s", (proc["end"] - q_end) / 1e3 / n)
        _add(m, "cli.classes_loaded", t["classes_loaded"] / n)
        _add(m, "query.execute_render_s", (q_end - q_start - planning) / 1e3 / n)
        _add(m, "query.driver_gap_s",
             (q_end - q_start - stats.union_length(jobs, q_start, q_end)) / 1e3 / n)
        for k, v in t["counters"].items():
            _add(m, k, v / n)
        _add(m, "spark.codegen_classes", t["codegen_classes"] / n)
        _add(m, "spark.codegen_compile_s", t["codegen_compile_s"] / n)
    _phase_and_self(m, spans, n)
    ref = [c for c in children if not c["traced"]]
    same = [c for c in traced if ref and c["id"] == ref[0]["id"]]
    if same:
        m["trace.overhead_s"] = same[0]["exit_s"] - ref[0]["exit_s"]
    return m


def per_layer_session(w, res):
    """Means over the traced operations; ingest, compaction and operator
    figures per collect, compaction or command run."""
    m = {}
    ops = [op for op in res["ops"] if op["traced"]]
    n = max(1, len(ops))
    spans = [s for s in res["spans"] if s["op"] >= 0]
    for k, v in res["counters"].items():
        _add(m, k, v / n)
    _phase_and_self(m, spans, n)
    jobs = [(s["start"], s["end"]) for s in spans if s["layer"] == "spark"]
    phases = [(s["start"], s["end"]) for s in spans
              if s["name"] in ("query.analyze", "query.optimize", "query.plan")]
    listed = read = 0
    decisions = dict.fromkeys(("served", "hybrid", "declined", "none"), 0)
    runs = {}
    for op, rec, st in _steps(w, res, traced=True):
        wall = _wall(rec)
        runs.setdefault(st["name"], []).append(wall)
        if st["role"] in QUERY_ROLES:
            lo = res["base_epoch_ms"] + rec["start"] * 1e3
            hi = res["base_epoch_ms"] + rec["end"] * 1e3
            planning = sum(e - s for s, e in phases if lo - 1 <= s and e <= hi + 1)
            _add(m, "query.execute_render_s", (wall - planning / 1e3) / n)
            _add(m, "query.driver_gap_s", (wall - stats.union_length(jobs, lo, hi) / 1e3) / n)
        if st["kind"] == "sql":
            listed += rec.get("files_listed", 0)
            read += rec.get("files_read", 0)
            if st["role"] == "meta":
                decisions[stats.meta_decision(rec.get("plan", []))] += 1
        if st["kind"] == "views":
            _add(m, "query.views_register_s", wall / n)
        if st["name"] == "collect":
            rnd = w.truth["rounds"][w.round_of[op["id"]]]
            _add(m, "ingest.rows", len(rnd["rows"]))
            _add(m, "ingest.rows_invalid", rnd["malformed"])
            _add(m, "ingest.chunks", rnd["chunks"])
        if st["name"] == "compact":
            got = workloads.compact_counts(rec.get("out", ""))
            if got:
                _add(m, "lake.compact_files_in", got[0])
                _add(m, "lake.compact_files_out", got[1])
    collects = len(runs.get("collect", []))
    if collects:
        m["ingest.collect_s"] = stats.median(runs["collect"])
        for k in ("ingest.rows", "ingest.rows_invalid", "ingest.chunks"):
            m[k] /= collects
        m["ingest.valid_ratio"] = m["ingest.rows"] / (m["ingest.rows"] + m["ingest.rows_invalid"])
    if runs.get("compact"):
        m["lake.compact_s"] = stats.median(runs["compact"])
        for k in ("lake.compact_files_in", "lake.compact_files_out"):
            m[k] = m.get(k, 0.0) / len(runs["compact"])
    for c in COMMANDS:
        if runs.get(c):
            m["operators.%s_s" % c] = stats.median(runs[c])
    if runs.get("curate"):
        docs = len(w.truth["tables"]["docs"])
        corpus_ops = sum(1 for op in ops if op["id"] == "corpus")
        m["operators.shuffle_bytes_per_doc"] = \
            m.get("spark.shuffle_write_bytes", 0.0) * n / max(1, corpus_ops) / docs
    m["lake.files_listed"] = listed / n
    m["lake.files_read"] = read / n
    m["lake.files_read_ratio"] = read / listed if listed else 0.0
    for k in ("served", "hybrid", "declined"):
        m["lake.meta_" + k] = decisions[k] / n
    plain = [op["end"] - op["start"] for op in res["ops"]
             if not op["traced"] and op["k"] >= w.cycle]
    if ops and plain:
        m["trace.overhead_s"] = sum(op["end"] - op["start"] for op in ops) / len(ops) - \
            sum(plain) / len(plain)
    return m


# ---- entry ------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the running JVM is killed
    # and reaped and the work dir removed before the exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open("BENCHMARK.json", encoding="utf-8") as f:
            spec = json.load(f)
        classes, jars = build.ensure(".")
    except (OSError, ValueError, build.BuildError) as e:
        print("benchmark cannot run here: %s" % e, file=sys.stderr)
        return 2
    cp = os.path.abspath(classes) + os.pathsep + os.path.join(os.path.abspath(jars), "*")
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work",
                                        "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        w = workloads.WORKLOADS[a.workload](a.seed, os.path.join(work, "in"))
        cli = a.workload == "cli_oneshot"
        res = run_harness(w, work, cp, 0 if cli else a.seconds, a.trace)
        children = run_cli(w, work, res["lake"], cp, a.seconds, a.trace) if cli else []
        attempted, failures = check(w, res, children)
        files, nbytes, meta = lake_size(res["lake"])
        e2e, named = samples(w, res, children)
        e2e["setup_s"] = [res["setup_s"]]
        rounds = sum(1 for op in res["ops"] if op["id"] in w.round_of)
        e2e["lake_bytes_per_input_byte"] = [nbytes / w.input_bytes(rounds)]
        layers = {}
        if a.trace:
            layers = per_layer_cli(children) if cli else per_layer_session(w, res)
            layers.update({"lake.files_total": files, "lake.bytes_on_disk": nbytes,
                           "lake.manifest_bytes": meta})
        layers["ops_failed_ratio"] = len(failures) / attempted
        if a.trace:
            wanted = [(x["name"], x["unit"]) for x in spec["per_layer"]]
            values = {k: layers.get(k, 0.0) for k, _ in wanted}
        else:
            wanted = [(x["name"], x["unit"]) for x in spec["end_to_end"]]
            # the mean over the run's fixed mix (see `samples`)
            values = {k: sum(e2e[k]) / len(e2e[k]) for k, _ in wanted}
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "end_to_end": {k: stats.summary(v) for k, v in e2e.items()},
            "named": {k: stats.summary(v) for k, v in named.items()},
            "per_layer": layers, "failures": failures, "samples": e2e,
            "setup_steps": res["setup_steps"], "ops": res["ops"], "cli": children,
            "spans": res["spans"],
        }
        out_dir = os.path.join(build.BUILD_DIR, "results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
        with open(path, "w", encoding="utf-8") as f:
            json.dump(detail, f, indent=1)
        print("detail: %s" % path)
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures),
                          "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted}},
                         separators=(",", ":")))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
