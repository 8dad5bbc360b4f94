#!/usr/bin/env python3
"""Cold-process A/B of `graft query` over one kept cli_oneshot lake.

    python3 tools/cold_ab.py <parent checkout> <change checkout> <work dir> \
        <seed> <pairs> [--trace]

Builds the cli_oneshot lake for <seed> once into <work dir> (kept there:
a later call with the same work dir reuses it; a work dir without a
finished lake is emptied first), then spawns
`graft.cli.Main` for each cli_oneshot shape from the two checkouts in
alternation, with the JVM flags, environment and arguments
perfbench/run.py uses. Each checkout must hold its build
(`python3 perfbench/build.py` inside it). Every output is checked
against the workload's ground truth. Prints one line per process and
each side's median per shape; `--trace` adds the per-layer split the
benchmark's traced runs report (cli.pre_query_s, query.optimize_s,
spark.codegen_classes, ...).

This reaches `Main.main`, which in-process `Main.run` specs never do.
"""
import json
import os
import shutil
import statistics
import sys
import time

PARENT, CHANGE, WORK = (os.path.abspath(p) for p in sys.argv[1:4])
SEED, PAIRS = int(sys.argv[4]), int(sys.argv[5])
TRACE = "--trace" in sys.argv[6:]
sys.path.insert(0, os.path.join(CHANGE, "perfbench"))
import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

LAYERS = ("cli.jvm_boot_s", "cli.spark_context_s", "cli.pre_query_s", "query.analyze_s",
          "query.optimize_s", "query.plan_s", "query.execute_render_s", "cli.post_query_s",
          "spark.codegen_classes", "spark.jobs", "cli.classes_loaded")


def classpath(root):
    jars = build.spark_jars(CHANGE)
    return os.path.join(root, build.BUILD_DIR, "classes") + os.pathsep + os.path.join(jars, "*")


def main():
    kept = os.path.join(WORK, "LAKE")
    if not os.path.isfile(kept):
        # a half-built lake would take the new rows on top of the old
        shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    w = workloads.WORKLOADS["cli_oneshot"](SEED, os.path.join(WORK, "in"))
    if not os.path.isfile(kept):
        lake = run.run_harness(w, WORK, classpath(CHANGE), 0, 0)["lake"]
        with open(kept, "w", encoding="utf-8") as f:
            f.write(lake)
    with open(kept, encoding="utf-8") as f:
        lake = f.read().strip()
    cwd = os.path.join(WORK, "cli")
    os.makedirs(cwd, exist_ok=True)
    trace_file = os.path.join(WORK, "child.json")
    checker = workloads.Checker(w)
    times = {}
    for i in range(PAIRS):
        sides = [("parent", PARENT), ("change", CHANGE)]
        for side, root in sides if i % 2 == 0 else sides[::-1]:
            for shape in w.cli:
                props = ["-Dspark.extraListeners=perfbench.ChildSparkListener",
                         "-Dspark.sql.queryExecutionListeners=perfbench.ChildQueryListener",
                         "-Dperfbench.trace.out=" + trace_file] if TRACE else []
                cmd = (run.java(WORK) + props + ["-cp", classpath(root), "graft.cli.Main"]
                       + shape["args"] + ["--lake-dir", lake, "--config-dir", w.config])
                spawn_epoch, t0 = time.time(), time.perf_counter()
                rc, lines, rss = run.run_process(cmd, run.java_env(WORK), cwd,
                                                 os.path.join(WORK, "cli.log"),
                                                 run.CHILD_TIMEOUT_S)
                exit_s = time.perf_counter() - t0
                rec = {"rc": rc, "out": "".join(line for _, line in lines), "exit_s": exit_s}
                err = checker.cli(shape["id"], rec) if rc == 0 else "rc=%d" % rc
                layers = ""
                if TRACE and os.path.isfile(trace_file):
                    with open(trace_file, encoding="utf-8") as f:
                        child = {"traced": True, "trace": json.load(f), "k": 0,
                                 "id": shape["id"], "spawn_epoch": spawn_epoch,
                                 "exit_epoch": spawn_epoch + exit_s}
                    os.remove(trace_file)
                    m = run.per_layer_cli([child])
                    layers = " " + " ".join("%s=%.3f" % (k, m.get(k, 0.0)) for k in LAYERS)
                print("%s %s exit_s=%.3f peak_rss_mb=%.0f %s%s"
                      % (side, shape["id"], exit_s, rss, err or "ok", layers), flush=True)
                times.setdefault((shape["id"], side), []).append(exit_s)
    for (shape_id, side), xs in sorted(times.items()):
        print("%s %s median %.3f runs %s"
              % (shape_id, side, statistics.median(xs), " ".join("%.2f" % x for x in xs)))


if __name__ == "__main__":
    main()
