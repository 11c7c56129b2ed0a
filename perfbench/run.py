#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Builds graft and the harness from source (first run only), runs the
workload in one JVM on the input tables in `perfbench/data`, checks
every output against DuckDB, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
The line before it stamps the run (commit, nproc, sf, seed, heap,
Spark version). Exits non-zero when the build, the run or the check
fails. Set PERFBENCH_KEEP=1 to keep the run directory (raw timings,
results, JVM log) under the build directory.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import lake  # noqa: E402

ROOT = HERE.parent
START = time.monotonic()
HEAP = "2g"
DEADLINE_S = 170
# passes a run makes even when --seconds is shorter: medians over more
# than one pass's ops, and in the traced run two traced passes on either
# side of a plain one (see per_layer)
MIN_PASSES = {0: 2, 1: 4}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
LAKE_KINDS = {
    "append": "lake.append_ms", "sink": "streaming.sink_commit_ms",
    "merge": "lake.merge_ms", "delete": "lake.delete_ms",
    "compact": "lake.compact_ms", "vacuum": "lake.vacuum_ms",
    "read_latest": "lake.read_latest_ms", "read_asof": "lake.read_asof_ms",
    "read_changes": "lake.read_changes_ms", "read_sql": "lake.read_sql_ms"}
TRACE_SUMS = [
    "SparkEntry.build_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compile_ms", "codegen.compiles",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.sched_gap_ms",
    "engine.executor_run_ms", "engine.executor_cpu_ms",
    "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
    "engine.spill_bytes", "Tables.input_bytes", "Tables.input_rows",
    "staging.blocks", "staging.bytes", "jvm.gc_ms", "jvm.jit_ms"]
CATALYST = ["catalyst.analysis_ms", "catalyst.optimization_ms",
            "catalyst.planning_ms"]
PIPELINE = ("q_pipeline_e2e", "q_comprobar")


class RunError(RuntimeError):
    pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def stamp_vcs():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return "unknown", None
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=30)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return "unknown", None


def write_plan(spec, run_dir, seed):
    plan = run_dir / "plan"
    plan.mkdir()
    if spec["kind"] == "lake":
        ops = lake.make_plan(str(plan), seed, **spec["lake"])
        return plan / "ops.tsv", ops
    lines = [f"{q}\t{fam}" for fam, qs in spec["queries"].items() for q in qs]
    (plan / "ops.tsv").write_text("\n".join(lines) + "\n")
    return plan / "ops.tsv", lines


def run_jvm(classpath, args, run_dir, timeout):
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ([build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-cp", classpath, "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=run_dir)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RunError(f"harness did not finish within {timeout:.0f}s")
    if rc != 0:
        raise RunError(f"harness exited {rc}")


def read_raw(path):
    recs = {"setup": [], "op": [], "pass": [], "meta": []}
    for line in path.read_text().splitlines():
        r = json.loads(line)
        recs[r["type"]].append(r)
    if not recs["meta"]:
        raise RunError("harness wrote no summary")
    return recs


def check_queries(out, data_dir, ops):
    """Every query's last-pass result against its DuckDB oracle SQL, and
    the same row count in every pass. Returns the failures."""
    import duckdb
    con = duckdb.connect()
    check.register_tables(con, str(data_dir))
    fails = []
    for line in (out / "oracle.jsonl").read_text().splitlines():
        o = json.loads(line)
        counts = {r["rows"] for r in ops if r["name"] == o["name"] and r["ok"]}
        msgs = check.compare(con, str(out / "results" / o["name"]), o["sql"],
                             dtypes=True)
        if len(counts) > 1:
            msgs.append(f"row count changed between passes: {sorted(counts)}")
        fails += [f"{o['name']}: {m}" for m in msgs]
    return fails


def lake_model(plan_dir, plan_ops, ops):
    last = max(r["pass"] for r in ops)
    versions = {int(r["name"][:3]): r["version"] for r in ops
                if r["pass"] == last and r["ok"] and r["kind"] in lake.WRITES}
    return lake.Model(str(plan_dir), plan_ops, versions)


def check_lake(out, model):
    """The last episode's reads and final snapshot against the model."""
    fails = []
    for name, sql in model.expected.items():
        fails += [f"{name}: {m}" for m in
                  check.compare(model.con, str(out / "results" / name), sql)]
    return fails


def end_to_end(recs):
    secs = {}
    for r in recs["op"]:
        if not r["traced"] and r["ok"]:
            secs.setdefault(r["name"], []).append(r["sec"])
    return {
        "setup_s": recs["setup"][0]["sec"],
        "pass_s": median([p["sec"] for p in recs["pass"] if not p["traced"]]),
        # a pass mixes ops whose latencies differ by 100x; their median
        # jumps between kinds from seed to seed, the geometric mean does
        # not, and it weighs a saving on a short op like one on a long op.
        # Each op enters with its median over passes, so one stall of a
        # millisecond op does not move it.
        "op_geomean_s": statistics.geometric_mean(
            [median(xs) for xs in secs.values()]),
    }


def per_pass(ops, value, over=sum):
    """Median over passes of `over` (sum, or a mean) of `value(op)`."""
    by = {}
    for r in ops:
        by.setdefault(r["pass"], []).append(value(r))
    return median([over(v) for v in by.values()])


def per_layer(recs, families, model):
    ops = [r for r in recs["op"] if r["ok"]]
    plain = [r for r in ops if not r["traced"]]
    traced = [r for r in ops if r["traced"]]
    tpasses = [p for p in recs["pass"] if p["traced"]]
    ppasses = [p for p in recs["pass"] if not p["traced"]]
    m = {k: per_pass(traced, lambda r, k=k: r["layers"].get(k, 0.0))
         for k in TRACE_SUMS}
    m["engine.late_tasks"] = median([p["late_tasks"] for p in tpasses])
    m["jvm.peak_rss_mb"] = recs["meta"][0]["peak_rss_mb"]
    wall = sum(r["sec"] * 1000 for r in traced)
    seen = sum(r["layers"].get("engine.busy_ms", 0.0) +
               sum(r["layers"].get(c, 0.0) for c in CATALYST) for r in traced)
    m["trace.attributed_share"] = seen / wall if wall else 0.0
    if m["trace.attributed_share"] > 1.1:
        print(f"[perfbench] warning: catalyst + busy time is "
              f"{m['trace.attributed_share']:.2f} of op wall time",
              file=sys.stderr)
    # the JVM is still warming up: the first pass is left out, so the
    # traced passes sit on either side of the plain ones they are
    # compared with
    m["trace.overhead_ratio"] = (median([p["sec"] for p in tpasses]) /
                                 median([p["sec"] for p in ppasses[1:]]))
    for fam in families:
        m[f"family.{fam}_s"] = per_pass(
            plain, lambda r, f=fam: r["sec"] if r["family"] == f else 0.0)
    m["etl.pipeline_s"] = per_pass(
        plain, lambda r: r["sec"] if r["name"] in PIPELINE else 0.0)
    for kind, name in LAKE_KINDS.items():
        m[name] = 1000 * median([r["sec"] for r in plain if r["kind"] == kind])
    # the harness records the table's file layout in traced passes only
    writes = [r for r in traced if r["kind"] in lake.WRITES]
    reads = [r for r in traced if r["kind"] in lake.READS]
    m["lake.commit_p50_ms"] = 1000 * median(
        [r["sec"] for r in plain if r["kind"] in lake.WRITES])
    m["lake.read_p50_ms"] = 1000 * median(
        [r["sec"] for r in plain if r["kind"] in lake.READS])
    m["lake.bytes_written"] = per_pass(writes, lambda r: r["bytes_written"])
    m["lake.files_written"] = per_pass(writes, lambda r: r["files_written"])
    ends = [r for r in writes if r["kind"] == "vacuum"]
    m["lake.versions"] = median([r["version"] + 1 for r in ends])
    m["lake.live_files"] = median([r["live_files"] for r in ends])
    m["lake.dv_files"] = per_pass(reads, lambda r: r["dv_files"],
                                  statistics.mean)
    m["lake.files_per_read"] = per_pass(reads, lambda r: r["files_per_read"],
                                        statistics.mean)
    if model is not None:
        m["lake.write_amp"] = m["lake.bytes_written"] / model.submitted_bytes
        m["lake.space_amp"] = (median([r["disk_bytes"] for r in ends]) /
                               model.live_bytes)
    else:
        m["lake.write_amp"] = m["lake.space_amp"] = 0.0
    return m


def log(msg):
    print(f"[perfbench] {time.monotonic() - START:6.1f}s {msg}",
          file=sys.stderr)


def run(a):
    spec_all = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec_all:
        raise RunError(f"unknown workload {a.workload!r}; "
                       f"choose from {sorted(spec_all)}")
    spec = spec_all[a.workload]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in
             bench["per_layer" if a.trace else "end_to_end"]}

    build.build_dir().mkdir(parents=True, exist_ok=True)
    with open(build.build_dir() / "build.log", "a") as blog:
        classpath = build.build(blog)
    log("built")
    data_dir = (HERE / "data" / f"sf{spec['sf']}"
                if spec["kind"] == "query" else None)

    runs = build.build_dir() / "runs"
    run_dir = runs / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        plan_file, plan_ops = write_plan(spec, run_dir, a.seed)
        out = run_dir / "out"
        out.mkdir()
        (run_dir / "local").mkdir()
        cores = nproc()
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": int(a.trace), "cores": cores,
                "min_passes": MIN_PASSES[a.trace], "plan": plan_file,
                "data": data_dir or "", "work": run_dir, "out": out}
        try:
            run_jvm(classpath, args, run_dir,
                    DEADLINE_S - (time.monotonic() - START))
        except RunError:
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            raise
        log("harness done")
        recs = read_raw(out / "raw.jsonl")
        model = None
        if spec["kind"] == "lake":
            model = lake_model(plan_file.parent, plan_ops, recs["op"])
            fails = check_lake(out, model)
        else:
            fails = check_queries(out, data_dir, recs["op"])
        log("checked")
        op_fails = [r for r in recs["op"] if not r["ok"]]
        for f in fails:
            print(f"[perfbench] check failed: {f}", file=sys.stderr)
        for r in op_fails:
            print(f"[perfbench] op failed: {r['name']}: {r['error']}",
                  file=sys.stderr)
        if a.trace:
            families = sorted({f[len("family."):-len("_s")] for f in units
                               if f.startswith("family.")})
            values = per_layer(recs, families, model)
        else:
            values = end_to_end(recs)
        missing = sorted(set(units) - set(values))
        if missing:
            raise RunError(f"metrics not measured: {missing}")
        meta = recs["meta"][0]
        commit, dirty = stamp_vcs()
        print(json.dumps({"stamp": {
            "workload": a.workload, "seed": a.seed, "trace": int(a.trace),
            "commit": commit, "dirty": dirty, "nproc": cores,
            "sf": spec.get("sf"), "heap_mb": meta["heap_mb"],
            "spark_version": meta["spark_version"], "passes": meta["passes"],
            "timed_s": meta["timed_sec"]}}))
        failed = len(op_fails) + len(fails)
        result = {"correct": failed == 0, "attempted": len(recs["op"]),
                  "failed": failed,
                  "metrics": {k: {"value": values[k], "unit": units[k]}
                              for k in units}}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(run_dir, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    try:
        return run(a)
    except (RunError, build.BuildError, OSError, ValueError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
