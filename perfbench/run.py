#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client per workload, driving graft's
public functions in one Spark local-mode JVM.

    python3 perfbench/run.py --workload llm_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark's JVM
program (and graft with it) into .bench_build/. Each run generates its inputs from the
seed, starts one JVM, sets up (session + first warm-up op), runs the other op
kinds once on small inputs, measures whole rounds of the seeded op schedule until
--seconds have passed, checks every op's output against DuckDB, and prints
one JSON object as the last stdout line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "jvm/**/*.s*"), recursive=True))
    for f in files:
        if "/target/" in f:
            continue
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the benchmark's JVM program once per source state;
    returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.json")
    try:
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("[perfbench] building the benchmark (first run only)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def write_schedule(path, ops):
    with open(path, "w") as f:
        for o in ops:
            f.write("\t".join(str(x) for x in [o["id"], o["round"], o["kind"]] + o["args"]) + "\n")


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, run_dir, argv, cores):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dgraft.jobs.dir={os.path.join(run_dir, 'jobs')}",
        "-cp", classpath, "graft.perfbench.PerfBench"] + argv
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               GRAFT_STREAM_SCRATCH=os.path.join(run_dir, "stream"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] benchmark JVM timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] benchmark JVM exited with {rc}")


def read_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] run from the repository root: graft's sources are missing")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    classpath = build(root, build_dir)
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))

    wl = workloads.WORKLOADS[args.workload]
    t_gen = time.time()
    data_dir = os.path.join(build_dir, "inputs", args.workload)
    warm_dir = os.path.join(build_dir, "inputs", args.workload + "-warm")
    manifest = gen.ensure(data_dir, wl.spec, args.seed)
    warm_manifest = gen.ensure(warm_dir, wl.warm_spec, args.seed)
    gen_s = time.time() - t_gen

    run_dir = os.path.join(build_dir, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    timed_ops = wl.schedule(args.seed, manifest, rounds=wl.max_rounds)
    warm_ops = wl.warm_schedule(warm_manifest)
    write_schedule(os.path.join(run_dir, "schedule.tsv"), timed_ops)
    write_schedule(os.path.join(run_dir, "warm.tsv"), warm_ops)
    out_dir = os.path.join(run_dir, "out")
    t_jvm = time.time()
    try:
        run_jvm(classpath, run_dir, [
            f"workload={args.workload}", f"data={data_dir}", f"warm={warm_dir}",
            f"schedule={os.path.join(run_dir, 'schedule.tsv')}",
            f"warm_schedule={os.path.join(run_dir, 'warm.tsv')}",
            f"out={out_dir}", f"seconds={args.seconds}", f"trace={args.trace}"], cores)
        jvm_s = time.time() - t_jvm
        records = read_records(os.path.join(out_dir, "records.jsonl"))
        by_id = {o["id"]: o for o in timed_ops}
        ops = [r for r in records if r["kind"] == "op"]
        t_check = time.time()
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracles = json.load(f)
        checker = expect.Checker(data_dir, manifest, oracles)
        failures = []
        for r in ops:
            ok, why = (False, r["error"]) if "error" in r else checker.check(by_id[r["id"]], r)
            r["ok"] = ok
            if not ok:
                failures.append(f"op {r['id']} {r['op']}: {why}")
        checker.close()
        check_s = time.time() - t_check
        if args.trace:
            trace_path = os.path.join(build_dir, f"trace_{args.workload}.jsonl")
            shutil.copyfile(os.path.join(out_dir, "records.jsonl"), trace_path)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = [(r["end"] - r["start"]) / 1e6 for r in ops]
    rows_in = sum(by_id[r["id"]]["rows"] for r in ops)
    timed_wall = sum(lat)
    setup = next(r for r in records if r["kind"] == "setup")
    warmup = next(r for r in records if r["kind"] == "warmup")
    pas = next(r for r in records if r["kind"] == "pass")
    failed = sum(1 for r in ops if not r["ok"])
    e2e = {
        "setup_s": ((setup["create_us"] + setup["warmup_us"]) / 1e6, "s"),
        "rows_per_s": (rows_in / timed_wall, "rows/s"),
        "op_p50_s": (stats.median(lat), "s"),
        "peak_rss_mb": (pas["vm_hwm_kb"] / 1024.0, "MB"),
        "result_bytes_per_row": (pas["output_bytes"] / max(pas["output_rows"], 1), "B/row"),
    }
    print(f"workload {args.workload}  seed {args.seed}  {len(ops)} ops in "
          f"{len({r['round'] for r in ops})} rounds  inputs: "
          + ", ".join(f"{t} {v['rows']} rows" for t, v in manifest["tables"].items()))
    print(f"  input generation {gen_s:.2f} s (not in setup_s); JVM {jvm_s:.2f} s: "
          f"set-up {e2e['setup_s'][0]:.2f} s, "
          f"one-off warm-up of the other op kinds {warmup['us'] / 1e6:.2f} s, timed pass with "
          f"untimed cleanups {(pas['end'] - pas['start']) / 1e6:.2f} s; output checks {check_s:.2f} s")
    for k, (v, u) in e2e.items():
        note = f"  (n={len(lat)})" if k == "op_p50_s" else ""
        print(f"  {k:22s} {v:14.4f} {u}{note}")
    tail = stats.highest_resolved_percentile(lat)
    p90 = stats.resolved_percentile(lat, 90)
    print(f"  {'op_p90_s':22s} " + (f"{p90:14.4f} s" if p90 is not None else
          f"{'n/a':>14s}   (fewer than 10 samples above p90 with n={len(lat)})"))
    if tail:
        print(f"  highest percentile with >=10 samples beyond: p{tail[0]} = {tail[1]:.4f} s")
    print(f"  {'failed_ratio':22s} {failed / max(len(ops), 1):14.4f} ratio  "
          f"({failed} of {len(ops)} ops)")
    for f in failures[:10]:
        print("  FAILED " + f)

    if args.trace:
        report = layers.report(records, timed_ops, pas)
        for line in report.lines:
            print(line)
        # the same round, run untraced just before the traced pass
        plain = [r for r in records if r["kind"] == "op_untraced"]
        traced = [r for r in ops if r["round"] == plain[0]["round"]]
        p_lat = [(r["end"] - r["start"]) / 1e6 for r in plain]
        t_lat = [(r["end"] - r["start"]) / 1e6 for r in traced]
        print(f"  tracing overhead on round {plain[0]['round']} ({len(plain)} ops, untraced first): "
              f"wall {sum(t_lat):.3f} s traced vs {sum(p_lat):.3f} s untraced "
              f"({(sum(t_lat) / sum(p_lat) - 1) * 100:+.1f}%), op_p50 {stats.median(t_lat):.4f} vs "
              f"{stats.median(p_lat):.4f} s")
        print(f"  trace records: {trace_path}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.metrics.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
