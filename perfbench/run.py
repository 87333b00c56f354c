#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload uba_dashboard --seed 1 --seconds 6 --trace 0

Run from the repository root. It builds the library and the harness from
source (perfbench/build.sbt; skipped when nothing changed since the last
build), generates the workload's inputs from the seed, runs the JVM
harness (graftbench.Main) for the given seconds of op time, checks the
outputs against the DuckDB oracle, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` the per-layer metrics and writes the
span file named on stderr. See perfbench/README.md.
"""
import argparse
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

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import gen  # noqa: E402

WORKLOADS = ("uba_dashboard", "retention_bulk", "curation_chain", "retention_stream")
DEADLINE_S = 170  # the whole run, build excluded

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s",
              "retained_heap_mb": "MB"}
PER_LAYER = {
    "graft.session_s": "s", "graft.register_s": "s", "entry.build_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.exchanges": "count", "plan.codegen_stages": "count",
    "plan.codegen_fallback_exprs": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "shuffle.fetch_wait_s": "s", "scan.rows": "count", "scan.mb": "MB",
    "scan.time_s": "s",
    "retention.agg_time_s": "s", "retention.sort_fallback_tasks": "count",
    "retention.builtin_ratio": "ratio",
    "functions.gate_s": "s", "functions.gate_kept_ratio": "ratio",
    "dedup.lsh_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_ratio": "ratio", "dedup.cc_s": "s", "dedup.cc_jobs": "count",
    "dedup.winnow_s": "s", "decon.s": "s", "split.s": "s", "pack.s": "s",
    "sink.write_s": "s",
    "streaming.add_data_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.rows_removed": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "cache.persisted_rdds_end": "count", "cache.storage_mb_end": "MB",
    "host.probe_s": "s", "trace.overhead_ratio": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"error: {msg}")
    sys.exit(code)


def java_opts(run_dir):
    """Heap from MemTotal (a quarter, 2-8 GiB): the repo's build.sbt
    default of 16g can exceed the host. Spark's scratch and warehouse
    directories go into the run directory."""
    heap_mb = 4096
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                heap_mb = min(8192, max(2048, int(line.split()[1]) // 4 // 1024))
    except OSError:
        pass
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return ([f"-Xmx{heap_mb}m", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dspark.local.dir={run_dir}/tmp/spark-local",
             f"-Dspark.sql.warehouse.dir={run_dir}/tmp/warehouse"]
            + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")])


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(list((root / "src" / "main").rglob("*"))
                   + list((HERE / "src").rglob("*"))
                   + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles the harness with the library sources; returns the runtime
    classpath. Skipped when the sources match the last build."""
    stamp = source_stamp(root)
    cp_file, stamp_file = build_dir / "classpath.txt", build_dir / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building harness and library (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"build took {time.time() - t:.1f}s")
    return lines[-1].strip()


def run_jvm(cp, args, run_dir, deadline):
    java = (Path(os.environ["JAVA_HOME"]) / "bin" / "java"
            if "JAVA_HOME" in os.environ else "java")
    cmd = [str(java)] + java_opts(run_dir) + ["-cp", cp, "graftbench.Main"] + args
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("harness timed out" if code is None else f"harness exited with {code}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: the library sources "
             "(src/main/scala/graft) are not here", 2)
    import oracle  # uses the repo's scripts/compare.py
    build_dir = root / ".bench_build" / "perfbench"
    cp = build(root, build_dir)
    t_start = time.time()

    run_dir = build_dir / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = run_dir / "data", run_dir / "out"
    for d in (data_dir, out_dir, run_dir / "tmp"):
        d.mkdir(parents=True)
    try:
        t = time.time()
        sizes, planted = gen.generate(a.workload, a.seed, str(data_dir))
        log(f"inputs {sizes} generated in {time.time() - t:.2f}s (not timed)")

        cores = len(os.sched_getaffinity(0))
        run_jvm(cp, ["--workload", a.workload, "--data", str(data_dir),
                     "--rows", str(sum(sizes.values())),
                     "--out", str(out_dir), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cores", str(cores)],
                run_dir, t_start + DEADLINE_S)
        res = json.loads((out_dir / "result.json").read_text())

        t = time.time()
        if a.workload == "uba_dashboard":
            verdict = oracle.check_queries(data_dir, out_dir, run_dir)
        elif a.workload == "retention_bulk":
            verdict = oracle.check_retention(data_dir, out_dir, run_dir)
        elif a.workload == "curation_chain":
            verdict = oracle.check_curation(data_dir, out_dir, planted)
        else:
            verdict = {}
        log(f"oracle checked {len(verdict)} outputs in {time.time() - t:.2f}s (not timed)")

        ops = res["ops"]
        bad = {o["id"] for o in ops if not o["ok"] or verdict.get(o["name"])}
        for o in ops:
            if o["err"]:
                log(f"op {o['id']} {o['name']}: {o['err']}")
        for name, err in verdict.items():
            if err:
                log(f"oracle mismatch on {name}: {err}")
        check_failed = 0
        for c in res["checks"]:
            log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
            check_failed += c["ops"]
        attempted = len(ops)
        failed = min(attempted, len(bad) + check_failed)
        correct = (failed == 0 and all(c["ok"] for c in res["checks"])
                   and not any(verdict.values()))

        s = res["setup"]
        setup_s = sum(s.values())
        secs = [o["s"] for o in ops]
        log(f"set-up {setup_s:.3f}s ({', '.join(f'{k} {v:.3f}' for k, v in s.items())}); "
            f"warm-up {res['warmup_s']:.2f}s; {attempted} ops in {sum(secs):.2f}s; "
            f"host probe {res['probe_s']}")
        by_name = {}
        for o in ops:
            by_name.setdefault(o["name"], []).append(o["s"])
        log("op median s: " + ", ".join(f"{n} {median(v):.3f}x{len(v)}"
                                         for n, v in by_name.items()))
        if a.trace:
            values = {k: res["layers"].get(k) for k in PER_LAYER}
            missing = [k for k, v in values.items() if v is None]
            if missing:
                fail(f"traced run lacks {missing}")
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
            traces = build_dir / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            dest = traces / f"{a.workload}-seed{a.seed}-{int(time.time())}.jsonl"
            shutil.copy(out_dir / "trace.jsonl", dest)
            summary = json.loads(dest.read_text().splitlines()[-1])["summary"]
            log(f"spans written to {dest}; per layer (total_s, self_s, count):")
            for layer, v in sorted(summary.items()):
                log(f"  {layer:24s} {v['total_s']:9.3f} {v['self_s']:9.3f} {v['count']:6d}")
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": median(secs),
                "rows_per_s": sum(o["rows"] for o in ops) / sum(secs),
                "retained_heap_mb": res["retained_heap_mb"],
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
