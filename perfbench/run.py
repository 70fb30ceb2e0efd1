#!/usr/bin/env python3
"""Benchmark of the Spark AFG engine: one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
benchmark runner from source (sbt, offline) into .bench_build/ and
generates the contract tables; later calls reuse both. Each call starts
a fresh JVM (Spark local[4], one client, closed loop), prints every
metric by name with its unit, checks every operation's output, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 reports the
per-layer metrics instead: after one more warm-up pass it alternates
untraced and traced passes, then runs the layer probes. A traced
operation whose construction + Catalyst + execution time differs from
its wall time by more than 10% counts as failed.

The expected contract outputs in expected.json are written by
record_expected.py, only from outputs that tools/validate.py matched
against DuckDB.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CONFIG = json.loads((HERE / "workloads.json").read_text())
EXPECTED = HERE / "expected.json"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
MAX_PARTS_GAP = 0.10
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + runner once per source state; return the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; run from the repository root")
    stamp = BUILD / "build.stamp"
    cp_file = BUILD / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + str(Path.home() / ".sbt" / "repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building engine and runner (sbt)")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                           "-J-XX:-UsePerfData",
                           "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp_file.write_text(lines[-1])
    stamp.write_text(fp)
    return lines[-1]


def tables(scale):
    """Contract tables at `scale`, generated once from the fixed table seed."""
    out = BUILD / "data" / scale
    done = out / "_DONE"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        log(f"generating contract tables {scale}")
        subprocess.run([sys.executable, str(HERE / "gen_tables.py"), scale.removeprefix("sf"),
                        str(CONFIG["table_seed"]), str(out)], check=True, timeout=300)
        done.write_text("ok")
    return out


def fresh_work_dir(workload, seed):
    work = BUILD / "work" / workload
    for sub in ["tmp", "afg_out", "warehouse", "spark-local", "derby", "result.json"]:
        p = work / sub
        shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
    inputs = work / "afg_inputs"
    if inputs.is_dir():  # keep only this seed's raw inputs
        for d in inputs.iterdir():
            if not d.name.startswith(f"seed_{seed}_"):
                shutil.rmtree(d, ignore_errors=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return work


def java_cmd(cp, work, main, argv):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xms{CONFIG['threads']['jvm_heap']}", f"-Xmx{CONFIG['threads']['jvm_heap']}",
               "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.2",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dderby.system.home={work / 'derby'}", "-Dspark.ui.enabled=false",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-cp", cp, main] + argv)


def run_jvm(cp, work, argv):
    cmd = java_cmd(cp, work, "perfbench.Main", argv)
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    return json.loads((work / "result.json").read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check_samples(samples, expected, records):
    """Marks each sample ok/failed: errors, contract outputs that differ
    from their recorded expected rows and checksum, and traced operations
    whose layer parts do not add up to their wall time."""
    gaps = {(r["op"], r["pass"]): r["parts_gap"] for r in records}
    failed = []
    for s in samples:
        exp = expected.get(s["op"]) if expected is not None else None
        bad = s["err"] is not None
        if not bad and expected is not None:
            bad = exp is None or exp["rows"] != s["rows"] or exp["checksum"] != s["checksum"]
            if bad:
                log(f"{s['op']}: output rows={s['rows']} checksum={s['checksum']} != expected {exp}")
        gap = gaps.get((s["op"], s["pass"])) if s["traced"] else None
        if not bad and gap is not None and gap > MAX_PARTS_GAP:
            bad = True
            log(f"{s['op']} (pass {s['pass']}): construction + Catalyst + execution is "
                f"{gap:.1%} off its traced wall time")
        if bad:
            failed.append(s)
    return failed


def per_layer(result, cores, untraced_pass_s):
    recs = result["records"]
    by_pass = {}
    for r in recs:
        by_pass.setdefault(r["pass"], []).append(r)

    def pass_median(f):
        return median([f(rs) for rs in by_pass.values()])

    def total(key):
        return pass_median(lambda rs: sum(r[key] for r in rs))

    m = dict(result["layers"])
    m["SparkEntry.build_s"] = total("build_s")
    m["SparkEntry.build_jobs"] = total("build_jobs")
    m["catalyst.analysis_s"] = total("analysis_s")
    m["catalyst.optimization_s"] = total("optimization_s")
    m["catalyst.planning_s"] = total("planning_s")
    for k in ["jobs", "stages", "tasks", "task_wait_s", "task_failures", "task_s", "cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "scan_read_mb"]:
        m[f"exec.{k}"] = total(k)
    m["exec.s"] = total("exec_s")
    m["exec.peak_exec_mem_mb"] = pass_median(lambda rs: max(r["peak_exec_mem_mb"] for r in rs))
    m["exec.core_util"] = pass_median(
        lambda rs: sum(r["task_s"] for r in rs) / max(1e-9, cores * sum(r["exec_s"] for r in rs)))
    m["exec.scan_amplification"] = pass_median(
        lambda rs: sum(r["scan_read_mb"] for r in rs) / max(1e-9, sum(r["file_mb"] for r in rs)))
    traced_pass_s = pass_median(lambda rs: sum(r["wall_s"] for r in rs))
    m["trace.pass_s"] = traced_pass_s
    m["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    m["trace.parts_max_gap"] = max(r["parts_gap"] for r in recs)
    m["trace.ops_over_10pct"] = sum(1 for r in recs if r["parts_gap"] > MAX_PARTS_GAP)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, default=CONFIG["default_seed"])
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    wl = CONFIG["workloads"][a.workload]
    cp = build()
    data = {s: tables(s) for s in {wl["scale"], "sf0.1"}}
    work = fresh_work_dir(a.workload, a.seed)
    cores = int(CONFIG["threads"]["spark_master"].strip("local[]"))
    argv = ["--workload", wl["kind"], "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(work / "result.json"),
            "--cores", str(cores), "--min-passes", str(CONFIG["min_passes"]),
            "--tables", str(data[wl["scale"]]), "--probe-tables", str(data["sf0.1"]),
            "--rm-comunas", str(CONFIG["afg_inputs"]["rm_comunas"]),
            "--er-rows", str(CONFIG["afg_inputs"]["er_rows"])]
    if wl["kind"] == "contract":
        argv += ["--queries", ",".join(CONFIG["contract_queries"])]
    result = run_jvm(cp, work, argv)
    shutil.rmtree(work / "afg_out", ignore_errors=True)

    samples = result["samples"]
    expected = None
    if wl["kind"] == "contract":
        expected = json.loads(EXPECTED.read_text()).get(wl["scale"], {})
    failed = check_samples(samples, expected, result["records"])

    timed = [s for s in samples if s["pass"] >= result["warmup_passes"] and not s["traced"]]
    passes = {}
    for s in timed:
        passes.setdefault(s["pass"], []).append(s)
    pass_s = median([sum(s["wall_s"] for s in ss) for ss in passes.values()])
    per_op = {}
    for s in timed:
        per_op.setdefault(s["op"], []).append(s["wall_s"])
    if wl["kind"] == "afg" and sorted(per_op) != sorted(wl["ops"]):
        raise SystemExit(f"perfbench: ran ops {sorted(per_op)}, workloads.json lists {sorted(wl['ops'])}")
    metrics = {
        "pass_s": pass_s,
        "op_p50_s": median([s["wall_s"] for s in timed]),
        "cpu_s": median([sum(s["cpu_s"] for s in ss) for ss in passes.values()]),
        "peak_rss_mb": result["peak_rss_mb"],
        "setup_s": result["setup_s"],
    }
    if a.trace:
        metrics = per_layer(result, cores, pass_s)
        (work / "trace_ops.json").write_text(json.dumps(result["records"], indent=1) + "\n")

    # report exactly the metrics BENCHMARK.json declares for this mode
    declared = BENCH["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: (metrics[m["name"]], m["unit"]) for m in declared}

    print(f"workload {a.workload} seed {a.seed}: {result['timed_passes']} timed passes of "
          f"{len(per_op)} ops ({len(timed)} timed samples), {len(failed)}/{len(samples)} "
          f"ops failed (op_failed_frac {len(failed) / len(samples):.4f})")
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    if a.trace:
        print(f"  per-operation layer split: {work / 'trace_ops.json'}")
    out = {"correct": not failed, "attempted": len(samples), "failed": len(failed),
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
