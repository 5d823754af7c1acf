#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness with sbt (offline) into `.bench_build/` and rebuilds only when a
source file changes. Each run then:

  1. generates the arXiv snapshot from the seed; the catalog rows read the
     repository's fixed sf0.01 test tables, copied unchanged into
     `data/sf0.01/`, and the seed only orders the rows;
  2. starts one JVM that sets up a Spark session (inputs registered),
     primes the catalog rows with one untimed pass, and then runs the
     workload's operations back to back, in a seeded order, in whole
     passes until the time is up (a closed loop with one client). `setup_s` is the input generation plus the time from JVM
     start to the first timed operation;
  3. checks every output: catalog rows against their DuckDB oracle, the
     arXiv pipeline against the generator's ground truth;
  4. prints the metrics as the last line of standard output.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
every pass is traced and the per-layer metrics are printed, with a
per-operation layer split before them; the traced `trace.wall_s` minus the
untraced `wall_s` of the same seed is the tracing overhead.
Each run's full record (host, config, samples) is kept under
`.bench_build/results/` for `compare.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

ROOT = HERE.parent

# Input and heap per workload. The snapshot size keeps a run within the
# per-run time budget on a 4-core host; the heap is fixed at start
# (-Xms = -Xmx) so heap growth policy adds no run-to-run noise to time or
# peak RSS.
WORKLOADS = {
    "arxiv_etl": {"records": 400, "heap_mb": 4096},
    "catalog_mix": {"tables": "data/sf0.01", "heap_mb": 1024},
}
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit, as the repository's build runs it.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
         "cpu_s": "s", "peak_rss_mb": "MB"}
MODULES = ["Catalyst", "StoreFiles", "Bpe", "Graph", "Dedup", "Similarity", "arxiv"]
STAGES = ["ingest", "clean", "enrich", "citations", "validate"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(bdir, digest):
    """Compile library and harness; return the runtime classpath."""
    cp_file = bdir / "classpath.txt"
    if cp_file.exists():
        stamp, cp = cp_file.read_text().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's global state, ivy lock and socket directory go inside the build dir
    (bdir / "sbt-tmp").mkdir(exist_ok=True)
    opts = [env.get("SBT_OPTS", ""), "-Xmx3g", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={bdir / 'sbt-global'}",
            f"-Dsbt.ivy.home={bdir / 'ivy2'}", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={bdir / 'sbt-tmp'}", f"-Djna.tmpdir={bdir / 'sbt-tmp'}",
            f"-Dswoval.tmpdir={bdir / 'sbt-tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists() and "sbt.repository.config" not in opts[0]:
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    # also covers the JVMs the sbt launcher script starts to probe java
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = bdir / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    lines = log.read_text().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); see {log}")
    cp_file.write_text(digest + "\n" + cps[-1])
    return cps[-1]


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def prepare_input(workload, seed, work):
    """Returns the input directory and the seconds spent generating it."""
    spec = WORKLOADS[workload]
    if "tables" in spec:
        tables = HERE / spec["tables"]
        if not (tables / "lineitem.parquet").is_file():
            die(f"bench tables missing under {tables}")
        return tables, 0.0
    import gen_arxiv
    t0 = time.perf_counter()
    gen_arxiv.write_snapshot(str(work / "input"), seed, spec["records"])
    return work / "input", time.perf_counter() - t0


def sum_pass(traced_ops, key, sub=None):
    by_pass = {}
    for o in traced_ops:
        v = o[sub].get(key, 0.0) if sub else o[key]
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + v
    return by_pass


def max_pass(traced_ops, key):
    by_pass = {}
    for o in traced_ops:
        by_pass[o["pass"]] = max(by_pass.get(o["pass"], 0.0), o[key])
    return by_pass


def per_layer(res, cpus):
    """Per-pass totals of the traced passes, reported as medians."""
    t = res["traced_ops"]
    passes = sorted({o["pass"] for o in t})

    def med(by_pass, scale=1.0):
        return stats.median([by_pass.get(p, 0.0) for p in passes]) * scale

    def ctr(name, scale=1.0):
        return med(sum_pass(t, name, "counters"), scale)

    m = {}
    m["catalyst.plan_ms"] = ctr("catalyst.plan_ms")
    m["catalyst.executions"] = ctr("catalyst.executions")
    m["catalyst.plan_ms_per_exec"] = m["catalyst.plan_ms"] / max(1.0, m["catalyst.executions"])
    for k in ["jobs", "stages", "tasks", "task_run_ms", "gc_ms"]:
        m[f"scheduler.{k}"] = ctr(f"scheduler.{k}")
    m["scheduler.job_busy_ms"] = med(sum_pass(t, "job_busy_ms"))
    m["scheduler.task_util"] = m["scheduler.task_run_ms"] / max(1.0, m["scheduler.job_busy_ms"] * cpus)
    m["shuffle.read_mb"] = ctr("shuffle.read_b", 1e-6)
    m["shuffle.write_mb"] = ctr("shuffle.write_b", 1e-6)
    m["shuffle.spill_mb"] = ctr("shuffle.spill_b", 1e-6)
    m["split.wall_ms"] = med(sum_pass(t, "wall_ms"))
    m["split.catalyst_ms"] = med(sum_pass(t, "catalyst_ms"))
    m["split.scheduler_ms"] = med(sum_pass(t, "scheduler_ms"))
    m["driver.other_ms"] = med(sum_pass(t, "driver_ms"))
    m["driver.gc_ms"] = med(sum_pass(t, "driver_gc_ms"))
    for mod in MODULES:
        m[f"driver.{mod}_ms"] = med(sum_pass(t, mod, "modules"))
    m["store.write_mb"] = ctr("store.write_b", 1e-6)
    m["store.live_mb"] = med(max_pass(t, "store_live_b"), 1e-6)
    m["store.files"] = med(max_pass(t, "store_files"))
    m["store.job_ms"] = ctr("store.job_ms")
    m["sources.scan_mb"] = ctr("sources.scan_b", 1e-6)
    m["sources.scan_records"] = ctr("sources.scan_records")
    stages = res["arxiv_stages"]
    for s in STAGES:
        m[f"arxiv.{s}_ms"] = stats.median([x[s] for x in stages]) if stages else 0.0
    pipe = sum_pass(t, "pipeline_ms")
    other = [pipe.get(p, 0.0) - sum(x[s] for s in STAGES)
             for p, x in zip(passes, stages)]
    m["arxiv.pipeline_other_ms"] = stats.median(other) if other else 0.0
    m["arxiv.scholar_calls"] = med(sum_pass(t, "scholar_calls"))
    m["arxiv.scholar_ms"] = med(sum_pass(t, "scholar_ms"))
    m["trace.wall_s"] = stats.median([p["wall_s"] for p in res["passes"]])
    return m


def print_split(res):
    t = res["traced_ops"]
    first = min(o["pass"] for o in t)
    print(f"{'operation':34s} {'wall_ms':>8s} {'catalyst':>8s} {'scheduler':>9s} "
          f"{'driver':>8s} {'jobs':>5s}")
    for o in sorted((o for o in t if o["pass"] == first), key=lambda o: -o["wall_ms"]):
        print(f"{o['name']:34s} {o['wall_ms']:8.0f} {o['catalyst_ms']:8.0f} "
              f"{o['scheduler_ms']:9.0f} {o['driver_ms']:8.0f} "
              f"{o['counters'].get('scheduler.jobs', 0):5.0f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no library sources next to {HERE.name}/ (need build.sbt and src/main/scala)")
    java = shutil.which("java")
    if java is None:
        die("java not found on PATH")

    bdir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bdir.mkdir(parents=True, exist_ok=True)
    digest = source_digest()
    classpath = build(bdir, digest)
    started = time.monotonic()  # a build may take longer; a run may not

    work = bdir / "run" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    input_dir, gen_s = prepare_input(a.workload, a.seed, work)

    cpus = min(4, len(os.sched_getaffinity(0)))
    xmx_mb = min(WORKLOADS[a.workload]["heap_mb"], mem_total_mb() // 3)
    out = work / "result.json"
    cmd = [java, f"-Xms{xmx_mb}m", f"-Xmx{xmx_mb}m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", str(input_dir), "--work", str(work),
            "--out", str(out), "--cpus", str(cpus)]
    budget = max(10.0, RUN_LIMIT_S - (time.monotonic() - started))
    log = work / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_LIMIT_S}s; see {log}", 3)
    if rc != 0 or not out.exists():
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        die(f"harness JVM failed (rc={rc}); see {log}", 1)
    res = json.loads(out.read_text())

    # ---- correctness
    passes = res["passes"]
    errors = {o["name"]: o["error"] for o in res["ops"] if o["error"]}
    names = sorted({o["name"] for o in res["ops"]})
    if a.workload != "arxiv_etl":
        import oracle
        for name, err in oracle.check(str(input_dir), str(work / "out"), names).items():
            if err:
                errors.setdefault(name, f"{name}: {err}")
    for e in res["warmup_errors"]:
        errors.setdefault(e.split(":")[0], e)
    failed = sum(1 for o in res["ops"] if o["name"] in errors)
    attempted = len(res["ops"])
    for e in sorted(errors.values()):
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    # ---- metrics
    ms = [o["ms"] for o in res["ops"]]
    tail, pct, n = stats.tail(ms)
    e2e = {
        "setup_s": gen_s + res["setup_s"],
        "wall_s": stats.median([p["wall_s"] for p in passes]),
        "op_p50_ms": stats.median(ms),
        "op_tail_ms": tail,
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = per_layer(res, cpus) if a.trace else {}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": {"nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)),
                 "mem_total_mb": mem_total_mb()},
        "config": dict(res["config"], xmx_mb=xmx_mb, cpus=cpus,
                       input=WORKLOADS[a.workload], git_commit=git_commit(),
                       source_digest=digest),
        "gen_s": gen_s, "session_s": res["session_s"], "prime_s": res["prime_s"],
        "passes": passes,
        "op_ms": {n: [o["ms"] for o in res["ops"] if o["name"] == n] for n in names},
        "tail": {"percentile": pct, "samples": n},
        "attempted": attempted, "failed": failed, "errors": sorted(errors.values()),
        "end_to_end": e2e, "per_layer": layers,
        "jobs_per_pass": [v for _, v in sorted(
            sum_pass(res["traced_ops"], "scheduler.jobs", "counters").items())],
    }
    rdir = bdir / "results"
    rdir.mkdir(exist_ok=True)
    (rdir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True))
    cfg = record["config"]
    print(f"perfbench: {a.workload} seed={a.seed} nproc={os.cpu_count()} "
          f"mem={mem_total_mb()}MB xmx={xmx_mb}MB master={cfg['master']} "
          f"shuffle_partitions={cfg['shuffle_partitions']} spark={cfg['spark_version']} "
          f"commit={cfg['git_commit']} sources={digest} passes={len(passes)} "
          f"tail=p{pct:.1f}/n={n}", file=sys.stderr)
    if a.trace:
        print_split(res)
        metrics = layers
        units = {k: layer_unit(k) for k in layers}
    else:
        metrics = e2e
        units = UNITS
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def layer_unit(name):
    if name.endswith("_ms") or name.endswith("_ms_per_exec"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("task_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
