#!/usr/bin/env python3
"""Benchmark entry point. Run from the repo root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the engine and harness (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), runs one workload in a fresh JVM, checks its
outputs, and prints one JSON object as the last stdout line: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. Everything a run writes stays under the repo root: the
build in .bench_build, scratch in .bench_run (removed at exit) and a
sidecar with the full result, spans and host noise in .bench_out.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]
# Pinned so that a run never depends on the caller's environment; recorded in the sidecar.
CODEGEN_CACHE = "4096"
JVM_EXTRA = ""
# A fixed set of JIT compiler threads, so that the engine CPU time (process
# CPU less the compiler threads') can list them once.
JVM_FLAGS = ["-XX:-UseDynamicNumberOfCompilerThreads"]
RUN_LIMIT_S = 170
# Per-layer metrics (name prefixes) of layers a workload does not exercise
# by design: a traced run reports them as 0. Any other per-layer metric a
# traced run lacks is an error.
NOT_EXERCISED = {
    "query_mix": ("sql.", "tables.", "sources.", "dml.", "stream."),
    "table_dml": ("queries.", "plans.", "family.", "functions.", "operators."),
}
# Event files staged for table_dml's stream step, one drained per round.
STREAM_FILES = 16
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def host_noise():
    """CPU steal (jiffies, summed over CPUs) and load averages."""
    out = {"t": round(time.time() - T_START, 3)}
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        out["steal_jiffies"] = int(f[8]) if len(f) > 8 else 0
        out["total_jiffies"] = sum(int(x) for x in f[1:])
    except OSError:
        pass
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        pass
    return out


def heap_mb():
    """Driver heap pinned to the machine: a third of RAM, 2-6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2048, min(6144, kb // 1024 // 3))
    except (OSError, StopIteration):
        return 2048


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2 ** 63 else v
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=datetime.timezone.utc) if v.tzinfo is None else v
        return int(d.timestamp()) * 1_000_000 + d.microsecond
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return [[norm(k), norm(x)] for k, x in v.items()]
    return v


def fingerprint(rows):
    """Row count plus an order-sensitive hash of the normalized rows."""
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps([norm(x) for x in r]).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def oracle_checks(data, work, inject):
    """query_mix: each collected result against the DuckDB oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checks = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        path = os.path.join(work, "results", f"{name}.jsonl")
        if not os.path.exists(path):
            checks.append({"name": f"query_mix.{name}", "ok": False, "detail": "no result"})
            continue
        with open(path) as fh:
            cols = json.loads(fh.readline())
            got = [json.loads(l) for l in fh]
        rel = con.sql(sql)
        order = sorted(range(len(rel.columns)), key=lambda j: rel.columns[j])
        want = [[r[j] for j in order] for r in rel.fetchall()]
        fw, fg = fingerprint(want), fingerprint(got)
        if inject and i == 0:
            fw = (fw[0], "0" * 16)
        ok = sorted(rel.columns) == cols and fw == fg and fw[0] > 0
        checks.append({"name": f"query_mix.{name}", "ok": ok,
                       "detail": f"oracle {fw} vs engine {fg}"})
    return checks


def launch(classpath, flags, args, run_dir, limit_s):
    """Runs graftbench.Main in a fresh JVM with its scratch under `run_dir`;
    returns the exit code ("timeout" if it ran past `limit_s`) and the log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata files outside the run directory
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData", *JVM_FLAGS, *flags, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_EXTRA.split()
           + ["-cp", classpath, "graftbench.Main", *args])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CODEGEN_CACHE", "SPARK_GRAFT_JVM_EXTRA", "SPARK_LOCAL_DIRS")}
    env["SPARK_LOCAL_DIRS"] = tmp
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    return rc, log


def class_archive(classpath):
    """Flags that map the class-data-sharing archive of the classes a run
    loads. The archive belongs to the build: the first run after a build
    makes it with the untimed rounds of both workloads on tiny inputs
    (--workload train --seconds 0), and every later JVM maps it instead of
    loading and verifying those classes from the jars again, which takes
    seconds off session start and the cold round. If the JVM makes no
    archive, runs go without one."""
    out = build.out_dir()
    jsa = os.path.join(out, build.ARCHIVE)
    if not os.path.exists(jsa) and not os.path.exists(jsa + ".none"):
        run_dir = os.path.join(os.getcwd(), ".bench_run", f"archive-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
            os.makedirs(work)
            gen.generate(0, data, 0.001, STREAM_FILES)
            rc, log = launch(classpath, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
                             ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
                              "--data", data, "--work", work, "--out", os.path.join(run_dir, "result.json")],
                             run_dir, 600)
            if rc != 0:
                with open(log) as fh:
                    sys.stderr.write(fh.read()[-6000:])
                raise SystemExit(f"class archive run failed ({rc})")
            if os.path.exists(jsa + ".tmp"):
                os.rename(jsa + ".tmp", jsa)
            else:
                open(jsa + ".none", "w").close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["query_mix", "table_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=0.01, help="input size (tests use 0.001)")
    ap.add_argument("--inject", type=int, choices=[0, 1], default=0,
                    help="plant one wrong expected value (self-test)")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build.build()
    archive = class_archive(classpath)

    t_run = time.time()
    noise = [host_noise()]
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.generate(a.seed, data, a.scale, STREAM_FILES if a.workload == "table_dml" else 0)
        gen_s = time.time() - t0
        heap = heap_mb()
        out = os.path.join(run_dir, "result.json")
        rc, log = launch(classpath, archive,
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
                          "--inject", str(a.inject)],
                         run_dir, RUN_LIMIT_S - (time.time() - t_run))
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        with open(out) as fh:
            res = json.load(fh)
        checks = list(res["checks"])
        if a.workload == "query_mix":
            checks += oracle_checks(data, work, a.inject)
        noise.append(host_noise())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = [c for c in checks if not c["ok"]]
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad)
    e2e = {k: dict(v) for k, v in res["e2e"].items()}
    if a.trace:
        have = res["layers"] if isinstance(res["layers"], dict) else {}
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in have and not m["name"].startswith(NOT_EXERCISED[a.workload])]
        if missing:
            raise SystemExit(f"traced run did not report per-layer metrics {missing}")
        metrics = {m["name"]: {"value": have.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    sidecar_dir = os.path.join(root, ".bench_out")
    os.makedirs(sidecar_dir, exist_ok=True)
    sidecar = os.path.join(sidecar_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(T_START)}.json")
    with open(sidecar, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "scale": a.scale, "nproc": os.cpu_count(), "heap_mb": heap, "gen_s": gen_s,
                   "pins": {"SPARK_GRAFT_CODEGEN_CACHE": CODEGEN_CACHE, "SPARK_GRAFT_JVM_EXTRA": JVM_EXTRA,
                            "jvm_flags": JVM_FLAGS + archive},
                   "host": noise, "e2e": e2e, "layers": res["layers"], "counters": res["counters"],
                   "samples": res["samples"], "checks": checks, "conf": res["conf"], "extra": res["extra"],
                   "fail_ratio": failed / max(1, attempted), "spans": res["spans"]}, fh)
    for c in bad:
        print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print("host " + json.dumps({"start": noise[0], "end": noise[-1]}))
    print("sidecar " + os.path.relpath(sidecar, root))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
