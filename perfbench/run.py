#!/usr/bin/env python3
"""Run one benchmark workload and print every metric by name with its unit.

    python3 perfbench/run.py --workload api_queries --seed 1 --seconds 10 \\
        --trace 0

Builds the engine and the driver from source on first use (sbt, offline),
generates the workload's inputs from `--seed`, runs the driver JVM, checks
the engine's outputs, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones (from an untraced phase); with `--trace 1`
the per-layer ones, from a traced phase run before the untraced one. See
README.md.
"""
import argparse
import decimal
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

import gen
import metrics as M

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("api_queries", "curation_stream")
SETUPS = 3  # session set-ups per run; setup_s takes their median
JVM_TIMEOUT_S = 170  # a run must end within 180 s
# Spark on JDK 17 outside spark-submit needs the module opens the engine's
# own build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the driver's classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine build at {ROOT}; run from a full checkout")
    digest = source_digest()
    stamp = BENCH / "target" / "classpath.json"
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached["digest"] == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    stamp.parent.mkdir(parents=True, exist_ok=True)
    log = BENCH / "target" / "build.log"
    t0 = time.time()
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
            timeout=840)
        f.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    print(f"perfbench: built in {time.time() - t0:.1f} s")
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    return lines[-1]


def run_jvm(classpath, args, work, timeout):
    java = shutil.which("java") or fail("java not found")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver timed out; see {work / 'jvm.log'}")
    if code != 0 or not (work / "result.json").is_file():
        tail = (work / "jvm.log").read_text().splitlines()[-15:]
        fail(f"driver exited {code}:\n" + "\n".join(tail))
    return json.loads((work / "result.json").read_text())


def decode(v):
    if isinstance(v, dict):
        if "decimal" in v:
            return decimal.Decimal(v["decimal"])
        if "double" in v:
            return float(v["double"])
        return v["other"]
    return v


def rounding_only(spark_rows, oracle_rows):
    """True when every differing value is a double within one unit of the
    6th decimal, the rounding the queries apply: a sum taken in another
    order landed on the other side of a rounding boundary."""
    for a, b in zip(spark_rows, oracle_rows):
        for x, y in zip(a, b):
            if x != y and not (isinstance(x, float) and isinstance(y, float)
                               and abs(x - y) <= 1.5e-6):
                return False
    return True


def oracle_check(input_dir, phase, log_path):
    """Grade the rows each api query returned against its DuckDB oracle SQL
    over the same generated tables, with the engine's comparison rules
    (tools/oracle_check.py: columns sorted by name, type class and value
    compared exactly). A query whose only differences are double rounding
    flips at the 6th decimal is counted apart and does not fail the run."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", ROOT / "tools" / "oracle_check.py")
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir / (t + '.parquet')}')")
    lines, bad, flips = [], [], []
    for name, res in sorted(phase["results"].items()):
        cols = sorted(res["columns"])
        idx = [res["columns"].index(c) for c in cols]
        spark_rows = [tuple(decode(r[i]) for i in idx) for r in res["rows"]]
        cur = con.execute(phase["oracle"][name])
        ocols = [d[0] for d in cur.description]
        if sorted(ocols) != cols:
            verdict = f"SCHEMA spark={cols} oracle={sorted(ocols)}"
        else:
            perm = [ocols.index(c) for c in cols]
            oracle_rows = [tuple(float(r[j]) if isinstance(r[j], decimal.Decimal)
                                 else r[j] for j in perm) for r in cur.fetchall()]
            verdict = oc.compare(spark_rows, oracle_rows, cols)
            if verdict != "OK" and len(spark_rows) == len(oracle_rows) \
                    and rounding_only(spark_rows, oracle_rows):
                flips.append(name)
                verdict = "rounding flip: " + verdict
        lines.append(f"{name}: {verdict}")
        if verdict != "OK" and name not in flips:
            bad.append(name)
    log_path.write_text("\n".join(lines) + "\n")
    return {"name": "api_queries.oracle", "ok": not bad and bool(lines),
            "detail": f"{len(lines) - len(bad)}/{len(lines)} match "
                      f"({len(flips)} by rounding flip only: {flips}); "
                      f"failed: {bad}"}


# -- end-to-end metrics ------------------------------------------------------

def stream_batches(phase):
    """The micro-batches that consumed data, from the query's progress."""
    return [b for b in phase["progress"] if b["end_offset"] > b["start_offset"]]


def samples(workload, phase):
    """(latencies, throughput, attempted, failed) of one measured phase."""
    if workload == "api_queries":
        ops = phase["ops"]
        ok = [o for o in ops if o["ok"]]
        return ([o["end"] - o["start"] for o in ok], len(ok) / phase["wall_s"],
                len(ops), len(ops) - len(ok))
    # throughput: docs per second of micro-batch time, the rate at which
    # the stream works off what it is fed
    batches = stream_batches(phase)
    lat = M.row_latencies(phase["chunks"], batches, "due")
    thr = (sum(b["rows"] for b in batches)
           / sum(b["trigger_s"] for b in batches))
    return ([x for x in lat if x is not None], thr, len(lat),
            sum(x is None for x in lat))


def end_to_end(workload, result, gen_s):
    lat, thr, _, _ = samples(workload, result["untraced"])
    return {
        "setup_s": (gen_s + result["jvm_start_s"]
                    + statistics.median(result["prepare_s"])
                    + result["warm_up_s"], "s"),
        "latency_p50_s": (M.percentile(lat, 50), "s"),
        "throughput_per_s": (thr, "1/s"),
        "heap_live_mb": (result["heap_live_mb"], "MB"),
    }, lat


# -- per-layer metrics -------------------------------------------------------

def op_intervals(workload, phase):
    if workload == "api_queries":
        return [(o["start"], o["end"]) for o in phase["ops"] if o["ok"]]
    return [(b["start"], b["end"]) for b in stream_batches(phase)]


def per_layer(workload, result):
    ph = result["traced"]
    tr = ph["trace"]
    ex = tr["executor"]
    ops = op_intervals(workload, ph)
    n = max(len(ops), 1)
    plans = tr["plans"]
    jobs = [(j["start"], j["end"]) for j in tr["jobs"]]
    wall = sum(e - s for s, e in ops)
    covered = sum(M.union_length(jobs, s, e) for s, e in ops)
    psum = lambda k: sum(p[k] for p in plans)
    scaling = result["core_scaling"]
    p50 = lambda phase: M.percentile(samples(workload, phase)[0], 50)
    m = {
        "sources.scan_metadata_s": (psum("scan_metadata_s") / n, "s"),
        "sources.files_read": (psum("files_read") / n, "count"),
        "sources.bytes_read": (ex["bytes_read"] / n, "bytes"),
        "sources.files_written": (psum("files_written") / n, "count"),
        "sources.bytes_written": (ex["bytes_written"] / n, "bytes"),
        "queries.build_s": (M.mean([o["build_s"] for o in ph.get("ops", [])
                                    if o.get("build_s") is not None]), "s"),
        "planning.analysis_s": (psum("analysis_s") / n, "s"),
        "planning.optimization_s": (psum("optimization_s") / n, "s"),
        "planning.physical_s": (psum("physical_s") / n, "s"),
        "jobs.count": (len(jobs) / n, "count"),
        "jobs.stages": (ex["stages"] / n, "count"),
        "jobs.tasks": (ex["tasks"] / n, "count"),
        "jobs.covered_s": (covered / n, "s"),
        "jobs.driver_gap_s": ((wall - covered) / n, "s"),
        "jobs.core_scaling": (scaling["local1_s"] / scaling["localn_s"], "ratio"),
        "executor.run_s": (ex["run_s"] / n, "s"),
        "executor.cpu_s": (ex["cpu_s"] / n, "s"),
        "executor.gc_s": (ex["gc_s"] / n, "s"),
        "executor.busy_share": (ex["run_s"] / (ph["wall_s"] * result["cpus"]),
                                "ratio"),
        "executor.shuffle_read_bytes": (ex["shuffle_read_bytes"] / n, "bytes"),
        "executor.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n, "bytes"),
        "executor.spill_bytes": (ex["spill_bytes"] / n, "bytes"),
        "executor.task_skew": (ex["task_skew"], "ratio"),
        "trace.overhead_share": (p50(ph) / p50(result["untraced"]) - 1,
                                 "ratio"),
    }
    # the pipeline, store, stream and generator layers: only curation_stream
    # touches them; api_queries reports 0 there
    pipe = dict.fromkeys(["run_s", "kept_ratio"], 0.0)
    store = dict.fromkeys(["maintenance_s", "bytes", "files",
                           "bytes_written_per_batch", "admit_ratio",
                           "bytes_per_doc"], 0.0)
    streaming = dict.fromkeys(["batches", "batch_rows_p50", "trigger_s",
                               "planning_s", "commit_s", "backlog_max_rows"],
                              0.0)
    lag = 0.0
    if workload == "curation_stream":
        st, cp = ph["store"], ph["compaction"]
        prog = tr["progress"]
        data = [p for p in prog if p["rows"] > 0]
        # a micro-batch's addBatch is CurationStream's foreachBatch body:
        # the pipeline step CurationJob.incrementalStep and its decisions
        pipe = {"run_s": M.mean([p["add_batch_s"] for p in data]),
                "kept_ratio": st["probed"] / ph["fed_docs"]}
        store = {"maintenance_s": cp["end"] - cp["start"], "bytes": st["bytes"],
                 "files": st["files"],
                 "bytes_written_per_batch": st["append_bytes"] / n,
                 "admit_ratio": st["new"] / max(st["probed"], 1),
                 "bytes_per_doc": st["bytes"] / (st["standing"] + st["admitted"])}
        streaming = {
            "batches": len(prog),
            "batch_rows_p50": M.median([p["rows"] for p in data]),
            "trigger_s": M.mean([p["trigger_s"] for p in data]),
            "planning_s": M.mean([p["planning_s"] for p in data]),
            "commit_s": M.mean([p["commit_s"] for p in data]),
            "backlog_max_rows": M.backlog_max(ph["chunks"], stream_batches(ph)),
        }
        lag = M.percentile([c["created"] - c["due"] for c in ph["chunks"]], 99)
    unit = lambda k: ("s" if k.endswith("_s") else "ratio" if k.endswith(
        ("_ratio", "_share")) else "count" if k in ("files", "batches")
        or k.endswith("_rows") or k.endswith("_p50") else "bytes")
    for layer, vals in (("pipelines", pipe), ("store", store),
                        ("streaming", streaming)):
        m.update({f"{layer}.{k}": (v, unit(k)) for k, v in vals.items()})
    m["generator.lag_p99_s"] = (lag, "s")
    spans = M.attach(tr["spans"], tr["jobs"],
                     max([s["id"] for s in tr["spans"]], default=0) + 1)
    record = {"self_time_s": M.self_time_by_name(spans),
              "operations": len(ops), "spans": len(spans)}
    return m, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = BENCH / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    input_dir = work / "input"
    t0 = time.perf_counter()
    dims = gen.generate(a.workload, a.seed, str(input_dir), a.seconds)
    gen_s = time.perf_counter() - t0
    cpus = len(os.sched_getaffinity(0))
    result = run_jvm(classpath, [
        "--workload", a.workload, "--input", str(input_dir),
        "--work", str(work), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus),
        "--setups", str(SETUPS)], work, JVM_TIMEOUT_S)

    checks = list(result["checks"])
    if a.workload == "api_queries":
        checks.append(oracle_check(input_dir, result["untraced"],
                                   work / "oracle_check.log"))
    _, _, attempted, failed = samples(a.workload, result["untraced"])
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    e2e, lat = end_to_end(a.workload, result, gen_s)
    print(f"traffic: {json.dumps(dims, sort_keys=True)}")
    tail = M.tail_percentile(len(lat))
    print(f"latency samples: {len(lat)}; "
          + (f"highest percentile with >= 10 beyond: p{tail} = "
             f"{M.percentile(lat, tail):.6g} s" if tail else
             "no percentile has 10 samples beyond it"))
    if a.trace:
        mets, record = per_layer(a.workload, result)
        out = BENCH / "results"
        out.mkdir(exist_ok=True)
        (out / f"{a.workload}.layers.json").write_text(json.dumps(
            dict(record, workload=a.workload, seed=a.seed,
                 metrics={k: v for k, (v, _) in mets.items()}), indent=1))
    else:
        mets = e2e
    for k, (v, unit) in mets.items():
        print(f"{k} = {v:.6g} {unit}")
    correct = all(c["ok"] for c in checks) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in mets.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
