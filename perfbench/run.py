#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Builds the program and the harness from the checkout's sources (once, into
`.bench_build`), generates the workload's inputs from the seed, runs the
workload in one JVM, checks every output against its DuckDB oracle or
batch twin, and prints the end-to-end metrics (`--trace 0`) or the
per-layer metrics of a traced run (`--trace 1`) as the last stdout line.
See README.md in this directory for the workloads and metric definitions.
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

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from stats import TAIL, growth, highest_percentile, pass_growth, percentile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 150
STAGE_ROOTS = [Path(f"/tmp/graft_{k}_stage") for k in ("dedup", "embed", "graph")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """Half of MemTotal in whole GiB, clamped to [2, 8], as the test suite
    sizes its own JVMs."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def session_config(run_dir):
    """Every Spark setting the benchmark chooses, in one place."""
    n = cores()
    return {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(n),
        # the fixture tables are one small parquet file each; these two
        # emulate a realistic split count (as graft.Bench does)
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.files.openCostInBytes": "131072",
        # keep the warm-up pass's generated classes for the timed region
        "spark.sql.codegenCacheMaxEntries": "5000",
        "spark.local.dir": str(run_dir / "tmp"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }


# --- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program's main sources with the harness; returns the
    runtime classpath. Rebuilds only when a source changed."""
    stamp = source_stamp()
    stamp_file = BUILD / "classpath.stamp"
    cp_file = BUILD / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt_dir = BUILD / "sbt"
    (sbt_dir / "project").mkdir(parents=True, exist_ok=True)
    shutil.copy(HERE / "build.sbt", sbt_dir / "build.sbt")
    shutil.copy(HERE / "project" / "build.properties", sbt_dir / "project" / "build.properties")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{Path.home()}/.sbt/repositories -Dsbt.offline=true -Xmx3g"))
    log("building program and harness with sbt")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.root={ROOT}",
             "compile", "export Runtime/fullClasspath"],
            cwd=sbt_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = (BUILD / "build.log").read_text().splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cp:
        raise SystemExit(f"build failed (see {BUILD / 'build.log'})")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp[-1].strip()


# --- inputs -----------------------------------------------------------------

def generate(name, wl, seed):
    """Generate (or reuse) the seed's inputs; returns (data dir, chunk
    paths, rows per table)."""
    key = hashlib.sha256((json.dumps(wl, sort_keys=True)
                          + (HERE / "gen.py").read_text()).encode()).hexdigest()[:8]
    out = BUILD / "inputs" / f"{name}-seed{seed}-{key}"
    meta = out / "meta.json"
    if meta.exists():
        m = json.loads(meta.read_text())
        return out / "data", m["chunks"], m["rows"]
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng(seed)
    tables = gen.relabel(gen.load_base(), rng)
    chunks = []
    if wl["kind"] == "stream":
        chunks = gen.event_chunks(tables["events"], wl["chunks"], wl["chunk_rows"],
                                  str(out / "chunks"))
    gen.write_tables(tables, str(out / "data"))
    rows = {t: tb.num_rows for t, tb in tables.items()}
    meta.write_text(json.dumps({"chunks": chunks, "rows": rows}))
    return out / "data", chunks, rows


def link_inputs(data, run_dir):
    """Hard-linked copy of the input directory under the run's own
    directory. The run-specific path also keys the shared-stage caches,
    so no run can reuse another's stage build."""
    d = run_dir / "in"
    d.mkdir()
    for f in data.iterdir():
        os.link(f, d / f.name)
    return str(d)


def stage_entries():
    return {p / c for p in STAGE_ROOTS if p.is_dir() for c in os.listdir(p)}


# --- run --------------------------------------------------------------------

def run_jvm(cp, spec, run_dir):
    spec_path = run_dir / "spec.json"
    spec_path.write_text(json.dumps(spec))
    # A fixed young generation: with G1 sizing it adaptively, peak RSS
    # swings between 1.5 and 2.2 GB from run to run on the same input.
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xmn2g", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", str(spec_path)])
    before = stage_entries()
    spec["launch_ms"] = time.time() * 1000
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    # the shared-stage caches live outside the checkout and outlive the
    # JVM: remove what this run built so the next run starts cold too
    for e in stage_entries() - before:
        shutil.rmtree(e, ignore_errors=True)
    rec_path = run_dir / "out" / "record.json"
    shutil.copy(run_dir / "jvm.log", BUILD / "last_jvm.log")
    if rec_path.exists():
        shutil.copy(rec_path, BUILD / "last_record.json")
    if rc != 0 or not rec_path.exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"workload JVM failed ({rc}):\n{tail}")
    return json.loads(rec_path.read_text())


def op_seconds(ops):
    return [(o["t1"] - o["t0"]) / 1e3 for o in ops]


def end_to_end(wl, rec, spec, rows):
    ops = [o for o in rec["region"]["ops"] if not o["traced"]]
    walls = [p["s"] for p in rec["region"]["passes"] if not p["traced"]]
    setup = (rec["ready_ms"] - spec["launch_ms"]) / 1e3
    if wl["kind"] == "stream":
        wall = sum(walls)
        in_rows = len(ops) * wl["chunk_rows"]
        # a chunk's batch time: its sinks' batch times summed
        bg = growth([sum(o["batches"][k]["durations"]["triggerExecution"] for k in wl["sinks"])
                     for o in ops])
    else:
        wall = statistics.median(walls)
        in_rows = sum(rows.values())
        by_op = {}
        for o, s in zip(ops, op_seconds(ops)):
            by_op.setdefault(o["name"], []).append(s)
        bg = pass_growth(by_op)
    secs = op_seconds(ops)
    return {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (percentile(secs, 50), "s"),
        "op_p90_s": (percentile(secs, 90), "s"),
        "rows_per_s": (in_rows / wall, "1/s"),
        "batch_growth": (bg, "ratio"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"program sources not found under {ROOT / 'src'}")
    wl = WORKLOADS[a.workload]
    BUILD.mkdir(exist_ok=True)
    cp = build()
    data, chunks, rows = generate(a.workload, wl, a.seed)
    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "out").mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    ops = wl.get("ops", [])
    ops = [ops[i] for i in np.random.default_rng(a.seed).permutation(len(ops))]
    spec = {
        "workload": a.workload, "kind": wl["kind"], "ops": ops,
        "input": link_inputs(data, run_dir),
        "stages": wl["stages"],
        "seconds": a.seconds, "min_passes": wl.get("min_passes", 1),
        "warm_passes": wl.get("warm_passes", 0),
        "trace": bool(a.trace),
        "out": str(run_dir / "out"), "config": session_config(run_dir),
        "sinks": wl.get("sinks", []), "chunks": chunks,
        "preload_chunks": wl.get("preload_chunks", 0),
        "warm_chunks": wl.get("warm_chunks", 0), "min_chunks": wl.get("min_chunks", 0),
    }
    try:
        rec = run_jvm(cp, spec, run_dir)
        # the oracle results are cached beside the inputs they were computed on
        failures = check.run(wl, rec, data, run_dir / "out" / "check",
                             data.parent / "oracle", ROOT)
        e2e = end_to_end(wl, rec, spec, rows)
        ops = rec["region"]["ops"]
        checked = rec["check"] or rec["region"].get("sink_dumps", {})
        attempted = len(ops) + len(checked)
        failed = len(failures) + sum(1 for o in ops if o.get("error"))
        for f in failures:
            log(f"FAIL {f}")
        if a.trace:
            metrics, spans = layers.per_layer(wl, rec, cores())
            trace_file = BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
            trace_file.parent.mkdir(exist_ok=True)
            trace_file.write_text("".join(json.dumps(s) + "\n" for s in spans))
            log(f"spans written to {trace_file}")
        else:
            metrics = e2e
        log(f"{a.workload} seed={a.seed}: failed_frac={failed / attempted:.4f} "
            f"({failed}/{attempted}) config={json.dumps(rec['effective_config'])}")
        for k, (v, u) in e2e.items():
            log(f"  {k} = {v:.6g} {u}")
        n = sum(1 for o in ops if not o["traced"])
        log(f"  {n} timed ops; highest percentile with {TAIL} samples beyond it: "
            f"p{highest_percentile(n)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
