#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark (perfbench/build.sbt, through the root build) and caches the
classpath under .bench_build/. Each run starts one JVM (perfbench.Main) that
sets up a Spark session several times, measures the workload, and checks its
outputs outside the timed region. Catalog outputs are checked here against
the DuckDB oracle, with tools/check_oracle.py's canonicalisation. The last
stdout line is one JSON object: correct, attempted, failed and the metrics
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1).

Workloads are described in BENCHMARK.json. Inputs are the sf0.1 tables of
the project's test data (TESTDATA.md) plus the seed. Tests of the
benchmark's own accounting: `cd perfbench && sbt test`.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

DEADLINE_S = 170
BUILD_DEADLINE_S = 840
WORKLOADS = ("stream_orders", "catalog_batch")
# Per-layer metrics of layers a workload does not run, by name prefix; a
# traced run writes them as 0. Any other per-layer metric must be measured.
OTHER_LAYERS = {
    "stream_orders": ("catalog.", "catalog_"),
    "catalog_batch": ("sources.", "streaming.", "ops.", "sinks.", "state.", "baseline.",
                      "backfill_events_per_s", "window_events_per_s"),
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root: Path) -> str:
    """Digest of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             root / "perfbench" / "build.sbt", root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main", root / "perfbench" / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt_env() -> dict:
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local caches, as the project's test command does
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root: Path, build: Path) -> str:
    stamp = build / f"classpath-{sources_digest(root)}.txt"
    if stamp.is_file():
        return stamp.read_text().strip()
    log = build / "sbt.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=root / "perfbench", env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_DEADLINE_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        out_log = proc.stdout[-3000:]
        fail(f"build failed (exit {proc.returncode}); see {log}\n{out_log}", 1)
    for old in build.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(lines[-1])
    return lines[-1]


def run_jvm(cp: str, args, sf_dir: Path, out: Path, cache: Path, deadline: float):
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    # -Xmx only caps the heap, so resident memory grows with the pages the run
    # touches. Run to run, G1's adaptive eden and marking cycles moved the peak
    # by up to a third; the parallel collector with a fixed young generation
    # and two malloc arenas holds it within a few percent.
    cmd = ["java", "-XX:+UseParallelGC", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={out / 'warehouse'}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", str(sf_dir), "--warm-dir", str(sf_dir.parent / "sf0.001"),
            "--out", str(out), "--cache", str(cache)]
    log = out / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; see {log}", 1)
    if code != 0:
        tail = log.read_text()[-4000:]
        fail(f"benchmark JVM exited {code}:\n{tail}", 1)
    return json.loads((out / "result.json").read_text())


def check_catalog(root: Path, sf_dir: Path, out: Path, build: Path):
    """Compares each catalog output with its DuckDB oracle. DuckDB results are
    cached per query and SQL text; returns (attempted, failed, messages)."""
    sys.path.insert(0, str(root / "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import TABLES, canon

    oracle = json.loads((out / "catalog" / "oracle_sql.json").read_text())
    cache = build / "oracle"
    cache.mkdir(exist_ok=True)
    con = None
    failed, messages = 0, []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
        path = cache / f"{name}-{key}.pkl"
        if path.is_file():
            want = pickle.loads(path.read_bytes())
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            want = canon(con.sql(sql).df())
            path.write_bytes(pickle.dumps(want))
        try:
            got = canon(pd.read_parquet(out / "catalog" / name))
            ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        except Exception:  # a missing or unreadable output is a mismatch
            ok = False
        if not ok:
            failed += 1
            messages.append(f"{name} differs from its DuckDB oracle")
    return len(oracle), failed, messages


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    deadline = time.monotonic() + DEADLINE_S

    root = Path.cwd()
    spec_file = root / "BENCHMARK.json"
    for needed in (spec_file, root / "build.sbt", root / "src" / "main" / "scala",
                   root / "tools" / "check_oracle.py", root / "perfbench" / "build.sbt"):
        if not needed.exists():
            fail(f"{needed.relative_to(root)} is missing; run from the repository root")
    # the project's shared sf0.1 test tables (TESTDATA.md)
    sf_dir = Path.home() / "testdata" / "sf0.1"
    if not (sf_dir / "orders.parquet").is_file():
        fail(f"test tables not found at {sf_dir}")
    spec = json.loads(spec_file.read_text())

    build = root / ".bench_build" / "perfbench"
    build.mkdir(parents=True, exist_ok=True)
    cp = classpath(root, build)
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 20)  # a fresh build gets its own budget

    runs = build / "runs"
    shutil.rmtree(runs, ignore_errors=True)
    out = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = run_jvm(cp, args, sf_dir, out, build / "inputs", deadline)
    attempted, failed = result["attempted"], result["failed"]
    failures = list(result["failures"])
    if args.workload == "catalog_batch":
        n, bad, msgs = check_catalog(root, sf_dir, out, build)
        attempted, failed = attempted + n, failed + bad
        failures += msgs

    measured = result["metrics"]
    listed = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(measured) - set(listed))
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}", 1)
    for name, m in measured.items():
        if m["unit"] != listed[name]["unit"]:
            fail(f"{name} measured in {m['unit']}, BENCHMARK.json says {listed[name]['unit']}", 1)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            metrics[m["name"]] = measured[m["name"]]
        elif args.trace and m["name"].startswith(OTHER_LAYERS[args.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"workload {args.workload} did not measure {m['name']}", 1)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for name, m in measured.items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(f"  failed_ops_share = {failed / max(attempted, 1)} ratio ({failed} of {attempted})")
    for f in failures:
        print(f"  FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
