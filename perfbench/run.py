#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness from source with sbt (the build is reused while no source
changes); every run then starts one JVM for the workload, checks its
outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json.
With `--trace 1` the workload runs twice, untraced and then traced, and the
metrics are the per-layer metrics plus the tracing overhead. A layer the
workload does not touch reads 0. Everything is read and written inside the
checkout; `.bench_build/` holds the build stamp and each workload's work
directory. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "perfbench"
FIXTURE = HERE / "fixture"
WORKLOADS = ("fanout_steady", "query_board")
DEADLINE_S = 175.0
HEAP = "3g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            if "target" in p.relative_to(ROOT).parts:
                continue
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the classpath and JVM options the harness runs with."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no program sources at {ROOT} (expected build.sbt and src/main/scala/graft)")
    STATE.mkdir(parents=True, exist_ok=True)
    stamp, launch = STATE / "stamp", STATE / "launch.txt"
    digest = sources_stamp()
    if launch.is_file() and stamp.is_file() and stamp.read_text() == digest:
        lines = launch.read_text().splitlines()
        return lines[0], lines[1:]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = STATE / "build.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "launch"],
                                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=850).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (exit {rc}); full log in {log}")
    shutil.copyfile(HERE / "target" / "launch.txt", launch)
    stamp.write_text(digest)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def run_jvm(cp, jvm_opts, args, trace, deadline):
    """One workload run in its own JVM; returns its result.json."""
    work = ROOT / ".bench_build" / "work" / f"{args.workload}-trace{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work / 'derby.log'}",
           *jvm_opts, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--work", str(work), "--fixture", str(FIXTURE)]
    started = time.monotonic()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{args.workload} did not finish in time; log in {work / 'jvm.log'}")
    print(f"perfbench: JVM ran {time.monotonic() - started:.1f} s", file=sys.stderr)
    result = work / "result.json"
    if not result.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        die(f"{args.workload} wrote no result (JVM exit {proc.returncode})")
    out = json.loads(result.read_text())
    if args.workload == "query_board":
        t0 = time.monotonic()
        out["wrong"] += oracle_check(work / "board")
        print(f"perfbench: oracle check took {time.monotonic() - t0:.1f} s", file=sys.stderr)
    for msg in out["failures"] + out["wrong"]:
        print(f"perfbench: {msg}", file=sys.stderr)
    return out


def oracle_check(board):
    """Compare each board result with its DuckDB oracle under the canonical
    hash of tools/check_oracle.py; return one message per mismatch.

    An oracle's answer depends only on the fixture and the SQL, so its
    columns, row count and hash are kept under .bench_build/, keyed by
    both. On 4 cores the check of the board's sample took 9.0 s without
    them and 2.6 s with them.
    """
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    fixture = hashlib.sha256()
    for p in sorted(FIXTURE.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        fixture.update(p.name.encode())
        fixture.update(p.read_bytes())
    cache = STATE / "oracle"
    cache.mkdir(parents=True, exist_ok=True)

    def oracle(sql):
        entry = cache / (hashlib.sha256(fixture.digest() + sql.encode()).hexdigest() + ".json")
        if entry.is_file():
            return json.loads(entry.read_text())
        duck_df = con.execute(sql).df()
        answer = {"columns": sorted(duck_df.columns), "rows": len(duck_df), "digest": canon(duck_df)}
        entry.write_text(json.dumps(answer))
        return answer

    wrong = []
    for name, sql in sorted(json.loads((board / "oracle_sql.json").read_text()).items()):
        parts = sorted((board / name).glob("*.parquet"))
        if not parts:
            wrong.append(f"{name}: no result written")
            continue
        spark_df = pd.concat([pd.read_parquet(p) for p in parts])
        want = oracle(sql)
        if sorted(spark_df.columns) != want["columns"]:
            wrong.append(f"{name}: columns {sorted(spark_df.columns)} != oracle {want['columns']}")
        elif len(spark_df) != want["rows"] or canon(spark_df) != want["digest"]:
            wrong.append(f"{name}: {len(spark_df)} rows differ from the oracle's {want['rows']}")
    return wrong


def pick(found, specs, what):
    metrics = {}
    for spec in specs:
        name = spec["name"]
        if name in found:
            value = found[name]["value"]
        elif what == "per-layer":
            value = 0.0  # a layer this workload does not touch
        else:
            die(f"end-to-end metric {name} was not measured")
        if value is None or not math.isfinite(value):
            die(f"metric {name} is not a number")
        metrics[name] = {"value": value, "unit": spec["unit"]}
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        die(f"{bench_file} is missing")
    bench = json.loads(bench_file.read_text())
    cp, jvm_opts = build()
    # a fresh build gets the full time again: only the first run builds
    deadline = max(deadline, time.monotonic() + DEADLINE_S)

    # the untraced twin of a traced run: the last untraced run of the same
    # build, workload, seed and length stands in for it when there is one
    last = STATE / f"untraced-{args.workload}-{args.seed}-{args.seconds}.json"
    stamp = (STATE / "stamp").read_text()
    if args.trace and last.is_file() and json.loads(last.read_text())["stamp"] == stamp:
        plain, runs = json.loads(last.read_text())["result"], []
    else:
        plain = run_jvm(cp, jvm_opts, args, 0, deadline)
        runs = [plain]
        last.write_text(json.dumps({"stamp": stamp, "result": plain}))
    if args.trace:
        traced = run_jvm(cp, jvm_opts, args, 1, deadline)
        runs.append(traced)
        found = dict(traced["layers"])
        p50 = [r["metrics"].get("latency_p50_s", {}).get("value") for r in (plain, traced)]
        if None in p50:
            die("no latency_p50_s to compare traced and untraced runs by")
        found["trace.overhead_pct"] = {"value": (p50[1] / p50[0] - 1.0) * 100.0, "unit": "%"}
        metrics = pick(found, bench["per_layer"], "per-layer")
    else:
        metrics = pick(plain["metrics"], bench["end_to_end"], "end-to-end")
    print(json.dumps({
        "correct": all(not r["wrong"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
