#!/usr/bin/env python3
"""Benchmark for the analytics engine: one command per workload.

    python3 perfbench/run.py --workload ingest_1k --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (`perfbench/build.sbt`) into `target/`
directories, and caches the classpath under `.bench_build/perfbench/`;
later runs start the JVM directly.

Workloads (why each exists: BENCHMARK.json; metric map: perfbench/NOTES.md):
  ingest_1k    live topology under open-loop load, served over HTTP
  backfill     Pipelines.runAll catch-up over a generated events file
  batch_suite  timed passes over a pinned slice of SparkEntry queries

Output: one `config` line, one `metric` line per measured metric (name,
value, unit, sample count), then as the last line one JSON object with
the keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics, writes a
spans file and states the tracing overhead against the untraced run.
Exit code 0 only when every correctness check passed.

Options only for the benchmark's own tests: `--size tiny` shrinks the
inputs; `--corrupt-expected` alters one expected row or hash, which must
make the command fail.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

START = time.time()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
BUDGET_S = 170  # a run, build excluded, must end within 180 s

# input sizes per --size: backfill rows, batch tables as a multiple of sf0.01
SIZES = {"full": {"backfill_rows": 300_000, "batch_scale": 1.0, "driver_memory": "3g"},
         "tiny": {"backfill_rows": 20_000, "batch_scale": 0.2, "driver_memory": "2g"}}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp() -> str:
    """Changes whenever a file the build reads changes."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath() -> tuple:
    """Build with sbt when sources changed; return the runtime classpath
    and the JVM options the program's build runs it with."""
    cp_file, opts_file, stamp_file = (BUILD / "classpath.txt", BUILD / "java-options.txt",
                                      BUILD / "stamp.txt")
    stamp = source_stamp()
    if cp_file.exists() and opts_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text(), opts_file.read_text().splitlines()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath", "perfbench/programJavaOptions"],
                       cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=850)
    log.write_text(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    opts = BENCH / "target" / "program-java-options.txt"
    if r.returncode != 0 or not lines or not opts.exists():
        sys.stderr.write("\n".join(l for l in r.stdout.splitlines() if "[error]" in l)[-4000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(lines[-1].strip())
    # the heap is the benchmark's own setting
    opts_file.write_text("\n".join(o for o in opts.read_text().splitlines()
                                   if o and not o.startswith("-Xmx")))
    stamp_file.write_text(stamp)
    return cp_file.read_text(), opts_file.read_text().splitlines()


def generate(workload: str, seed: int, size: dict, data: Path) -> dict:
    sys.path.insert(0, str(BENCH))
    import gen
    shutil.rmtree(data, ignore_errors=True)
    if workload == "backfill":
        gen.backfill_events(str(data), seed, size["backfill_rows"])
        gen.backfill_events(str(data / "warmup"), seed + 1, 5_000)
        return {"backfill_rows": size["backfill_rows"]}
    if workload == "batch_suite":
        gen.batch_tables(str(data), seed, size["batch_scale"])
        return {"batch_scale_vs_sf0.01": size["batch_scale"]}
    data.mkdir(parents=True)
    return {}


def run_jvm(args, cp: str, java_opts: list, size: dict, data: Path, work: Path,
            spans: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *java_opts, f"-Xmx{size['driver_memory']}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Main",
           f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
           f"trace={args.trace}", f"cores={cores}", f"driver_memory={size['driver_memory']}",
           f"data={data}", f"work={work}", f"start_ms={int(START * 1000)}",
           f"size={args.size}", f"corrupt={int(args.corrupt_expected)}", f"spans={spans}"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    with open(work / "jvm.log", "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, BUDGET_S - (time.time() - START)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{args.workload} exceeded the time budget; see {work / 'jvm.log'}", 1)
    res = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not res:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"{args.workload} run failed (exit {p.returncode})", 1)
    return json.loads(res[-1][len("PERFBENCH_RESULT "):])


def table_hash(rows_df) -> str:
    """Order-independent hash: columns by name, values as text, rows sorted
    (the normalization of the repo's DuckDB compare)."""
    cols = sorted(rows_df.columns)
    rows = sorted(tuple(str(v) for v in r) for r in rows_df[cols].itertuples(index=False))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def check_oracle(data: Path, work: Path, corrupt: bool, result: dict) -> None:
    """Each pinned query's result hash against its DuckDB oracle's."""
    import duckdb
    con = duckdb.connect()
    for t in sorted(data.glob("*.parquet")):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    oracle = json.loads((work / "oracle_sql.json").read_text())
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        result["attempted"] += 1
        try:
            want = table_hash(con.sql(sql).df())
            got = table_hash(con.sql(f"SELECT * FROM '{work}/results/{name}/*.parquet'").df())
        except Exception as e:  # a missing result or failing oracle is a failed check
            want, got = "error", str(e)
        if corrupt and i == 0:
            want = ("0" if want[0] != "0" else "1") + want[1:]
        if want != got:
            result["failed"] += 1
            result["failures"].append(f"{name}: result hash differs from the DuckDB oracle")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_1k", "backfill", "batch_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists() or not (ROOT / "src" / "main" / "scala").is_dir() \
            or not (ROOT / "build.sbt").exists():
        fail(f"program sources not found under {ROOT}: run from a full checkout")
    spec = json.loads(spec_file.read_text())
    cp, java_opts = classpath()
    global START
    START = time.time()  # set-up time starts after the one-off build

    size = SIZES[args.size]
    data = BUILD / "data" / args.workload
    work = BUILD / "work" / args.workload
    spans = BUILD / "spans" / f"{args.workload}-{args.seed}.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spans.parent.mkdir(parents=True, exist_ok=True)
    sizes = generate(args.workload, args.seed, size, data)
    result = run_jvm(args, cp, java_opts, size, data, work, spans)
    if args.workload == "batch_suite":
        check_oracle(data, work, args.corrupt_expected, result)

    config = {**result["config"], **sizes}
    measured = result["metrics"]
    attempted, failed = result["attempted"], result["failed"]
    measured["failed_frac"] = {"value": failed / max(1, attempted), "unit": "frac", "n": attempted}
    print("config " + json.dumps(config, sort_keys=True))
    print("facts " + json.dumps(result["facts"], sort_keys=True))
    for name, m in sorted(measured.items()):
        print(f"metric {name} {m['value']!r} {m['unit']} n={m['n']}")
    for f in result["failures"][:20]:
        print(f"failed {f}")

    # saved per run so a traced run can state its overhead and two result
    # sets can be compared (perfbench/compare.py refuses differing configs)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = {"config": config, "facts": result["facts"], "attempted": attempted,
              "failed": failed, "metrics": measured}
    (results / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(json.dumps(record))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] in measured:
            out[m["name"]] = {"value": measured[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:  # a layer this workload bypasses did no work
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured", 1)
    if args.trace:
        print(f"spans {spans} ({sum(1 for _ in open(spans))} spans)")
        untraced = results / f"{args.workload}-{args.seed}-trace0.json"
        if not untraced.exists():
            print("overhead unknown: no untraced run of this workload and seed")
        else:
            base = json.loads(untraced.read_text())["metrics"]
            for m in spec["end_to_end"]:
                a, b = measured.get(m["name"]), base.get(m["name"])
                if a and b:
                    d = a["value"] - b["value"]
                    rel = d / b["value"] if b["value"] else float("nan")
                    print(f"overhead {m['name']} traced={a['value']:.6g} untraced={b['value']:.6g} "
                          f"diff={d:+.6g} {m['unit']} ({rel:+.1%})")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
