"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload <name> [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. It builds the engine and the driver
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py, cached per seed), runs the workload in fresh JVMs with
every piece of state (warehouse, served-index root, spark.local.dir, tmp,
outputs) under a per-run directory of `.bench_build/runs`, checks the
outputs outside the timed window and prints one JSON line last.

Workloads (settings.json holds the entry lists, sizes and JVM flags):
  retail_star   relational / retail / events / as-of / layout catalog
                entries, one warm session
  llm_curation  dedup / similarity / text / curation / multimodal entries
                over a clone-rich near-duplicate corpus, one warm session
  daily_etl     RetailEtlApp faithful daily runs (readiness gate, CSV
                ingest, weekly fact build, date-partitioned parquet write),
                each in a fresh JVM

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run (listener spans land in .bench_build/traces).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETTINGS = json.load(open(os.path.join(HERE, "settings.json")))
MODULES = ["relational", "retail", "events", "layout", "dedup", "similarity",
           "text", "curation", "multimodal"]
KERNELS = ["vec_dot", "vec_norm", "simhash60", "shingles3", "shingles3_h64",
           "inter_count_sorted", "minhash_sig64", "vec_sig128", "vec_sig",
           "tok_stats", "tok_counts", "lev_banded"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """Highest percentile with at least ten samples beyond it (the max
    when there are fewer than eleven samples): (value, percentile, n)."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def cpus():
    return len(os.sched_getaffinity(0))


def dir_bytes(path, pattern="**/*"):
    files = [f for f in glob.glob(os.path.join(path, pattern), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]
    return sum(os.path.getsize(f) for f in files), len(files)


class Run:
    """Per-run state directory and JVM launcher."""

    def __init__(self, workload, seed, classpath):
        self.cp = classpath
        self.dir = os.path.abspath(
            f".bench_build/runs/{workload}-s{seed}-{os.getpid()}-{time.time_ns()}")
        for sub in ("tmp", "local", "warehouse", "index", "duckdb"):
            os.makedirs(f"{self.dir}/{sub}")

    def jvm(self, args, name):
        """Launch one driver JVM; returns (result dict, launch epoch)."""
        result = f"{self.dir}/{name}.json"
        cmd = (["java"] + SETTINGS["jvm_flags"] +
               [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
               [f"-Djava.io.tmpdir={self.dir}/tmp",
                f"-Dspark.local.dir={self.dir}/local",
                f"-Dspark.sql.warehouse.dir={self.dir}/warehouse",
                f"-Dspark.hadoop.hadoop.tmp.dir={self.dir}/tmp",
                "-cp", self.cp, "perfbench.PerfDriver"] + args + [result])
        env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=f"{self.dir}/index")
        with open(f"{self.dir}/{name}.log", "w") as out:
            launch = time.time()
            p = subprocess.Popen(cmd, cwd=self.dir, env=env, stdout=out,
                                 stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError(f"{name} JVM timed out")
        if code != 0 or not os.path.exists(result):
            tail_log = open(f"{self.dir}/{name}.log").read()[-3000:]
            raise RuntimeError(f"{name} JVM exited {code}:\n{tail_log}")
        return json.load(open(result)), launch

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def write_spans(workload, seed, results):
    os.makedirs(".bench_build/traces", exist_ok=True)
    for r in results:
        tr = r.get("trace") or {}
        if not tr:
            continue
        if not tr["drained"]:
            log("WARNING: listener events were still queued when tracing stopped")
        path = f".bench_build/traces/{workload}-s{seed}-{tr['run_id']}.jsonl"
        with open(path, "w") as f:
            for s in tr["spans"]:
                f.write(json.dumps(s) + "\n")
        log(f"spans: {path} ({len(tr['spans'])} spans)")


def spark_layer(counters, passes, wall_s, peak_mem):
    c = lambda k: counters.get(k, 0.0) / max(passes, 1)
    return {
        "spark.plan_s": (c("plan_s"), "s"),
        "spark.jobs": (c("jobs"), "count"),
        "spark.stages": (c("stages"), "count"),
        "spark.tasks": (c("tasks"), "count"),
        "spark.exchanges": (c("exchanges"), "count"),
        "spark.shuffle_write_bytes": (c("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (c("shuffle_read_bytes"), "bytes"),
        "spark.spill_mem_bytes": (c("spill_mem_bytes"), "bytes"),
        "spark.spill_disk_bytes": (c("spill_disk_bytes"), "bytes"),
        "spark.executor_cpu_s": (c("executor_cpu_s"), "s"),
        "spark.cpu_util": (c("executor_cpu_s") / (cpus() * wall_s) if wall_s else 0.0,
                           "ratio"),
        "spark.task_queue_s": (c("task_queue_s"), "s"),
        "spark.straggler_ratio": (counters.get("straggler_sum", 0.0) /
                                  max(counters.get("straggler_stages", 0.0), 1.0), "ratio"),
        "spark.gc_s": (c("gc_s"), "s"),
        "spark.peak_exec_mem_bytes": (float(peak_mem), "bytes"),
        "spark.input_bytes": (c("input_bytes"), "bytes"),
        "spark.input_rows": (c("input_rows"), "count"),
        "spark.failed_tasks": (c("failed_tasks"), "count"),
    }


def kernel_layer(kernels):
    ks = (kernels or {}).get("kernels", {})
    return {f"functions.{k}.ns_per_row": (ks.get(k, {}).get("ns_per_row", 0.0), "ns")
            for k in KERNELS}


def empty_layers():
    m = {f"operators.{mod}_s": (0.0, "s") for mod in MODULES}
    for k in ("pipeline.readiness_s", "sources.csv_ingest_s", "sources.write_s",
              "app.build_s", "setup.warmup_s", "setup.index_build_s"):
        m[k] = (0.0, "s")
    for k in ("sources.csv_rows", "sources.write_files"):
        m[k] = (0.0, "count")
    for k in ("sources.csv_bytes", "sources.write_bytes"):
        m[k] = (0.0, "bytes")
    m["sources.out_bytes_per_in_byte"] = (0.0, "ratio")
    return m


# ---------------------------------------------------------------- warm

def open_columns(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pq.read_schema(files[0]).names if files else []


def run_warm(args, run, data):
    ws = SETTINGS["workloads"][args.workload]
    entries = ws["entries"]
    check_dir = f"{run.dir}/check"
    r, launch = run.jvm(["warm", f"{data}/sf", ",".join(entries), str(args.seconds),
                         str(ws["min_passes"]), str(args.trace), check_dir], "warm")
    attempted, failed = 0, 0
    errors = []
    ops = r["ops"]
    for o in ops:
        attempted += 1
        if not o["ok"]:
            failed += 1
            errors.append(f"{o['name']} pass {o['pass']}: {o['err']}")

    # output check, outside the timed window: DuckDB oracle where one
    # exists, schema and row count otherwise
    records = f"{run.dir}/validate.json"
    env = dict(os.environ, GRAFT_DUCKDB_THREADS=str(cpus()),
               GRAFT_DUCKDB_MEM_LIMIT="2GB", GRAFT_DUCKDB_TEMP_DIR=f"{run.dir}/duckdb",
               GRAFT_DUCKDB_TEMP_CAP="4GiB")
    t = time.time()
    v = subprocess.run([sys.executable, "tools/validate.py", f"{data}/sf", check_dir,
                        records], env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=170)
    log(f"oracle check in {time.time() - t:.1f}s")
    recs = json.load(open(records)) if os.path.exists(records) else {}
    checked = {c["name"]: c for c in r["checks"]}
    n_oracle = 0
    for name in entries:
        attempted += 1
        rec = recs.get(name)
        c = checked.get(name, {})
        if not c.get("ok"):
            ok, why = False, c.get("err", "not written")
        elif rec is None:
            ok, why = False, "no validation record"
        elif rec.get("err") == "no_oracle":
            rows = rec.get("spark_rows") or 0
            cols = open_columns(f"{check_dir}/{name}")
            want = r["columns"].get(name)
            ok = rows > 0 and want is not None and cols == want
            why = f"rows={rows} columns={cols} want={want}"
        else:
            n_oracle += 1
            ok, why = bool(rec.get("hash_match")), json.dumps(rec)
        if not ok:
            failed += 1
            errors.append(f"check {name}: {why}")
    if v.returncode != 0:
        errors.append("validate.py: " + v.stdout[-500:])

    untraced = [p for p in r["passes"] if not p["traced"]]
    traced = [p for p in r["passes"] if p["traced"]]
    per_entry = {}
    for o in ops:
        if o["ok"] and not o["traced"]:
            per_entry.setdefault(o["name"], []).append(o["build_s"] + o["exec_s"])
    entry_medians = [median(v) for v in per_entry.values()]
    tail_v, tail_p, tail_n = tail(entry_medians) if entry_medians else (0.0, 0.0, 0)
    e2e = {
        "setup_s": (r["setup"]["first_op_epoch"] - launch, "s", 1),
        "pass_s": (median([p["wall_s"] for p in untraced]), "s", len(untraced)),
        "query_p50_s": (median(entry_medians), "s", len(entry_medians)),
        "query_tail_s": (tail_v, "s", tail_n),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s", len(untraced)),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", 1),
    }
    notes = {"query_tail_percentile": tail_p, "query_tail_n": tail_n,
             "oracle_checked": n_oracle, "entries": len(entries),
             "passes_untraced": len(untraced), "passes_traced": len(traced)}

    layers = empty_layers()
    if args.trace:
        tr = r["trace"]
        n = max(len(traced), 1)
        wall = median([p["wall_s"] for p in traced])
        layers.update({
            "setup.session_s": (r["setup"]["session_s"], "s"),
            "setup.warmup_s": (r["setup"]["warmup_s"], "s"),
            "setup.index_build_s": (r["setup"]["index_build_s"], "s"),
        })
        by_pass = {}
        for o in ops:
            if o["traced"]:
                b = by_pass.setdefault(o["pass"], {"build": 0.0, "exec": 0.0})
                b["build"] += o["build_s"]
                b["exec"] += o["exec_s"]
                b[o["module"]] = b.get(o["module"], 0.0) + o["build_s"] + o["exec_s"]
        layers["operators.build_s"] = (median([b["build"] for b in by_pass.values()]), "s")
        layers["operators.exec_s"] = (median([b["exec"] for b in by_pass.values()]), "s")
        for mod in MODULES:
            layers[f"operators.{mod}_s"] = (
                median([b.get(mod, 0.0) for b in by_pass.values()]), "s")
        layers.update(spark_layer(tr["counters"], n, wall, tr["peak_exec_mem_bytes"]))
        layers["jvm.jit_s"] = (median([p["jit_s"] for p in traced]), "s")
        layers["jvm.gc_s"] = (median([p["gc_s"] for p in traced]), "s")
        layers.update(kernel_layer(r["kernels"]))
        layers["trace.overhead_s"] = (wall - median([p["wall_s"] for p in untraced]), "s")
        write_spans(args.workload, args.seed, [r])
        r["trace"].pop("spans")
    return e2e, layers, attempted, failed, errors, notes, [r]


# --------------------------------------------------------------- daily

def check_daily(sf_dir, out_dir, date, oracle_sql, tmp_dir):
    """Read the written partition back and compare it with the faithful
    oracle over the generated tables. The CSV path computes money in
    double (the reference runtime's type) where the oracle uses decimal,
    so floats compare to the cent."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus()}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in ("lineitem", "part", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/date={date}/*.parquet', "
                      "hive_partitioning = false)").df()
    want = con.execute(oracle_sql).df()
    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    cols = sorted(want.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            a = float(a) if a is not None else None
            b = float(b) if b is not None else None
            if a is None or b is None:
                if a is not b:
                    return False, f"{c}[{i}] {a} vs {b}"
            elif not math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0101):
                return False, f"{c}[{i}] {a} vs {b}"
    return True, f"{len(got)} rows"


def run_daily(args, run, data):
    date = SETTINGS["run_date"]
    min_runs = SETTINGS["workloads"]["daily_etl"]["min_runs"]
    in_dir, sf_dir = f"{data}/in", f"{data}/sf"
    csv_bytes, _ = dir_bytes(in_dir, "*.csv")
    results = []
    attempted, failed, errors = 0, 0, []
    start = time.time()
    i = 0
    # untraced and traced runs alternate in a traced benchmark run, so the
    # tracing overhead is measured on the same inputs in the same window
    while i < min_runs or time.time() - start < args.seconds:
        traced = bool(args.trace) and i % 2 == 1
        out = f"{run.dir}/out{i}"
        kernel_dir = sf_dir if traced and i == 1 else "-"
        r, launch = run.jvm(["daily", in_dir, date, out, "1" if traced else "0",
                             kernel_dir], f"daily{i}")
        r["traced"], r["launch"], r["out"] = traced, launch, out
        results.append(r)
        attempted += 1
        if r["exit"] != 0:
            failed += 1
            errors.append(f"daily run {i} exit {r['exit']}")
        i += 1
    for k, r in enumerate(results):
        attempted += 1
        try:
            ok, why = check_daily(sf_dir, r["out"], date, r["oracle_sql"], f"{run.dir}/duckdb")
        except Exception as e:  # noqa: BLE001
            ok, why = False, str(e)[:300]
        if not ok:
            failed += 1
            errors.append(f"check run {k}: {why}")
        r["write_bytes"], r["write_files"] = dir_bytes(f"{r['out']}/date={date}", "*.parquet")

    plain = [r for r in results if not r["traced"]]
    traced = [r for r in results if r["traced"]]
    passes = [r["pass_s"] for r in plain]
    e2e = {
        "setup_s": (median([r["setup"]["first_op_epoch"] - r["launch"] for r in plain]),
                    "s", len(plain)),
        "pass_s": (median(passes), "s", len(passes)),
        # one operation per pass: the daily run itself
        "query_p50_s": (median(passes), "s", len(passes)),
        "query_tail_s": (median(passes), "s", len(passes)),
        "cpu_s": (median([r["cpu_s"] for r in plain]), "s", len(plain)),
        "peak_rss_mb": (median([r["peak_rss_mb"] for r in plain]), "MB", len(plain)),
    }
    write_bytes = median([r["write_bytes"] for r in plain])
    notes = {"runs_untraced": len(plain), "runs_traced": len(traced),
             "csv_bytes": csv_bytes, "out_bytes_per_in_byte": write_bytes / csv_bytes}
    layers = empty_layers()
    if args.trace:
        def med(f):
            return median([f(r) for r in traced])
        cnt = lambda k: med(lambda r: r["trace"]["counters"].get(k, 0.0))
        ph = lambda k: med(lambda r: r["phases"].get(k, 0.0))
        wall = med(lambda r: r["pass_s"])
        layers.update({
            "setup.session_s": (med(lambda r: r["setup"]["session_s"]), "s"),
            "operators.build_s": (ph("build"), "s"),
            "operators.exec_s": (ph("write"), "s"),
            "operators.retail_s": (ph("build") + ph("write"), "s"),
            "pipeline.readiness_s": (ph("readiness"), "s"),
            "app.build_s": (ph("build"), "s"),
            "sources.csv_ingest_s": (cnt("scan_stage_s"), "s"),
            "sources.csv_rows": (cnt("input_rows"), "count"),
            "sources.csv_bytes": (cnt("input_bytes"), "bytes"),
            "sources.write_s": (cnt("write_stage_s"), "s"),
            "sources.write_bytes": (med(lambda r: r["write_bytes"]), "bytes"),
            "sources.write_files": (med(lambda r: r["write_files"]), "count"),
            "sources.out_bytes_per_in_byte": (
                med(lambda r: r["write_bytes"]) / csv_bytes, "ratio"),
        })
        counters = {k: cnt(k) for k in traced[0]["trace"]["counters"]}
        layers.update(spark_layer(counters, 1, wall,
                                  med(lambda r: r["trace"]["peak_exec_mem_bytes"])))
        layers["jvm.jit_s"] = (med(lambda r: r["jit_s"]), "s")
        layers["jvm.gc_s"] = (med(lambda r: r["gc_s"]), "s")
        layers.update(kernel_layer(traced[0]["kernels"]))
        layers["trace.overhead_s"] = (wall - median(passes), "s")
        write_spans(args.workload, args.seed, traced)
        for r in traced:
            r["trace"].pop("spans")
    return e2e, layers, attempted, failed, errors, notes, results


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SETTINGS["workloads"]))
    ap.add_argument("--seed", type=int, default=SETTINGS["default_seed"])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import build
    t = time.time()
    cp = build.build()
    log(f"build ready in {time.time() - t:.1f}s")

    # inputs are cached per seed, generator version and workload sizes
    key = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read() + json.dumps(
        SETTINGS["workloads"][args.workload]["gen"], sort_keys=True).encode()).hexdigest()[:12]
    data = os.path.abspath(f".bench_build/data/{args.workload}-s{args.seed}-{key}")
    t = time.time()
    if not os.path.exists(f"{data}/.done"):
        import gen  # numpy / pyarrow / duckdb load only when generating
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(args.workload, args.seed, data)
        open(f"{data}/.done", "w").close()
    gen_s = time.time() - t
    log(f"inputs ready in {gen_s:.2f}s (not part of setup_s)")

    run = Run(args.workload, args.seed, cp)
    try:
        fn = run_daily if args.workload == "daily_etl" else run_warm
        e2e, layers, attempted, failed, errors, notes, raw = fn(args, run, data)
    finally:
        run.close()
    os.makedirs(".bench_build/reports", exist_ok=True)
    report = (f".bench_build/reports/{args.workload}-s{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(report, "w") as f:
        json.dump({"e2e": e2e, "layers": layers, "notes": notes, "errors": errors,
                   "runs": raw}, f, indent=1)
    log(f"report: {report}")

    for e in errors:
        log(f"FAILED {e}")
    error_rate = failed / max(attempted, 1)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} master=local[{cpus()}] shuffle_partitions={cpus()} "
          f"jvm_flags={' '.join(SETTINGS['jvm_flags'])} input_gen_s={gen_s:.3f}")
    for k, v in sorted(notes.items()):
        print(f"  note {k} = {v}")
    for name, (value, unit, n) in e2e.items():
        print(f"  {name:<16} {value:12.4f} {unit:<6} n={n}")
    print(f"  {'error_rate':<16} {error_rate:12.4f} ratio  "
          f"({failed} failed of {attempted} attempted)")
    if args.trace:
        for name, (value, unit) in sorted(layers.items()):
            print(f"  {name:<40} {value:16.4f} {unit}")
    chosen = ({k: (v, u) for k, (v, u, _) in e2e.items()} if not args.trace else layers)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
