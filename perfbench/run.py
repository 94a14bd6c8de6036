#!/usr/bin/env python3
"""graft's benchmark: two closed-loop workloads over graft's public entry
points, one JVM per run, one client thread over local[nproc].

    python3 perfbench/run.py --workload <dbt_build|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run compiles graft's sources
and the benchmark's Scala side (perfbench/scala) with the Scala compiler in
Spark's jar directory, into $CARGO_TARGET_DIR (default .bench_build); later
runs reuse the classes while the sources are unchanged. Inputs are the
read-only seed-42 tables listed in TESTDATA.md: sf0.01 for dbt_build, sf0.1
for query_mix. The --seed only permutes the op order of every timed pass and
picks the dbt_build refresh month.

The JVM side (perfbench/scala/PerfBench.scala) sets the session up several
times, makes one untimed warm pass whose outputs it keeps, then times whole
passes until --seconds are spent. This script checks the kept outputs
against the DuckDB oracle SQL that graft.SparkEntry registers, turns the raw
samples into metrics, and prints two stdout lines: a summary of the run
(seed, refresh month, passes, per-op median times), then the result object
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A traced run also leaves its spans under .bench_build/perfbench/traces.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("dbt_build", "query_mix")
HEAP = "4g"
RUN_LIMIT_S = 150.0  # the JVM's share of the 180 s a run may take
BUILD_LIMIT_S = 800.0

# The scale factor (a TESTDATA.md row) each workload reads.
SCALE = {"dbt_build": "0.01", "query_mix": "0.1"}

# Schema-test violation counts of graft.Build over the seed-42 sf0.01 tables.
PINNED_CHECKS = {
    "not_null_revenue_monthly_total": 0,
    "unique_stg_events_key": 750,
    "not_null_events_key": 0,
    "relationships_events_user": 0,
    "accepted_values_order_status": 1,
}

# The operator modules query_mix calls (the operators.<Module> layer).
MODULES = ("Dedup", "Ann", "TextAnalysis", "Mining", "Events")
BUILD_STEPS = ("dim_zones", "fact_lineitem", "dm_monthly_zone_revenue",
               "dm_monthly_zone_statistics")

# The module list of build.sbt's jdk17AddOpens: Spark 4 on JDK 17 outside
# spark-submit needs every one of them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ locate

def spark_jars(root: Path) -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    die("no Spark jar directory: set SPARK_HOME")


def data_dir(root: Path, scale: str) -> Path:
    """The seed-42 input tables of one scale factor, as TESTDATA.md lists them."""
    doc = root / "TESTDATA.md"
    m = re.search(rf"^\|\s*{re.escape(scale)}\s*\|\s*`([^`]+)`", doc.read_text(), re.M) \
        if doc.is_file() else None
    if not m:
        die(f"TESTDATA.md lists no sf{scale} directory")
    d = Path(m.group(1))
    if not (d / "lineitem.parquet").exists():
        die(f"no input tables under {d}")
    return d


# ------------------------------------------------------------------- build

def build(root: Path, jars: Path) -> Path:
    """Compile graft and perfbench/scala once per source tree; return classes."""
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    graft_src = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((HERE / "scala").glob("*.scala"))
    h = hashlib.sha256()
    for f in graft_src + bench_src:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    if (classes / "STAMP").is_file() and (classes / "STAMP").read_text() == stamp:
        return classes
    tmp = out / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "graft").mkdir(parents=True)
    (tmp / "perfbench").mkdir(parents=True)
    cp = f"{jars}/*"
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
              "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", str(os.cpu_count() or 1)]
    for dest, srcs, extra in (("graft", graft_src, ""),
                              ("perfbench", bench_src, f"{tmp / 'graft'}:")):
        r = subprocess.run(scalac + ["-classpath", extra + cp, "-d",
                                     str(tmp / dest)] + [str(f) for f in srcs],
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            die(f"compiling {dest} failed")
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp / "graft", dirs_exist_ok=True)
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


# --------------------------------------------------------------------- run

def run_jvm(classes: Path, jars: Path, work: Path, args, data: Path,
            deadline: float) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a heap committed and touched up front: no page faults on fresh heap
    # regions inside the timed passes
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes / 'perfbench'}:{classes / 'graft'}:{jars}/*",
            "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--work", str(work)]
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("the JVM ran out of time")
    finally:
        log.close()
    res = work / "result.json"
    if p.returncode != 0 or not res.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        die(f"the JVM failed with exit code {p.returncode}")
    return json.loads(res.read_text())


# ------------------------------------------------------------ correctness

class Oracle:
    """DuckDB answers to oracle SQL over the input tables. An answer depends
    only on the SQL text and the inputs, so it is computed once per (SQL,
    inputs) and kept under the build directory; every run still compares
    its own outputs against it."""

    def __init__(self, data: Path, work: Path, cache: Path):
        self.data, self.work, self.cache, self.con = data, work, cache, None
        h = hashlib.sha256()
        for f in sorted(data.glob("*.parquet")):
            st = f.stat()
            h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns}".encode())
        self.inputs = h.hexdigest()

    def connect(self):
        import duckdb
        con = duckdb.connect()
        spill = self.work / "duckdb_tmp"  # private to this process
        spill.mkdir(exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        return con

    def frame(self, sql: str):
        import pandas as pd
        key = hashlib.sha256((self.inputs + "\0" + sql).encode()).hexdigest()
        f = self.cache / f"{key}.pkl"
        if f.is_file():
            return pd.read_pickle(f)
        if self.con is None:
            self.con = self.connect()
        df = self.con.sql(sql).df()
        self.cache.mkdir(parents=True, exist_ok=True)
        tmp = f.with_suffix(f".tmp{os.getpid()}")
        df.to_pickle(tmp)
        tmp.rename(f)
        return df

    def close(self):
        if self.con is not None:
            self.con.close()


def read_parquet_dir(path: Path):
    import pandas as pd
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def same_frame(exp, got) -> str:
    """'' when equal after column/row sorting with bit-exact floats."""
    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), ignore_index=True)
    if sorted(exp.columns) != sorted(got.columns):
        return f"columns {sorted(exp.columns)} != {sorted(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    e, g = norm(exp), norm(got)
    for c in e.columns:
        ev, gv = e[c], g[c]
        if ev.dtype.kind == "f" or gv.dtype.kind == "f":
            def rep(s):
                return s.astype(float).map(lambda x: repr(float(x)) if x == x else "nan")
            bad = rep(ev) != rep(gv)
        else:
            bad = ev.astype(str) != gv.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"column {c}: {int(bad.sum())} diffs, e.g. {ev[i]!r} != {gv[i]!r}"
    return ""


def check_outputs(res: dict, oracle: Oracle) -> dict:
    """Oracle verdict per checked output name: '' when correct."""
    check = Path(res["check_dir"])
    sql = res["oracle_sql"]
    verdict = {}

    def judge(name, fn):
        try:
            verdict[name] = fn()
        except Exception as ex:  # noqa: BLE001 - any error is a failed check
            verdict[name] = f"{type(ex).__name__}: {ex}"

    def compare(name, sql_text, path):
        judge(name, lambda: same_frame(oracle.frame(sql_text), read_parquet_dir(path)))

    if res["workload"] == "dbt_build":
        wh = check / "warehouse"
        compare("dm_monthly_zone_revenue", sql["q_monthly_rollup"],
                wh / "dm_monthly_zone_revenue")
        compare("dm_monthly_zone_statistics", sql["q_monthly_stats"],
                wh / "dm_monthly_zone_statistics")
        month = res["refresh_month"]

        def refresh():
            # the refresh writes exactly the fact's rows from its month
            # on, one partition per ship month
            import pyarrow.parquet as pq
            got = {}
            for f in glob.glob(f"{wh}/fact_lineitem_monthly/ship_month=*/*.parquet"):
                m = Path(f).parent.name.split("=", 1)[1]
                got[m] = got.get(m, 0) + pq.read_metadata(f).num_rows
            exp = oracle.frame(
                f"SELECT strftime(l_shipdate, '%Y-%m') AS m, count(*) AS n FROM "
                f"({sql['q_fact_join']}) GROUP BY m")
            exp = {m: int(n) for m, n in zip(exp["m"], exp["n"]) if m >= month}
            return "" if got == exp else \
                f"partition rows {sorted(got.items())[:3]} != {sorted(exp.items())[:3]}"
        judge("fact_lineitem_monthly", refresh)
        checks = res["build_reports_warm"][0]["checks"]
        verdict["schema_tests"] = "" if checks == PINNED_CHECKS else \
            f"violations {checks} != pinned {PINNED_CHECKS}"
    else:
        for name in sorted(sql):
            compare(name, sql[name], check / name)
    return verdict


# ---------------------------------------------------------------- metrics

def typical_pass(passes, f):
    """Sum over ops of the op's median f over the timed passes: one slow
    sample of one op moves it less than it moves that pass's total."""
    per_op = {}
    for p in passes:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(f(o))
    return sum(median(v) for v in per_op.values())


def end_to_end(res: dict) -> dict:
    passes = res["passes"]
    heaps = {}
    for p in passes:
        for o in p["ops"]:
            heaps.setdefault(o["name"], []).append(o["heap_after_gc_mb"])
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (typical_pass(passes, lambda o: o["wall_s"]), "s"),
        "pass_cpu_s": (typical_pass(passes, lambda o: o["cpu_s"]), "s"),
        "mem_peak_mb": (max(median(v) for v in heaps.values()), "MB"),
        "disk_write_mb": (typical_pass(passes, lambda o: o["written_mb"]), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(res: dict) -> dict:
    passes = res["passes"]
    n = len(passes)
    samples = [o for p in passes for o in p["ops"]]

    def per_pass(f):
        return typical_pass(passes, f)

    def counter(key):
        return per_pass(lambda o: o.get("counters", {}).get(key, 0.0))

    m = {
        "core.session_s": (median(res["session_s"][1:] or res["session_s"]), "s"),
        "core.plan_s": (per_pass(lambda o: o.get("plan_s", 0.0)), "s"),
        "sources.scan_mb": (counter("sources.scan_mb"), "MB"),
        "sources.scan_rows": (counter("sources.scan_rows"), "count"),
    }
    for mod in MODULES:
        m[f"operators.{mod}.call_s"] = (per_pass(
            lambda o: o.get("call_s", 0.0) if o["module"] == mod else 0.0), "s")
        m[f"operators.{mod}.exec_s"] = (per_pass(
            lambda o: o.get("exec_s", 0.0) if o["module"] == mod else 0.0), "s")
    for k, v in (res.get("kernels") or {}).items():
        m[k] = (v, "us" if "_us_" in k else "ns")
    m.update({
        "streaming.batches": (counter("streaming.batches"), "count"),
        "streaming.commit_s": (counter("streaming.commit_s"), "s"),
        "streaming.trigger_s": (counter("streaming.trigger_s"), "s"),
        "streaming.state_rows": (counter("streaming.state_rows"), "count"),
    })

    def in_op(name, key):
        return per_pass(lambda o: o.get("counters", {}).get(key, 0.0)
                        if o["name"] == name else 0.0)
    for step in BUILD_STEPS:
        m[f"build.{step}_s"] = (in_op("build", f"write_s.{step}"), "s")
    m["build.tests_s"] = (in_op("build", "qe_s.count") + in_op("build", "qe_s.collect"), "s")
    m["build.build_s"] = (per_pass(lambda o: o["wall_s"] if o["name"] == "build" else 0.0), "s")
    m["build.refresh_s"] = (per_pass(lambda o: o["wall_s"] if o["name"] == "refresh" else 0.0), "s")
    m["build.written_mb"] = (counter("build.written_mb"), "MB")
    m["build.files"] = (counter("build.files"), "count")
    tasks = counter("spark.tasks")
    for k, u in (("spark.jobs", "count"), ("spark.stages", "count"),
                 ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
                 ("spark.executor_cpu_s", "s"), ("spark.sched_overhead_s", "s"),
                 ("spark.shuffle_write_mb", "MB"), ("spark.checkpoints", "count")):
        m[k] = (counter(k), u)
    m["spark.useful_task_ratio"] = (counter("spark.useful_tasks") / tasks if tasks else 0.0,
                                    "ratio")
    m.update({
        "jvm.gc_s": (per_pass(lambda o: o["gc_s"]), "s"),
        "jvm.heap_after_gc_mb": (median([o["heap_after_gc_mb"] for o in samples]), "MB"),
        "jvm.tmp_residual_mb": (res["tmp_residual_mb"] / n, "MB"),
        "trace.pass_s": (per_pass(lambda o: o["wall_s"]), "s"),
        "trace.op_samples": (sum(len(p["ops"]) for p in passes), "count"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ------------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = HERE.parent
    if not (root / "src" / "main" / "scala" / "graft").is_dir() \
            or not (root / "build.sbt").is_file():
        die(f"no graft sources under {root}")
    jars = spark_jars(root)
    data = data_dir(root, SCALE[args.workload])
    classes = build(root, jars)
    built_s = time.time() - t_start

    base = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    work = base / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(classes, jars, work, args, data, time.time() + RUN_LIMIT_S)
        t_check = time.time()
        oracle = Oracle(data, work, base / "oracle")
        try:
            verdict = check_outputs(res, oracle)
        finally:
            oracle.close()
        check_s = time.time() - t_check
        if args.trace:
            traces = base / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.json",
                        traces / f"{args.workload}-seed{args.seed}.spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = [o for p in res["passes"] for o in p["ops"]]
    bad_outputs = sorted(k for k, v in verdict.items() if v)
    for k in bad_outputs:
        print(f"perfbench: WRONG {k}: {verdict[k]}", file=sys.stderr)
    # a failed timed call, a wrong kept output, a pass whose schema tests
    # found other violation counts than pinned
    failed = sum(1 for o in samples if not o["ok"]) + len(bad_outputs)
    if res["workload"] == "dbt_build":
        failed += sum(1 for p in res["passes"] if p["checks"] != PINNED_CHECKS)
    attempted = len(samples) + len(verdict)
    metrics = per_layer(res) if args.trace else end_to_end(res)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(res["passes"]), "timed_s": res["timed_s"],
        "warm_s": res["warm_s"], "refresh_month": res["refresh_month"],
        "compile_s": built_s, "check_s": check_s, "wall_s": time.time() - t_start,
        "op_median_s": {k: median([o["wall_s"] for o in samples if o["name"] == k])
                        for k in sorted({o["name"] for o in samples})},
        "outputs_checked": len(verdict)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
