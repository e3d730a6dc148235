#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, measured end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source with scalac on the first run in a
checkout (later runs reuse the build while the sources are unchanged),
generates the workload's inputs from the seed, runs the workload in one
JVM, checks its outputs, and prints one JSON object as the last line of
standard output. `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer metrics and writes spans, a self-time table and
the tracing overhead under .bench_build/perfbench/trace/. Every run also
writes a self-identifying record under .bench_build/perfbench/records/.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

CORES = max(1, min(4, os.cpu_count() or 1))
XMX = "3g"
JVM_TIMEOUT_S = 150

# Traffic of stream_ingest; README.md "Traffic dimensions" gives the
# source or measurement behind each value.
SHARDS = 4                 # fixed in the harness (StreamIngest.shards)
BACKLOG = SHARDS * 1_000   # one second of the topic's write ceiling, 1 000 rec/s per shard
TAIL_RATE = 300            # msg/s, under a fifth of the measured drain capacity
TAIL_POOL = TAIL_RATE * 30  # the warm second and a tail of 0.8 x --seconds, up to 36
MAX_PER_BATCH = 1_000      # per shard: the reference's GetRecords LIMIT

# Sizes and traffic dimensions per workload: `gen` makes the inputs and
# returns figures measured on them, `params` reach the harness.
WORKLOADS = {
    "stream_ingest": {
        "gen": lambda d, s: gen.messages(d, s, n_msgs=BACKLOG + TAIL_POOL, n_keys=200,
                                         key_skew=0.99, dup_share=0.05),
        "params": {"backlog": BACKLOG, "max_per_batch": MAX_PER_BATCH, "warm_cycles": 3,
                   "cycles": 4, "tail_rate": TAIL_RATE, "tail_share": 0.8},
    },
    "analytics": {
        "gen": lambda d, s: (gen.tpch(d, s, sf=0.1)
                             or gen.edges(d, s, n_nodes=2_000, n_edges=8_000, skew=0.91)),
        "params": {},
    },
}

# metric name -> unit, as declared in BENCHMARK.json
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_digest():
    """SHA-256 over every file the build reads: graft's sources and
    resources and the harness's."""
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft's sources (src/main/scala/graft) are missing; "
                         "run from the repository root")
    files = []
    for d in ("src/main", "perfbench/src/main"):
        files += sorted(f for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                        if not os.path.isdir(f))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark distribution graft builds against: graft's
    own build takes its dependencies from the same directory, and it
    ships the Scala compiler too."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def build(digest):
    """Compile graft and the harness once per source digest, with the
    Scala compiler of the Spark distribution, into this checkout;
    returns the harness's runtime classpath. It calls scalac directly,
    not sbt, so a run reads only the JDK, the Spark jars and the
    checkout, and writes only under .bench_build/."""
    jars = spark_jars()
    classes = os.path.join(OUT, "build", digest)
    cp = os.pathsep.join([classes] + jars)
    done = os.path.join(classes, "BUILT")
    if os.path.exists(done):
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    sources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True)
                     + glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"),
                                 recursive=True))
    argfile = os.path.join(OUT, "build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    log(f"perfbench: compiling {len(sources)} sources of graft and the harness ...")
    t0 = time.time()
    blog = os.path.join(OUT, "build", "scalac.log")
    with open(blog, "w") as f:
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
                            "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", os.pathsep.join(jars), "-d", classes,
                            "@" + argfile],
                           stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=840)
    if r.returncode != 0:
        with open(blog, errors="replace") as f:
            log("".join(f.readlines()[-30:]))
        raise SystemExit(f"perfbench: build failed (exit {r.returncode}), see {blog}")
    # graft's resources (its data source registration) beside its classes
    shutil.copytree(os.path.join(ROOT, "src", "main", "resources"), classes, dirs_exist_ok=True)
    open(done, "w").close()
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, args, work, jlog):
    # The default tiered JIT, as graft's own build and tests run it. A
    # fixed heap and the parallel collector keep GC sizing the same in
    # every run.
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(jlog, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def cpu_times():
    """Host CPU time counters (Linux /proc/stat), or None elsewhere."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def cpu_shares(before, after):
    """Busy and steal shares of host CPU time between two samples:
    steal is time the hypervisor gave to other guests."""
    if not before or not after:
        return None
    d = [y - x for x, y in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    steal = d[7] if len(d) > 7 else 0
    return {"busy": (total - idle - steal) / total, "steal": steal / total}


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_check(data, results):
    """Compare each warm-pass result against DuckDB running the
    registry's oracle SQL over the same parquet tables, canonicalised
    as tools/check_oracle.py does. Returns {query: ok}."""
    import duckdb
    co = load_check_oracle()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    ok = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        try:
            o = co.canon(con.execute(sql).fetch_arrow_table())
            e = co.canon(con.execute(f"SELECT * FROM read_parquet({files})").fetch_arrow_table())
            ok[name] = bool(files) and o == e
        except Exception as ex:  # an oracle error fails the query
            log(f"perfbench: {name}: {ex}")
            ok[name] = False
        if not ok[name]:
            log(f"perfbench: {name} differs from DuckDB")
    return ok


def git_head():
    """HEAD of the checkout, if the checkout itself is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def overhead(workload, seed, traced_e2e):
    """Traced minus untraced, per end-to-end metric, against the latest
    untraced record of the same workload and seed, if there is one."""
    recs = sorted(glob.glob(os.path.join(OUT, "records", f"{workload}-s{seed}-t0-*.json")))
    if not recs:
        return None
    with open(recs[-1]) as f:
        base = json.load(f)["metrics"]
    return {k: {"untraced": base[k], "traced": v, "diff": v - base[k],
                "rel": (v - base[k]) / base[k] if base[k] else None}
            for k, v in traced_e2e.items() if k in base}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    digest = source_digest()
    cp = build(digest)
    w = WORKLOADS[a.workload]
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    trace_dir = os.path.join(OUT, "trace", f"{a.workload}-s{a.seed}")
    if a.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    t0 = time.time()
    inputs = w["gen"](data, a.seed)
    gen_s = time.time() - t0

    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(CORES), "--data", data, "--work", work,
            "--out", result, "--trace_dir", trace_dir]
    for k, v in w["params"].items():
        args += ["--param", f"{k}={v}"]
    jlog = os.path.join(work, "jvm.log")
    cpu0 = cpu_times()
    code = run_jvm(cp, args, work, jlog)
    host_cpu = cpu_shares(cpu0, cpu_times())
    if code != 0 or not os.path.exists(result):
        with open(jlog, errors="replace") as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness failed (exit {code}), see {jlog}")
    with open(result) as f:
        r = json.load(f)

    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "analytics":
        ok = duckdb_check(data, os.path.join(work, "tpch_results"))
        calls = r["calls_by_op"]
        for name, good in ok.items():
            if not good:
                failed += calls.get(name, 0)
                r["failures"].append(f"{name}: warm-pass result differs from DuckDB")
        if set(ok) != {n for n in calls if "_tpch_" in n}:
            failed += attempted  # a timed query without an oracle result
    e2e = dict(r["e2e"], setup_s=gen_s + r["setup_jvm_s"])
    for k in END_TO_END:
        v = e2e.get(k)
        if v is None or not math.isfinite(v) or v <= 0:
            raise SystemExit(f"perfbench: metric {k} = {v} is not a positive number")
    if a.trace:
        metrics = {k: {"value": r["layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_head": git_head(), "source_digest": digest,
        "cores": CORES, "host_nproc": os.cpu_count(), "host_cpu": host_cpu, "xmx": XMX,
        "python": platform.python_version(), "params": w["params"],
        "attempted": attempted, "failed": failed, "failures": r["failures"],
        "inputs": inputs, "metrics": e2e, "per_layer": r["layer"], "detail": r["detail"],
        "jvm": r["record"],
        "gen_s": gen_s,
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    rpath = os.path.join(OUT, "records", f"{tag}-{int(time.time() * 1000)}.json")
    if a.trace:
        record["tracing_overhead"] = overhead(a.workload, a.seed, e2e)
        with open(os.path.join(trace_dir, "report.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, allow_nan=False)
        log(f"perfbench: spans, self times and overhead in {trace_dir}")
    with open(rpath, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, allow_nan=False)
    log(f"perfbench: record {rpath}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, allow_nan=False))


if __name__ == "__main__":
    main()
