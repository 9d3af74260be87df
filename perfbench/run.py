#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds graft and the harness (once per source state), generates the
seed's inputs with tools/gen_sf.py, runs the workload in one JVM through
graft's public entry points, checks every output, and prints one JSON
object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

# tools/ modules are imported from the checkout; leave no bytecode there.
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH_CACHE = os.path.join(HERE, "target", "graftbench.classpath")

WORKLOADS = ("publications_etl", "graph_iterative", "text_curation", "event_stream")
SF = 0.01  # scale factor of the generated inputs (tools/gen_sf.py)
STREAM_FILES = 8  # time-split event files; the flush file lands after them
# The heap every graft run gets from the root build.sbt.
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def parse_args(argv):
    def positive(s):
        v = int(s)
        if v < 1:
            raise argparse.ArgumentTypeError(f"must be >= 1, got {s}")
        return v

    def seed(s):
        v = int(s)
        if v < 0:
            raise argparse.ArgumentTypeError(f"seed must be >= 0, got {s}")
        return v

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=seed)
    p.add_argument("--seconds", required=True, type=positive)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # Self-check only: a smaller scale, and one operation that must fail.
    p.add_argument("--sf", type=float, help=argparse.SUPPRESS)
    p.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for pat in pats:
        files.update(p for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                     if os.path.isfile(p))
    return sorted(files)


def wait(proc, timeout, what, log_path):
    """Wait for a child (a JVM: the sbt script execs java); on timeout
    kill it, wait for it, then fail."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{what} exceeded {timeout}s; log in {log_path}")


def build():
    """sbt-compile graft and the harness; cache the runtime classpath keyed
    by a hash of every source file, so later runs start the JVM directly."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    if os.path.exists(CLASSPATH_CACHE):
        with open(CLASSPATH_CACHE) as f:
            cached_key, cp = f.read().split("\n", 1)
        if cached_key == key:
            return cp.strip()
    log("building graft and the harness with sbt ...")
    os.makedirs(WORK, exist_ok=True)
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL,
            text=True)
        stdout, rc = wait(proc, BUILD_TIMEOUT_S, "sbt build", build_log)
        lf.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(open(build_log).readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); log in {build_log}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_CACHE), exist_ok=True)
    with open(CLASSPATH_CACHE, "w") as f:
        f.write(key + "\n" + cp)
    return cp


# ----------------------------------------------------------------- data

def generate(sf, seed, outdir):
    """The repo's generator with its module SEED set from --seed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_sf
    gen_sf.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.main(sf, outdir)


def split_layout(flat, outdir, parts):
    """lineitem, orders and documents as `parts`-file parquet datasets (the
    reference's stage-2 "N parts"); the other tables hard-linked as is."""
    import pyarrow.parquet as pq
    os.makedirs(outdir)
    for path in sorted(glob.glob(os.path.join(flat, "*.parquet"))):
        name = os.path.basename(path)
        if name[:-len(".parquet")] in ("lineitem", "orders", "documents"):
            t = pq.read_table(path)
            d = os.path.join(outdir, name)
            os.makedirs(d)
            step = math.ceil(t.num_rows / parts)
            for i in range(parts):
                pq.write_table(t.slice(i * step, step),
                               os.path.join(d, f"part-{i:05d}.parquet"))
        else:
            os.link(path, os.path.join(outdir, name))


def stream_layout(flat, outdir, nfiles):
    """events split by ts into `nfiles` files, then one flush file: a click
    and a purchase of users that do not exist, 4 h after the last event,
    which advance both watermarks of the outer join past every purchase."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    os.makedirs(outdir)
    t = pq.read_table(os.path.join(flat, "events.parquet"))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    step = math.ceil(t.num_rows / nfiles)
    for i in range(nfiles):
        pq.write_table(t.slice(i * step, step), os.path.join(outdir, f"ev-{i:05d}.parquet"))
    last = pc.max(t["ts"]).value
    flush_ts = last + 4 * 3600 * 1000000
    flush = pa.table({
        "event_id": [-1, -2], "ts": [flush_ts, flush_ts], "user_id": [-1, -2],
        "event_type": ["click", "purchase"], "value": [0.0, 0.0], "props": ["{}", "{}"],
    }).cast(t.schema)
    pq.write_table(flush, os.path.join(outdir, f"ev-{nfiles:05d}.parquet"))


def dir_stats(path, tables):
    """Input rows and bytes of the given tables in a layout directory."""
    import pyarrow.parquet as pq
    rows = size = 0
    for t in tables:
        for f in sorted(glob.glob(os.path.join(path, t))):
            files = ([f] if os.path.isfile(f)
                     else glob.glob(os.path.join(f, "**", "*.parquet"), recursive=True))
            for x in files:
                rows += pq.ParquetFile(x).metadata.num_rows
                size += os.path.getsize(x)
    return {"rows": rows, "bytes": size}


# ----------------------------------------------------------------- checks

def oracle_checks(flat, rundir, oracle):
    """Hash-compare registry outputs with their DuckDB oracle SQL via
    tools/check.py's main (not its CLI). Returns {query: ok}."""
    if not oracle:
        return {}
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    cdir = os.path.join(rundir, "oracle")
    os.makedirs(cdir)
    for q, o in oracle.items():
        os.symlink(o["path"], os.path.join(cdir, q))
    with open(os.path.join(cdir, "oracle_sql.json"), "w") as f:
        json.dump({q: o["sql"] for q, o in oracle.items()}, f)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(flat, cdir, json_out=os.path.join(rundir, "oracle.json"))
    sys.stderr.write(out.getvalue())
    with open(os.path.join(rundir, "oracle.json")) as f:
        res = json.load(f)
    return {q: bool(res.get(q, {}).get("hash_match")) for q in oracle}


# ---------------------------------------------------------------- metrics

def p90(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def main(argv):
    args = parse_args(argv)
    spec = bench_spec()
    for need in ("build.sbt", "src/main/scala/graft", "tools/gen_sf.py", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    cores = len(os.sched_getaffinity(0))
    sf = args.sf if args.sf is not None else SF

    cp = build()

    rundir = os.path.join(WORK, "run")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    flat = os.path.join(rundir, "data", "flat")
    t_gen = time.time()
    generate(sf, args.seed, flat)
    data, stream_files, inputs = flat, None, {}
    if args.workload == "publications_etl":
        data = os.path.join(rundir, "data", "split")
        split_layout(flat, data, cores)
        inputs = dir_stats(data, ["*.parquet"])
    elif args.workload == "graph_iterative":
        inputs = dir_stats(flat, ["supplier.parquet", "lineitem.parquet", "orders.parquet",
                                  "part.parquet", "customer.parquet"])
    elif args.workload == "text_curation":
        inputs = dir_stats(flat, ["documents.parquet", "embeddings.parquet"])
    else:
        stream_files = os.path.join(rundir, "data", "stream")
        stream_layout(flat, stream_files, STREAM_FILES)
        inputs = dir_stats(stream_files, ["*.parquet"])
    log(f"inputs at sf{sf} seed {args.seed}: {inputs} ({time.time() - t_gen:.1f}s)")

    out = os.path.join(rundir, "out")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # A fixed heap and young generation, not pre-touched: G1's
           # adaptive sizing made peak RSS spread 23-35% between runs of
           # the same code; fixed, every run cycles the whole young
           # generation and RSS moves with the data that outlives it.
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn1g",
           f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--data", data, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores)]
    if stream_files:
        cmd += ["--stream-files", stream_files]
    if args.inject_failure:
        cmd += ["--inject-failure"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
               MALLOC_ARENA_MAX="2")
    jvm_log = os.path.join(rundir, "jvm.log")
    with open(jvm_log, "w") as lf:
        t0_us = time.time_ns() // 1000
        proc = subprocess.Popen(cmd + ["--t0-us", str(t0_us)], cwd=rundir, env=env,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        _, rc = wait(proc, JVM_TIMEOUT_S, "workload JVM", jvm_log)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write("".join(open(jvm_log).readlines()[-40:]))
        fail(f"workload JVM exited {rc}; log in {jvm_log}")
    with open(result_path) as f:
        res = json.load(f)
    for line in open(jvm_log):
        if "[perfbench]" in line:
            sys.stderr.write(line)

    # Operations and their outcome: a thrown operation, a failed check or
    # an oracle mismatch each mark the operation failed.
    ops = res["ops"]
    failed = {i for i, o in enumerate(ops) if o.get("error")}
    last_pass = max(o["pass"] for o in ops)

    def mark(op_name):
        idx = [i for i, o in enumerate(ops) if o["name"] == op_name and o["pass"] == last_pass]
        failed.update(idx[-1:] or [len(ops) - 1])

    checks = {c["name"]: c["ok"] for c in res["checks"]}
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check FAILED: {c['name']}: {c['detail']}")
            mark(c["op"])
    oracle = oracle_checks(flat, rundir, res["oracle"])
    for q, ok in oracle.items():
        if not ok:
            log(f"oracle FAILED: {q}")
            mark(res["oracle"][q]["op"])
    attempted = len(ops)
    correct = not failed and all(checks.values()) and all(oracle.values())

    timed = [p for p in res["passes"] if p["role"] == "timed"]
    e2e = {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in timed),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    lat = res["batch_latencies_s"]
    if lat:
        e2e.update(batch_p50_s=statistics.median(lat), batch_p90_s=p90(lat),
                   batch_samples=len(lat))
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "cores": cores,
        "inputs": inputs, "timed_passes": len(timed),
        "ops_s": [[o["name"], round(o["seconds"], 3)] for o in ops
                  if o["pass"] in {p["index"] for p in timed}][:50],
        "error_rate": len(failed) / attempted, "attempted": attempted, "failed": len(failed),
        "checks": checks, "oracle": oracle, "setup": res["setup"], "conf": res["conf"],
        "end_to_end": e2e,
    }
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        detail["spans"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
        names = {m["name"] for m in wanted}
        detail["other_layers"] = {k: v for k, v in res["layers"].items() if k not in names}
    print(json.dumps({"detail": detail}))

    source = res["layers"] if args.trace else e2e
    metrics = {}
    for m in wanted:
        v = float(source.get(m["name"], 0.0))
        if not math.isfinite(v):
            fail(f"metric {m['name']} is not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
