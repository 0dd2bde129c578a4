#!/usr/bin/env python3
"""Pipeline benchmark: real `DistMain` directions on seeded inputs.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload etl_copy --seed 1 --seconds 10 --trace 0

Builds the repo's main sources and the driver into `.bench_build/` with the
Scala compiler that ships in the Spark jars (rebuilt only when a source
changes), generates the workload's inputs from the seed, and runs one fresh
JVM at local[nproc]: it sets up a session, runs one cold pass, then warm
passes on fresh sessions (and, with `--trace 1`, one traced pass). Outputs
of every pass are checked in DuckDB. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# a workload runs the named directions of its configs (merged) in order
WORKLOADS = {
    "batch": {"gen": "batch", "configs": ["etl_copy.json", "curation.json"],
              "directions": ["copy", "curate", "audit", "kernels"]},
    "etl_copy": {"gen": "etl", "configs": ["etl_copy.json"], "directions": ["copy"]},
    "curation": {"gen": "sf", "configs": ["curation.json"],
                 "directions": ["curate", "audit", "kernels"]},
    "task_floor": {"gen": "sf", "configs": ["task_floor.json"], "directions": ["floor"]},
    "stream_ingest": {"gen": "stream", "configs": ["stream_ingest.json"],
                      "directions": ["ingest"], "gen_opts": {"arrivals": 1000, "rounds": 1}},
}
# warm passes: at least MIN_WARM, then more until --seconds of warm time is
# spent, at most MAX_WARM; pass_s is their median
MIN_WARM = 2
MAX_WARM = 3


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def spark_jars(root):
    """The Spark jars directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    that `build.sbt` compiles against. Returns it and the Scala compiler
    classpath found there."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar"))
    if not compiler:
        raise SystemExit(f"no scala-compiler jar under {jars}")
    scala = [compiler[0]] + glob.glob(os.path.join(jars, "scala-library-2.13*.jar")) + \
        glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar"))
    return jars, ":".join(scala)


def _stamp(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, scala):
    """Compile `srcs` into `out` unless the sources are unchanged."""
    stamp = _stamp(srcs)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", scala,
           "scala.tools.nsc.Main", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile of {len(srcs)} sources failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled {len(srcs)} sources into {out} in {time.time() - t0:.1f}s")


def build(root, bdir):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no Scala sources under {root}/src/main/scala: "
                         f"run from the root of a source checkout")
    jars, scala = spark_jars(root)
    classes = os.path.join(bdir, "classes")
    scalac(main, classes, f"{jars}/*", scala)
    driver = os.path.join(bdir, "driver")
    scalac(sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))), driver,
           f"{jars}/*:{classes}", scala)
    return f"{jars}/*:{classes}:{driver}"


# ---- one JVM ----------------------------------------------------------------

def run_jvm(classpath, plan, work, name, cores, deadline):
    plan_path = os.path.join(work, f"{name}.plan.json")
    result_path = os.path.join(work, f"{name}.result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", classpath, "perfbench.PerfDriver", plan_path, result_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(os.path.join(work, f"{name}.log"), "w") as logf:
        launch_ms = time.time() * 1000.0
        p = subprocess.Popen(cmd + [repr(launch_ms)], cwd=work, env=env,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{name}: JVM timed out; log in {logf.name}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result_path):
        raise SystemExit(f"{name}: JVM exited {rc}; log in {work}/{name}.log")
    with open(result_path) as f:
        return json.load(f)


# ---- checks -----------------------------------------------------------------

def oracle_expected(con, bdir, sf_dir, oracle, tasks):
    """Expected rows per graftQuery task, cached per input content."""
    cache = os.path.join(bdir, "oracle")
    os.makedirs(cache, exist_ok=True)
    files = glob.glob(os.path.join(sf_dir, "*.parquet"))
    out = {}
    for t in tasks:
        q = t["source"]["params"]["query_name"]
        key = checks.content_key(files, oracle[q], t.get("transform"))
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[t["dest"]["path"]] = pickle.load(f)
            continue
        exp = checks.expected_rows(con, sf_dir, oracle[q], t.get("transform"))
        with open(path + ".tmp", "wb") as f:
            pickle.dump(exp, f)
        os.replace(path + ".tmp", path)
        out[t["dest"]["path"]] = exp
    return out


def check_pass(wl, con, cfg, p, inputs, expected, twin):
    """Return one failure reason (or None) per operation of the pass."""
    out = p["out"]
    local = lambda path: path.replace("{OUT}", out).replace("file:", "")  # noqa: E731
    failed_dirs = {d["direction"] for d in p["directions"] if d["error"]}
    results = []
    if wl == "stream_ingest":
        arr = checks.parquet_rel(os.path.join(inputs, "rounds"))
        verdict = checks.check_stream(con, os.path.join(out, "deduped"), arr, twin)
        for r in p["rounds"]:
            results.append(None if r["ok"] and not verdict else
                           (verdict or "stream round threw"))
        return results
    for direction in WORKLOADS[wl]["directions"]:
        for t in cfg[direction]:
            if direction in failed_dirs:
                results.append(f"{direction} threw")
                continue
            src, dst = t["source"], t["dest"]
            if t.get("verify"):
                results.append(None)  # the task itself compares, and throws
            elif src["adapter"] == "graftQuery":
                results.append(checks.check_query(
                    con, expected[dst["path"]], local(dst["path"]),
                    text=dst["adapter"] == "hadoopColumnar"))
            else:
                results.append(check_etl_task(con, t, local, inputs))
    return results


ORDERS_CASTS = {"o_orderdate": "TIMESTAMP", "o_orderkey": "BIGINT",
                "o_totalprice": "DOUBLE", "o_custkey": "BIGINT", "o_orderstatus": "VARCHAR"}


def check_etl_task(con, t, local, inputs):
    src, dst = t["source"], t["dest"]
    if src["adapter"] == "hadoopColumnar":  # lineitem CSV -> parquet subset
        cols = dst["params"]["columns"]
        s = (f"read_csv('{inputs}/lineitem_csv/*.csv', header = true, "
             f"all_varchar = true, delim = ',')")
        return checks.check_copy(con, s, checks.parquet_rel(local(dst["path"])), cols)
    if dst["adapter"] == "hadoopColumnar":  # orders parquet -> gzip CSV
        cols = dst["params"]["columns"]
        files = sorted(glob.glob(f"{local(dst['path'])}/*.csv*"))
        if not files:
            return "no output files"
        d = f"read_csv({files!r}, header = true, all_varchar = true, delim = '|')"
        return checks.check_copy(con, checks.parquet_rel(f"{inputs}/orders_parquet"), d,
                                 cols, ORDERS_CASTS)
    if dst["adapter"] == "jdbcColumnar":  # checked after the read back
        return None
    # JDBC read back -> parquet: compare with the customer source
    rel = checks.parquet_rel(local(dst["path"]))
    cols = [c for c, in con.sql(f"SELECT column_name FROM (DESCRIBE SELECT * FROM "
                                f"{checks.parquet_rel(inputs + '/customer_parquet')})")
            .fetchall()]
    back = {c.lower(): c for c, in con.sql(
        f"SELECT column_name FROM (DESCRIBE SELECT * FROM {rel})").fetchall()}
    if sorted(back) != sorted(cols):
        return f"read-back columns {sorted(back)} != source {sorted(cols)}"
    sel = ", ".join(f'"{back[c]}" AS "{c}"' for c in cols)
    return checks.check_copy(con, checks.parquet_rel(f"{inputs}/customer_parquet"),
                             f"(SELECT {sel} FROM {rel})", cols)


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so the JVM is killed and waited for, and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + 170
    wl = args.workload
    spec = WORKLOADS[wl]
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    cores = len(os.sched_getaffinity(0))

    classpath = build(root, bdir)
    deadline = max(deadline, time.time() + 160)  # a first run also builds

    kind = spec["gen"]
    inputs = os.path.join(bdir, "inputs", f"{kind}-{args.seed}")
    for old in glob.glob(os.path.join(bdir, "inputs", f"{kind}-*")):
        if old != inputs:
            shutil.rmtree(old, ignore_errors=True)
    manifest = gen.generate(kind, args.seed, inputs, **spec.get("gen_opts", {}))
    input_rows = sum(v["rows"] for v in manifest["inputs"].values())

    work = os.path.join(bdir, "work", f"{wl}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {}
        for name in spec["configs"]:
            with open(os.path.join(HERE, "configs", name)) as f:
                text = f.read()
            cfg.update(json.loads(text.replace("{SF_DIR}", os.path.join(inputs, "sf"))
                                  .replace("{IN}", inputs)))
        config_path = os.path.join(work, "config.json")
        with open(config_path, "w") as f:
            json.dump(cfg, f, indent=1)
        query_tasks = [t for d in spec["directions"] for t in cfg[d]
                       if t["source"]["adapter"] == "graftQuery" and not t.get("verify")]
        plan = {
            "cores": cores, "config": config_path, "directions": spec["directions"],
            "work": work, "min_warm": MIN_WARM, "max_warm": MAX_WARM,
            "oracle_queries": sorted({t["source"]["params"]["query_name"] for t in query_tasks}),
        }
        if kind == "stream":
            plan["rounds"] = sorted(glob.glob(os.path.join(inputs, "rounds", "round_*")))
            plan["twin_arrivals"] = os.path.join(inputs, "rounds")
        plan.update(warm_seconds=args.seconds, traced_passes=args.trace)
        result = run_jvm(classpath, plan, work, "driver", cores, deadline)
        report = evaluate(wl, result, cfg, query_tasks, inputs, bdir, input_rows, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))


def evaluate(wl, r, cfg, query_tasks, inputs, bdir, input_rows, cores):
    con = checks.connect()
    expected = oracle_expected(con, bdir, os.path.join(inputs, "sf"), r["oracle"], query_tasks)
    attempted, failures = 0, []
    for p in r["passes"]:
        for reason in check_pass(wl, con, cfg, p, inputs, expected, r["twin_ids"]):
            attempted += 1
            if reason:
                failures.append(f"pass {p['index']}: {reason}")
    for f in failures[:10]:
        log(f"FAILED {f}")

    warm = [p for p in r["passes"][1:] if not p["traced"]]
    pass_s = M.median([p["wall_s"] for p in warm])
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "first_pass_s": (r["passes"][0]["wall_s"], "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (input_rows / pass_s, "rows/s"),
        "catchup_s": (M.median([rd["catchup_s"] for p in warm for rd in p["rounds"]]), "s"),
    }
    for k, (v, u) in e2e.items():
        print(f"{wl} {k} = {v:.4f} {u}")
    print(f"{wl} checks: {attempted - len(failures)}/{attempted} operations passed "
          f"over {len(r['passes'])} passes")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    traced = [p for p in r["passes"] if p["traced"]]
    if traced:
        layer = M.layer_metrics(r, traced[0], pass_s, cores)
        layer["peak_rss_mb"] = r["peak_rss_mb"]
        layer["streaming.kept_per_arrived"] = 0.0
        if wl == "stream_ingest":
            kept = con.sql(f"SELECT count(*) FROM read_parquet('{traced[0]['out']}/deduped/*.parquet')"
                           ).fetchone()[0]
            layer["streaming.kept_per_arrived"] = kept / input_rows
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
        self_s = sum(layer[f"{name}.self_s"] for name in M.LAYERS)
        print(f"{wl} traced pass {traced[0]['wall_s']:.4f} s = layer self times {self_s:.4f} s "
              f"+ runner.unattributed_s {layer['runner.unattributed_s']:.4f} s")
        for k, v in sorted(layer.items()):
            print(f"{wl} {k} = {v:.6g} {unit_of(k)}")
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def unit_of(name):
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith(("core_util", "tasks_per_stage", "out_per_in_bytes", "kept_per_arrived")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    main()
