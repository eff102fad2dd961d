#!/usr/bin/env python3
"""Benchmark of the order pipeline, the micro-batch stream and the query
registry, run from the root of a checkout:

    python3 perfbench/run.py --workload orders_etl --seed 1 --seconds 10 --trace 0

Workloads: orders_etl and registry_mix (see METRICS.md).
The first run in a checkout builds the repository and the harness with
sbt into .bench_build/. Each run stages its seeded inputs and works in
its own directory under .bench_work/, which it deletes at the end; the
full report (with the spans of a traced run) goes to .bench_out/. The
last line of standard output is the JSON result: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
WORKLOADS = ("orders_etl", "registry_mix")
RUN_LIMIT_S = 170
MIX_SCALE = 0.01

# JDK 17 module opens Spark needs outside spark-submit (the list the
# repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the repository and the harness once per checkout (again
    only when a source changes) and record the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
                and open(STAMP).read() == stamp:
            return open(CLASSPATH).read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        log("building with sbt")
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=850)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln]
        cp = re.sub(r"^\[info\]\s*", "", lines[-1]).strip()
        with open(CLASSPATH, "w") as f:
            f.write(cp)
        with open(STAMP, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f}s")
        return cp


def heap_gb():
    """The tier-1 heap rule (half of RAM, 2 to 8 GiB), capped at 4 GiB:
    the inputs here are small and the machine may be shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return max(2, min(g, 8, 4))


def materialize_ctes(sql):
    """The oracle emit rule of the repository's Verify main: every CTE is
    materialized, so DuckDB evaluates deep chains once."""
    return re.sub(r"\b([a-zA-Z]\w*) AS \((\s*)SELECT\b",
                  r"\1 AS MATERIALIZED (\2SELECT", sql)


def oracle_checks(data_dir, results, oracle_sql):
    """Compare each dumped result with its DuckDB oracle the way
    tools/check_correctness.py does: columns sorted by name, row count,
    then every cell exactly, in row order."""
    import duckdb
    import math
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(os.path.dirname(data_dir), 'duckdb-tmp')}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def same(a, b):
        if a is None and b is None:
            return True
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return a == b

    checks = []
    for q in sorted(results):
        if q not in oracle_sql:
            continue
        try:
            got = con.sql(f"SELECT * FROM '{results[q]}/*.parquet'").df()
            exp = con.sql(materialize_ctes(oracle_sql[q])).df()
            got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        except Exception as e:  # a failing oracle or dump is a mismatch
            checks.append({"name": f"{q}.oracle", "ok": False, "detail": str(e)[:300]})
            continue
        if list(got.columns) != list(exp.columns):
            detail = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            detail = f"rows {len(got)} != {len(exp)}"
        else:
            bad = [(i, c) for i in range(len(got)) for c in got.columns
                   if not same(got[c].iloc[i], exp[c].iloc[i])]
            detail = f"{len(bad)} mismatched cells, first {bad[:3]}" if bad else ""
        checks.append({"name": f"{q}.oracle", "ok": not detail, "detail": detail})
    return checks


def digest_check(out_dir, seed, orders, digest):
    """The processed table's digest must repeat across runs with one
    seed; earlier runs in this checkout left theirs in .bench_out."""
    path = os.path.join(out_dir, "etl_digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    key = f"{seed}:{orders}"
    before = seen.setdefault(key, digest)
    with open(path, "w") as f:
        json.dump(seen, f)
    return {"name": "digest_across_runs", "ok": before == digest,
            "detail": "" if before == digest else f"{digest} != earlier {before}"}


def stage_inputs(workload, seed, work):
    args = []
    if workload == "registry_mix":
        import tablegen
        data = os.path.join(work, "data")
        tablegen.write(data, seed, MIX_SCALE)
        args += ["--data", data,
                 "--mix", ";".join(f"{g}:{','.join(qs)}" for g, qs in metrics.MIX)]
    return args


def run_jvm(cp, work, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The young generation has a fixed size, so the reported heap peak
    # follows what the program keeps, not G1's adaptive eden sizing (which
    # moved the peak by 10% between runs). -XX:-UsePerfData: no
    # hsperfdata file outside the checkout.
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xms2g", "-Xmn512m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p)]
           + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a checkout of the repository "
                         "(build.sbt and src/main/scala/graft are missing)")
    cp = build()
    t_start = time.time()  # the 180 s run limit starts after the build

    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(work, "raw.json")]
        args += stage_inputs(a.workload, a.seed, work)
        # leave time after the JVM for the oracle checks and clean-up
        rc = run_jvm(cp, work, args, timeout=RUN_LIMIT_S - 15 - (time.time() - t_start))
        raw_path = os.path.join(work, "raw.json")
        if rc is None or not os.path.exists(raw_path):
            log(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}")
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(1)
        with open(raw_path) as f:
            raw = json.load(f)
        if raw.get("fatal"):
            log(f"harness failed: {raw['fatal']}")
            raise SystemExit(1)
        if a.workload == "registry_mix":
            raw["checks"] += oracle_checks(os.path.join(work, "data"),
                                           raw["extra"]["results"],
                                           raw["extra"]["oracle_sql"])
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        if a.workload == "orders_etl" and raw["extra"].get("etl_digest"):
            raw["checks"].append(digest_check(out_dir, a.seed, raw["extra"]["etl_orders"],
                                              raw["extra"]["etl_digest"]))
        attempted, failed, _ = metrics.op_summary(raw)
        if a.trace:
            values = metrics.per_layer(raw)
            specs = [(n, u) for n, u, _ in metrics.PER_LAYER]
        else:
            values = metrics.end_to_end(raw)
            specs = [(n, u) for n, u, _, _ in metrics.END_TO_END]
        if values is None:
            log("no operation succeeded")
            raise SystemExit(1)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in specs},
        }
        report = dict(result, hardware=raw["hardware"], workload=a.workload,
                      seed=a.seed, seconds=a.seconds, trace=a.trace,
                      failures=[c for c in raw["checks"] if not c["ok"]]
                      + [o for o in raw["ops"] if not o["ok"]],
                      setup_runs_s=raw["setup_s"], latency=metrics.latency_summary(raw),
                      # also in a traced report, for the tracing overhead
                      end_to_end=metrics.end_to_end(raw),
                      ops=raw["ops"],
                      extra={k: v for k, v in raw["extra"].items()
                             if k not in ("results", "oracle_sql")})
        if a.trace:
            report.update(spans=raw["spans"], jobs=raw["jobs"])
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump(report, f)
        hw = raw["hardware"]
        log(f"{a.workload}: nproc={hw['nproc']} heap={hw['heap_mb']}MB "
            f"spark={hw['spark']} jdk={hw['jdk']} failed={failed}/{attempted}")
        for r in report["failures"]:
            log(f"failure: {r}")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
