#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (`perfbench/build.sbt`); later runs reuse
the build until a source file changes. Then it generates the seeded inputs,
runs the workload in one JVM (`perfbench.Main`), checks the outputs in
DuckDB against a computation made apart from the program, and prints the
result as the last line of stdout:

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json and
`--trace 1` its per-layer metrics. Build outputs, inputs and per-run work
directories live under `.bench_build/`; a run removes its work directory
unless PERFBENCH_KEEP=1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# workload -> scale of its generated tables (None: no tables)
WORKLOADS = {"rel-ops": 0.1, "iter-ann": 0.001, "topic-small": None}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "embeddings")
DEADLINE_S = 170.0

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, names in os.walk(base):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when a source changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here; "
             "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, fp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(os.path.join(BUILD, "build.log")).read().strip().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, args, work, timeout):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def duck(work):
    import duckdb
    os.makedirs(os.path.join(work, "duck"), exist_ok=True)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB",
                                 "temp_directory": os.path.join(work, "duck")})
    return con


def check_oracle(con, data, work, oracle):
    """Query name -> error for every query whose warm-up output differs
    from DuckDB running its oracle SQL, or whose check could not run."""
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            bad[name] = "MissingOutput: no parquet written by the warm-up execution"
            continue
        want = "(" + sql.strip().rstrip(";") + ")"
        got = f"read_parquet({files!r})"
        try:
            cw = dict((c[0], c[1]) for c in con.execute(f"DESCRIBE SELECT * FROM {want}").fetchall())
            cg = dict((c[0], c[1]) for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
            if sorted(cw) != sorted(cg):
                bad[name] = f"ColumnMismatch: oracle {sorted(cw)} vs spark {sorted(cg)}"
                continue

            def canon(types):
                # doubles compared after rounding to 9 decimals, -0.0 folded into 0.0
                return ", ".join(
                    f'round(CAST("{c}" AS DOUBLE), 9) + 0.0 AS "{c}"'
                    if types[c].startswith(("DOUBLE", "FLOAT", "DECIMAL", "REAL")) else f'"{c}"'
                    for c in sorted(types))
            nw, ng, w_not_g, g_not_w = con.execute(f"""
                WITH w AS (SELECT {canon(cw)} FROM {want} t), g AS (SELECT {canon(cg)} FROM {got} t)
                SELECT (SELECT count(*) FROM w), (SELECT count(*) FROM g),
                       (SELECT count(*) FROM (FROM w EXCEPT ALL FROM g)),
                       (SELECT count(*) FROM (FROM g EXCEPT ALL FROM w))""").fetchone()
            if w_not_g or g_not_w:
                bad[name] = (f"ResultMismatch: {nw} oracle rows, {ng} spark rows; {w_not_g} oracle "
                             f"rows missing from spark, {g_not_w} spark rows not in oracle")
        except Exception as e:  # an oracle that cannot run fails its query
            bad[name] = f"{type(e).__name__}: {e}"
    return bad


def check_stream(con, work, rep):
    """Problems with the topic workload's outputs; empty when all hold."""
    problems = []
    n = rep["batches_total"]
    writes = {}
    for d in glob.glob(os.path.join(work, "sink", "epoch=*", "inv=*")):
        if os.path.isfile(os.path.join(d, "_SUCCESS")):
            e = int(os.path.basename(os.path.dirname(d)).split("=")[1])
            writes[e] = writes.get(e, 0) + 1
    if sorted(writes) != list(range(n)) or any(v != 1 for v in writes.values()):
        problems.append(f"epochs 0..{n - 1} not each written exactly once: "
                        f"{len(writes)} epochs, {sum(writes.values())} writes")
    con.execute(f"""CREATE VIEW emitted AS
        SELECT epoch, decode(key) AS word, CAST(decode(value) AS BIGINT) AS cnt
        FROM read_parquet('{work}/sink/*/*/*.parquet', hive_partitioning = true)""")
    con.execute(f"CREATE VIEW expected AS SELECT * FROM read_csv('{work}/expected_counts.csv', "
                "header = true, columns = {'word': 'VARCHAR', 'count': 'BIGINT'})")
    wrong = con.execute("""
        SELECT count(*) FROM (SELECT word, arg_max(cnt, epoch) AS last FROM emitted GROUP BY word) l
        FULL OUTER JOIN expected e USING (word)
        WHERE l.last IS DISTINCT FROM e.count""").fetchone()[0]
    if wrong:
        problems.append(f"{wrong} words whose last emitted count differs from the input's count")
    dup = con.execute("""SELECT count(*) FROM (SELECT word, epoch FROM emitted
        GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
    if dup:
        problems.append(f"{dup} (word, epoch) pairs emitted more than once")
    dec = con.execute("""SELECT count(*) FROM (SELECT cnt < lag(cnt) OVER (PARTITION BY word
        ORDER BY epoch) AS d FROM emitted) WHERE d""").fetchone()[0]
    if dec:
        problems.append(f"{dec} emitted counts lower than the same word's previous count")
    if rep["metrics_incoming"] != rep["messages_total"]:
        problems.append(f"metrics.incoming {rep['metrics_incoming']} != "
                        f"{rep['messages_total']} messages generated")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json is not here; run from the repository root")
    spec = json.load(open(spec_path))
    cp = build()
    t_start = time.time()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_setup = time.time()
        data = ""
        scale = WORKLOADS[a.workload]
        if scale is not None:
            sys.path.insert(0, HERE)
            import gen
            data = os.path.join(work, "data")
            gen.write(data, a.seed, scale)
        args = ["--workload", a.workload, "--work", work, "--data", data, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        rc = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t_start))
        t_jvm = time.time()
        rep_path = os.path.join(work, "report.json")
        if rc != 0 or not os.path.isfile(rep_path):
            tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-40:]
            log("\n".join(tail))
            fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'} without a report")
        rep = json.load(open(rep_path))
        if "e2e" not in rep:
            fail(f"no operation succeeded: {rep.get('errors')}")

        con = duck(work)
        correct = True
        failed = rep["failed"]
        errors = dict(rep.get("errors", {}))
        if scale is not None:
            bad = check_oracle(con, data, work, rep["oracle"])
            missing = set(rep["failed_by_query"]) - set(rep["oracle"])
            for q in sorted(missing):
                bad[q] = "NoOracle: no SparkEntry.oracleSql entry to check against"
            errors.update(bad)
            correct = not any(e.startswith(("ResultMismatch", "ColumnMismatch"))
                              for e in bad.values())
            # a query that threw or whose output failed its check fails
            # every one of its timed executions
            failed = sum(rep["rounds"] if q in errors else n
                         for q, n in rep["failed_by_query"].items())
        else:
            problems = check_stream(con, work, rep)
            if problems:
                correct = False
                errors["stream"] = "; ".join(problems)
        con.close()
        log(f"jvm exited {t_jvm - t_setup:.1f} s after set-up began; checks took "
            f"{time.time() - t_jvm:.1f} s")

        e2e = dict(rep["e2e"])
        e2e["setup_s"] = rep["first_timed_ms"] / 1000.0 - t_setup
        e2e["heap_live_mb"] = rep["heap_live_mb"]
        if a.trace:
            layers = dict(rep.get("layers", {}), **{"jvm.rss_peak_mb": rep["rss_peak_mb"]})
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        detail = {"workload": a.workload, "seed": a.seed, "rounds": rep["rounds"],
                  "errors": errors, "e2e": e2e, "warm_ms": rep["warm_ms"],
                  "gc_jit_ms": rep["gc_jit_ms"], "round_ms": rep.get("round_ms"),
                  "per_query_median_ms": rep.get("per_query_median_ms")}
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": rep["attempted"], "failed": failed,
                          "metrics": metrics}), flush=True)
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
