#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

Usage:
  python3 perfbench/run.py --workload serve|ingest|pipeline [--seed N]
      [--seconds S] [--trace 0|1] [--size full|tiny]
  python3 perfbench/run.py serve [--seed N] [--trace]

Builds the program and the benchmark once (perfbench/build.py), makes the
seeded inputs, runs the workload in one JVM with its own temporary and
Spark scratch directories, checks pipeline results against DuckDB, and
prints as the last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json, or with --trace 1 its per-layer metrics. Exits non-zero
without a result when the build or the run fails.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("serve", "ingest", "pipeline")
RUN_LIMIT_S = 170

# The per-layer metrics each workload measures, by name prefix: a traced run
# must emit every BENCHMARK.json per-layer metric that matches one of its
# workload's prefixes, and only the others read 0.
LAYERS = {
    "serve": ("simd.", "vamana.", "ann.", "ivf.", "pq.", "knnexact.", "plans.", "ipc.", "serve.",
              "spark.session_s", "spark.build.", "spark.single.", "spark.batch.",
              "spark.threshold."),
    "ingest": ("simd.panama", "ivf.", "pq.", "service.", "ipc.", "ingest.", "spark.session_s",
               "spark.build.", "spark.write.", "spark.delete.", "spark.flush.", "spark.search.",
               "spark.compact."),
    "pipeline": ("simd.panama", "pipeline.", "spark.session_s", "spark.entry."),
}

# The flags build.sbt gives forked runs (Spark on JDK 17 outside
# spark-submit, plus the incubator module the Panama kernels need).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms4g",
    "-Xmx4g",
    f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
]


def parse():
    ap = argparse.ArgumentParser()
    ap.add_argument("positional", nargs="?", choices=WORKLOADS)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", nargs="?", const="1", default="0", choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    a.workload = a.workload or a.positional
    if not a.workload:
        ap.error("a workload is required")
    return a


# ---------------------------------------------------------------- inputs

VOCAB = ("the a fast slow big small data row column table key value query join filter "
         "group agg sort order merge hash scan window stream batch spark vector part line "
         "customer").split()
LANGS = ("en", "de", "fr", "es", "zh")


def pipeline_tables(seed, data_dir, n_docs=500, n_vecs=500, dim=64, labels=10):
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding float[], label): word-salad documents over a
    small vocabulary with ~6% near-duplicates, unit vectors around one centre
    per label."""
    import duckdb
    rnd = random.Random(seed)
    docs = []
    for i in range(n_docs):
        if i > 10 and rnd.random() < 0.06:
            text = docs[rnd.randrange(i)][1] + " dup" * rnd.randint(1, 3)
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 99)))
        lang = "en" if rnd.random() < 0.4 else rnd.choice(LANGS[1:])
        docs.append((i, text, lang, f"src{i % 20}", len(text)))
    centres = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]
    vecs = []
    for i in range(n_vecs):
        lab = rnd.randrange(labels)
        v = [c + rnd.gauss(0, 0.6) for c in centres[lab]]
        nrm = sum(x * x for x in v) ** 0.5
        vecs.append((i, [x / nrm for x in v], lab))
    data_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", vecs)
    for t in ("documents", "embeddings"):
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY 1) TO '{data_dir / t}.parquet' (FORMAT PARQUET)")
    con.close()


# ---------------------------------------------------------------- oracle

def oracle_check(data_dir, out_dir):
    """Compares each pipeline entry's rows with DuckDB running its oracle
    SQL: row count, column names, and sorted stringified values (the rules
    of scripts/check.py). Returns (names passed, names failed)."""
    import duckdb
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")

    def norm(df):
        cols = sorted(df.columns)
        return df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)

    passed, failed = [], []
    for name, sql in sorted(oracle.items()):
        try:
            got = norm(con.sql(f"SELECT * FROM '{out_dir / name}/*.parquet'").df())
            want = norm(con.sql(sql).df())
            why = None
            if list(got.columns) != list(want.columns):
                why = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                why = f"rows {len(got)} != {len(want)}"
            elif got.astype(str).values.tolist() != want.astype(str).values.tolist():
                why = "values differ"
        except Exception as e:  # an unreadable result or a failing oracle
            why = f"{type(e).__name__}: {e}"
        if why:
            failed.append(name)
            print(f"[perfbench] pipeline {name}: oracle mismatch: {why}", file=sys.stderr)
        else:
            passed.append(name)
    con.close()
    return passed, failed


# ---------------------------------------------------------------- run

def spark_cores():
    """Spark's local[N]: half the cores, at most two, so the planning and
    scheduling threads, the JIT and the GC keep cores of their own. On a shared 4-core machine the
    single-query latency at local[2] spread less between runs than at
    local[4] (161-195 ms against 178-232 ms over four seeds each)."""
    return max(1, min(4, os.cpu_count() or 1) // 2)


def cpu_times():
    """(busy, steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def run_jvm(cp, args, run_dir, limit_s):
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
           "perfbench.Main", *args]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"workload did not finish within {limit_s:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        raise SystemExit(f"workload JVM exited with {p.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        raise SystemExit("workload printed no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def shape(workload, result, trace, spec):
    """Exactly the metrics `spec` (BENCHMARK.json) names for this kind of
    run. Every end-to-end metric, and every per-layer metric of a layer the
    workload runs (LAYERS), must have been measured, in the unit the spec
    names; a per-layer metric of a layer the workload does not run reads 0."""
    got = result["metrics"]
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        measured = got.get(name, {}).get("value") is not None
        if measured and got[name]["unit"] != m["unit"]:
            raise SystemExit(f"metric {name} measured in {got[name]['unit']}, not {m['unit']}")
        if measured:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif trace and not name.startswith(LAYERS[workload]):
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            raise SystemExit(f"{workload}: metric {name} was not measured")
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def stop(signum, _frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    # a TERM or INT unwinds through the finally blocks below: the JVM's
    # process group is killed and the run directory removed
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    a = parse()
    t_start = time.monotonic()
    os.chdir(ROOT)
    cp = ":".join(build.build())
    runs = ROOT / ".bench_build" / "runs"
    run_dir = runs / f"{a.workload}-{os.getpid()}-{int(time.time() * 1000)}"
    try:
        for d in ("tmp", "spark-local"):
            (run_dir / d).mkdir(parents=True)
        t0 = time.monotonic()
        if a.workload == "pipeline":
            n = 100 if a.size == "tiny" else 500
            pipeline_tables(a.seed, run_dir / "data", n_docs=n, n_vecs=n)
        t_inputs = time.monotonic() - t0
        c0 = cpu_times()
        trace = a.trace == "1"
        # the build is not the run: the limit counts from here
        result = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", a.trace,
                              "--size", a.size, "--run-dir", str(run_dir),
                              "--cores", str(spark_cores())],
                         run_dir, RUN_LIMIT_S)
        t_jvm = time.monotonic() - t0 - t_inputs
        c1 = cpu_times()
        total = max(1, c1[2] - c0[2])
        load = (f"machine busy {100 * (c1[0] - c0[0]) / total:.0f}%, "
                f"steal {100 * (c1[1] - c0[1]) / total:.1f}%")
        if a.workload == "pipeline":
            passed, failed = oracle_check(run_dir / "data", run_dir / "pipeline")
            result["failed"] += len(failed)
            result["metrics"]["quality"] = {"value": len(passed) / max(1, result["attempted"]),
                                            "unit": "ratio"}
        shaped = shape(a.workload, result, trace,
                       json.loads((ROOT / "BENCHMARK.json").read_text()))
        print(f"[perfbench] wall: build {t0 - t_start:.1f} s, inputs {t_inputs:.1f} s, "
              f"jvm {t_jvm:.1f} s ({load}), checks {time.monotonic() - t0 - t_inputs - t_jvm:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"[perfbench] {a.workload} seed {a.seed}: all metrics "
          f"{json.dumps(result['metrics'])}; wall {time.monotonic() - t_start:.1f} s",
          file=sys.stderr)
    print(json.dumps(shaped))


if __name__ == "__main__":
    main()
