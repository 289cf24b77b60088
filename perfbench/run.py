#!/usr/bin/env python3
"""graft benchmark: one command runs one workload and prints its metrics.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine together with the
benchmark program (sbt, in perfbench/), synthesizes the 10x corpus and
computes every expected result with the DuckDB oracle; later runs reuse
all of that from the state directory ($CARGO_TARGET_DIR, default
.bench_build, under perfbench/).

A run starts one JVM (perfbench/src/.../PerfBench.scala), which sets up
a local[nproc] session, runs an untimed warm pass and then timed passes
with one closed-loop client. Afterwards every query's result is checked
against the oracle. The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The line before it is the run-context record. Everything the
run measured is also saved under <state>/runs/.

Test-only options: --smoke (every workload on the smoke corpus),
--fail-query Q (Q throws), --corrupt-expected Q (Q's expected result is
altered, so the check must report it).
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_gmean_s": "s", "cpu_s": "s",
    "live_heap_mb": "MB",
}
MODULES = ["Scans", "Joins", "Aggregates", "SortSet", "Graph", "Windows",
           "Scalars", "Udfs", "Events", "StreamDemo", "Dedup", "Similarity",
           "TextStats", "TextHash", "LangId", "Ann", "Multimodal", "Curation"]
# Per-layer metric -> (unit, per-query row field summed over a pass).
# Fields that are not row sums are filled in by layer_metrics(). These are
# the declared (printed) ones: each reads non-zero on both workloads, or
# is a count or byte total that must repeat exactly.
PER_LAYER = {
    "build.s": ("s", "build_s"),
    "plan.analysis_s": ("s", "analysis_s"),
    "plan.optimization_s": ("s", "optimization_s"),
    "plan.planning_s": ("s", "planning_s"),
    "codegen.compiles": ("count", "compiles"),
    "jvm.jit_s": ("s", None),
    "setup.codegen_compiles": ("count", None),
    "setup.codegen_s": ("s", None),
    "setup.jit_s": ("s", None),
    "fit.s": ("s", None),
    "sched.jobs": ("count", "jobs"),
    "sched.stages": ("count", "stages"),
    "sched.tasks": ("count", "tasks"),
    "sched.task_overhead_s": ("s", "task_overhead_s"),
    "sched.idle_s": ("s", "idle_s"),
    "sched.parallelism": ("ratio", None),
    "exec.run_s": ("s", "run_s"),
    "exec.cpu_s": ("s", "cpu_s"),
    "shuffle.write_bytes": ("bytes", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("bytes", "shuffle_read_bytes"),
    "shuffle.records": ("count", "shuffle_records"),
    "shuffle.write_s": ("s", "shuffle_write_s"),
    "scan.bytes": ("bytes", "scan_bytes"),
    "scan.records": ("count", "scan_records"),
    "mem.spill_bytes": ("bytes", "spill_bytes"),
    "mem.peak_exec_bytes": ("bytes", None),
    "jvm.gc_s": ("s", None),
    "write.bytes": ("bytes", "write_bytes"),
    "stream.batches": ("count", "stream_batches"),
    "trace.pass_s": ("s", None),
}
# Computed and saved in record.json, not printed: times that are zero by
# construction on at least one workload (a module with no query in it; no
# micro-batch runs in a timed pass, where every streaming query restarts
# from its warm checkpoint; codegen served from its cache; no remote
# fetch in local mode).
RECORD_ONLY = {
    **{f"mod.{m}.s": ("s", None) for m in MODULES},
    "codegen.compile_s": ("s", "compile_s"),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_s"),
    "stream.trigger_s": ("s", "trigger_s"),
    "stream.add_batch_s": ("s", "add_batch_s"),
    "stream.commit_s": ("s", "commit_s"),
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_OPTS = ["-Xmx3g"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_cmd(cmd, cwd, timeout, env=None, out=None):
    """Runs a command in its own process group; kills the group on
    timeout and waits for it, so no process outlives the run."""
    with open(out or os.devnull, "ab") as sink:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=sink, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop(p)
            fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        except BaseException:
            stop(p)
            raise
    if p.returncode != 0:
        fail(f"exit {p.returncode}: {' '.join(cmd[:3])} ... (log: {out})")
    return stdout.decode("utf-8", "replace")


def stop(p):
    """SIGTERM first, so JVM shutdown hooks remove their scratch dirs;
    SIGKILL if the group is still there after 10 s."""
    os.killpg(p.pid, signal.SIGTERM)
    try:
        p.communicate(timeout=10)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()


def java(cp, main, args, cwd, timeout, env=None, log_file=None):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *args]
    return run_cmd(cmd, cwd, timeout, env=env, out=log_file)


def stamp(*patterns):
    """Hash of the files matching the patterns (relative to the root)."""
    h = hashlib.sha256()
    files = sorted(f for p in patterns for f in glob.glob(os.path.join(ROOT, p), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# Inputs of the engine build, corpus synthesis and expected results.
ENGINE_FILES = ("src/main/**/*", "perfbench/data/**/*", "perfbench/build.sbt",
                "perfbench/project/build.properties")


# ---- expected results -------------------------------------------------------

def canon(v):
    """Canonical text of one value, as tools/check.py compares them."""
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    if isinstance(v, datetime.datetime) or type(v).__name__ == "Timestamp":
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in v.items()) + "}"
    return f"{'' if isinstance(v, (int, str, bool)) else type(v).__name__}:{v}"


def digest(table):
    """(rows, sha256) of an arrow table: columns sorted by name, rows in
    order, every value canonical."""
    table = table.select(sorted(table.column_names))
    h = hashlib.sha256("|".join(table.column_names).encode())
    cols = [c.to_pylist() for c in table.columns]
    for i in range(table.num_rows):
        h.update(("\x1e" + "\x1f".join(canon(c[i]) for c in cols)).encode())
    return {"rows": table.num_rows, "sha256": h.hexdigest()}


def oracle_digests(corpus_dir, oracle_sql, queries):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
    return {q: digest(con.execute(oracle_sql[q]).arrow()) for q in sorted(queries)}


def spark_digest(out_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    t = pa.concat_tables([pq.read_table(f) for f in files], promote_options="permissive")
    return digest(t)


# ---- build and prepare ------------------------------------------------------

def prepare(state, spec):
    """Builds the classpath, corpora and expected results once per
    engine stamp (the classpath also per benchmark-source stamp); returns
    (classpath, corpus dirs, expected digests)."""
    engine = stamp(*ENGINE_FILES)
    base = os.path.join(state, engine)
    ready = os.path.join(base, "READY")
    cp_file = os.path.join(base, f"classpath-{stamp(*ENGINE_FILES, 'perfbench/src/**/*')}.txt")
    for old in glob.glob(os.path.join(state, "*", "READY")):
        if os.path.dirname(old) != base:
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    if not os.path.isfile(cp_file):
        t0 = time.time()
        env = dict(os.environ, COURSIER_MODE="offline")
        out = run_cmd(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], BENCH, 600, env=env,
                      out=os.path.join(base, "build.log"))
        cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
        for old in glob.glob(os.path.join(base, "classpath-*.txt")):
            os.remove(old)
        with open(cp_file, "w") as f:
            f.write(cp)
        log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file) as f:
        cp = f.read()
    if not os.path.isfile(ready):
        t0 = time.time()
        oracle_file = os.path.join(base, "oracle_sql.json")
        java(cp, "graftbench.OracleSql", [oracle_file], base, 120,
             log_file=os.path.join(base, "oracle.log"))
        dirs = corpus_dirs(base, spec)
        for name, c in spec["corpora"].items():
            if "synth_from" in c:
                # SynthTables writes <cwd>/target/crossover/x<factor>.
                cwd = os.path.join(base, "corpus")
                os.makedirs(cwd, exist_ok=True)
                env = dict(os.environ, SPARK_GRAFT_SF_DIR=dirs[c["synth_from"]])
                java(cp, "graft.tools.SynthTables", [str(c["factor"]), *TABLES], cwd, 300,
                     env=env, log_file=os.path.join(base, "synth.log"))
        with open(ready, "w") as f:
            f.write(engine)
        log(f"prepared in {time.time() - t0:.0f}s")
    dirs = corpus_dirs(base, spec)
    # Expected results of every workload query on its corpus and on the
    # smoke corpus; computed once, extended when the query lists change.
    exp_file = os.path.join(base, "expected.json")
    expected = {}
    if os.path.isfile(exp_file):
        with open(exp_file) as f:
            expected = json.load(f)
    todo = {}
    for w in spec["workloads"].values():
        for corpus in (w["corpus"], spec["smoke_corpus"]):
            todo.setdefault(corpus, set()).update(
                q for q in w["queries"] if q not in expected.get(corpus, {}))
    if any(todo.values()):
        with open(os.path.join(base, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        for corpus, qs in todo.items():
            expected.setdefault(corpus, {}).update(oracle_digests(dirs[corpus], oracle_sql, qs))
        with open(exp_file, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
    return cp, dirs, expected


def corpus_dirs(base, spec):
    dirs = {}
    for name, c in spec["corpora"].items():
        if "dir" in c:
            dirs[name] = os.path.join(BENCH, c["dir"])
        else:
            dirs[name] = os.path.join(base, "corpus", "target", "crossover", f"x{c['factor']}")
    return dirs


# ---- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(result, traced):
    """Per-layer metrics: per-pass sums over the per-query rows, then the
    median over the (traced) timed passes."""
    rows_by_pass = {}
    for r in result["rows"]:
        rows_by_pass.setdefault(r["pass"], []).append(r)
    per_pass = []
    for p in traced:
        rows = rows_by_pass.get(p["pass"], [])
        m = {k: sum(r[f] for r in rows)
             for k, (_, f) in {**PER_LAYER, **RECORD_ONLY}.items() if f}
        exec_wall = sum(r["exec_s"] for r in rows)
        m["sched.parallelism"] = m["exec.run_s"] / exec_wall if exec_wall > 0 else 0.0
        m["mem.peak_exec_bytes"] = max((r["peak_exec_bytes"] for r in rows), default=0)
        for mod in MODULES:
            m[f"mod.{mod}.s"] = sum(r["run_s"] for r in rows if r["module"] == mod)
        m["jvm.jit_s"] = p["jit_s"]
        m["jvm.gc_s"] = p["gc_s"]
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["fit.s"] = result["fit_s"]
    out.update({f"setup.{k}": v for k, v in result["setup_layers"].items()})
    out["trace.pass_s"] = median([p["wall_s"] for p in traced])
    exact = {k: len({m[k] for m in per_pass}) == 1 for k in SPEC["exact_counts"]}
    return out, per_pass, exact


def self_times(spans_file, n_traced):
    """Self time per span kind, per traced pass: each span's duration
    minus the part of it its children cover."""
    with open(spans_file) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                covered += (cur[1] - cur[0]) if cur else 0.0
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        covered += (cur[1] - cur[0]) if cur else 0.0
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered) / 1e3
        out[s["kind"]] = out.get(s["kind"], 0.0) + own / max(1, n_traced)
    return out


def layer_table(result, path):
    """Per-query layer table over the traced passes (median per query)."""
    cols = ["jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "scan_bytes", "spill_bytes", "analysis_s",
            "optimization_s", "planning_s", "compiles", "build_s", "exec_s"]
    by_q = {}
    for r in result["rows"]:
        by_q.setdefault(r["query"], []).append(r)
    with open(path, "w") as f:
        f.write("\t".join(["query", "module", *cols]) + "\n")
        for q in sorted(by_q):
            rs = by_q[q]
            f.write("\t".join([q, rs[0]["module"]] +
                              [f"{median([r[c] for r in rs]):.6g}" for c in cols]) + "\n")


with open(os.path.join(BENCH, "workloads.json")) as _f:
    SPEC = json.load(_f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fail-query")
    ap.add_argument("--corrupt-expected")
    a = ap.parse_args()
    if a.workload not in SPEC["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(SPEC['workloads'])}")
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src; run from a checkout of the repository")
    w = SPEC["workloads"][a.workload]
    state = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp, dirs, expected = prepare(state, SPEC)
    corpus = SPEC["smoke_corpus"] if a.smoke else w["corpus"]

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = os.path.join(state, "runs", a.workload,
                           f"{stamp}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}")
    os.makedirs(run_dir, exist_ok=True)
    load_start = os.getloadavg()[0]
    args = ["--mode", w["mode"], "--sf", dirs[corpus], "--queries", ",".join(w["queries"]),
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", run_dir, "--min-passes", str(w["min_passes"])]
    if a.fail_query:
        args += ["--fail-query", a.fail_query]
    java(cp, "graftbench.PerfBench", args, run_dir, 170,
         log_file=os.path.join(run_dir, "jvm.log"))
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)

    # Oracle check, outside the timed passes.
    exp = dict(expected[corpus])
    if a.corrupt_expected:
        exp[a.corrupt_expected] = dict(exp[a.corrupt_expected], sha256="corrupted")
    wrong = {}
    for q in w["queries"]:
        got = spark_digest(os.path.join(run_dir, "check", q))
        if got != exp[q]:
            wrong[q] = f"got {got}, expected {exp[q]}"
    for q, why in wrong.items():
        log(f"WRONG {q}: {why}")
    for sub in ("check", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    # With --trace 1 every timed pass is traced; the end-to-end numbers of a
    # traced run are saved (their gap to untraced runs is the tracing
    # overhead) but never printed.
    passes = result["passes"]
    lat = [v for p in passes for v in p["queries"].values() if v is not None]
    e2e = {
        "setup_s": result["setup_s"],
        "pass_s": median([p["wall_s"] for p in passes]),
        "query_gmean_s": math.exp(sum(math.log(x) for x in lat) / len(lat)) if lat else float("nan"),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "live_heap_mb": result["live_heap_mb"],
    }
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "smoke": a.smoke,
              "corpus": corpus, "end_to_end": e2e, "query_samples": len(lat),
              "passes": len(passes),
              "failed_frac": result["failed"] / max(1, result["attempted"]),
              "wrong_results": len(wrong), "wrong": wrong, "failures": result["failures"]}
    if a.trace:
        layers, per_pass, exact = layer_metrics(result, passes)
        record.update(per_layer=layers, per_layer_passes=per_pass, exact_counts_repeat=exact,
                      self_s=self_times(os.path.join(run_dir, "spans.jsonl"), len(passes)))
        layer_table(result, os.path.join(run_dir, "layer_table.tsv"))
        for k, same in exact.items():
            if not same:
                log(f"count {k} differs between traced passes")
    context = {"run_context": {
        "workload": a.workload, "seed": a.seed, "nproc": result["context"]["nproc"],
        "loadavg_start": load_start, "loadavg_end": result["context"]["loadavg_end"],
        "steal_jiffies_per_pass": [p["steal_jiffies"] for p in passes],
        "calib_s": result["context"]["calib_s"],
        "calib_mem_s": result["context"]["calib_mem_s"],
        "java": result["context"]["java"], "max_heap_mb": result["context"]["max_heap_mb"],
        "spark_conf": result["context"]["spark_conf"], "run_dir": os.path.relpath(run_dir, ROOT)}}
    record.update(context)

    if a.trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    line = {"correct": not wrong and result["failed"] == 0,
            "attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}
    record["result"] = line
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(context, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
