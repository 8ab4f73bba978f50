#!/usr/bin/env python3
"""The repository's benchmark: three workloads driven through the engine's
public functions, with end-to-end metrics from a plain run and per-layer
metrics from a traced run.

Usage (from the repository root):
    python3 perfbench/run.py --workload catalog|pin_batch|stream_dedup \
        --seed N --seconds S --trace 0|1

The first run builds the harness (perfbench/harness, an sbt project that
compiles the engine's src/main/scala with it) into .bench_build/; later
runs reuse the build while the sources are unchanged. The JVM side
(perfbench.Harness) records raw observations; this script checks every
timed op's output, derives the metrics and prints one JSON object as the
last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.001")
# Digests of the pipeline's tables on the anchor topics (seed 7, 2,000
# records per topic), recorded from the engine when the benchmark was
# written. Every run writes the digests it got to
# .bench_build/work/pin_batch/anchor_digests.json; copy that over this file
# only for an intended change of the pipeline's output.
ANCHOR = os.path.join(HERE, "anchor", "pin_batch.json")
DEADLINE_S = 170

# Catalog queries by the module they mainly load. The seed permutes the
# order; the set never changes.
CATALOG = {
    "relational": ["q01_pricing_summary", "q03_top_priority_per_nation",
                   "q103_sole_returned_supplier"],
    "text": ["q32_token_stats", "q148_bpe_learned_merges"],
    "dedup": ["q191_containment_after_neardedup"],
    "ann": ["q210_ann_ivf_kmeans_quantized_topk"],
    "curation": ["q192_curation_export"],
}
FAMILY_METRIC = {"relational": "queries.relational_ms", "text": "functions.text_ms",
                 "dedup": "operators.dedup_ms", "ann": "operators.ann_ms",
                 "curation": "operators.curation_ms"}
# Queries whose build/exec split is reported on its own: the ones that
# spend most of their time before the DataFrame is returned.
SPLIT_QUERIES = ["q148", "q191", "q192"]
PIN_TASKS = ["task4", "task5", "task6_1", "task6_2", "task7", "task8", "task9",
             "task10", "task11"]

# Timed work per run is fixed, sized from --seconds by what one unit
# costs on a 4-core host: half a catalog pass (a pass is ~10 s), half a
# pipeline pass (~5 s), or a micro-batch in each of the two sequences
# (~1.6 s). Catalog queries and pipeline tables are timed in at least two
# passes, micro-batches in two. Fixed work keeps runs of fast and slow
# code comparable op for op.
UNIT_SECONDS = {"catalog": 5.0, "pin_batch": 5.0, "stream_dedup": 1.6}
MIN_UNITS = {"catalog": 2, "pin_batch": 2, "stream_dedup": 6}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_ms_p50", "ms"),
              ("op_ms_p90", "ms"), ("throughput_rows_s", "rows/s"),
              ("space_amp", "ratio")]
PER_LAYER = (
    [("host.sentinel_start_ms", "ms"), ("host.sentinel_end_ms", "ms"),
     ("trace.overhead_pct", "%"),
     ("Tables.load_ms", "ms"), ("Tables.load_jobs", "count"),
     ("queries.build_ms", "ms"), ("queries.exec_ms", "ms"),
     ("queries.eager_jobs", "count"), ("queries.jobs", "count"),
     ("queries.stages", "count"), ("queries.tasks", "count"),
     ("queries.no_task_ms", "ms"), ("queries.utilization", "ratio"),
     ("queries.task_cpu_ms", "ms"), ("queries.gc_ms", "ms"),
     ("queries.spill_bytes", "bytes"), ("queries.shuffle_bytes", "bytes"),
     ("queries.input_bytes", "bytes"), ("queries.leaked_cache", "count")]
    + [(m, "ms") for m in FAMILY_METRIC.values()]
    + [(f"queries.{q}.{k}", u) for q in SPLIT_QUERIES
       for k, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("eager_jobs", "count"))]
    + [("sources.json_bytes_read", "bytes"), ("sources.scan_amp", "ratio"),
       ("pipeline.clean_ms", "ms"), ("pipeline.tasks_ms", "ms")]
    + [(f"pipeline.{t}_ms", "ms") for t in PIN_TASKS]
    + [("pipeline.jobs", "count"), ("pipeline.no_task_ms", "ms"),
       ("pipeline.task_cpu_ms", "ms"), ("pipeline.out_bytes", "bytes"),
       ("streaming.fold_ms", "ms"), ("streaming.write_ms", "ms"),
       ("streaming.append_ms", "ms"), ("streaming.unattributed_ms", "ms"),
       ("streaming.jobs_per_batch", "count"), ("streaming.compact_ms", "ms"),
       ("streaming.compactions", "count"), ("streaming.index_dirs_max", "count"),
       ("streaming.write_amp", "ratio"), ("streaming.bloom_fpp", "ratio")])
UNITS = dict(END_TO_END + PER_LAYER)


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs

def catalog_order(seed):
    """The catalog query set in the seed's order."""
    names = [q for qs in CATALOG.values() for q in qs]
    random.Random(seed).shuffle(names)
    return names


def family_of(name):
    return next(f for f, qs in CATALOG.items() if name in qs)


def units_for(workload, seconds):
    return max(MIN_UNITS[workload], round(seconds / UNIT_SECONDS[workload]))


def harness_args(workload, seed, seconds, trace, work, cpus):
    args = ["--workload", workload, "--seed", str(seed),
            "--units", str(units_for(workload, seconds)),
            "--trace", str(trace), "--work", work, "--data", DATA,
            "--cpus", str(cpus)]
    if workload == "catalog":
        args += ["--queries", ",".join(catalog_order(seed))]
    return args


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, HARNESS):
        for d, dirs, fs in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(fs):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HARNESS, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the harness with the engine unless an up-to-date build
    exists; return (runtime classpath, whether it compiled)."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the harness with sbt")
    p = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    HARNESS, env, os.path.join(BUILD, "build.log"), deadline)
    if p != 0:
        raise BenchError(f"harness build failed (see {BUILD}/build.log)")
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = [x.strip() for x in f if x.strip() and not x.startswith("[")]
    if not lines or "classes" not in lines[-1]:
        raise BenchError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], True


def run_process(cmd, cwd, env, log_path, deadline):
    """Run `cmd` in its own process group and return its exit code. The
    group is killed when the call returns or the deadline passes, so no
    child it started outlives it."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_harness(classpath, args, work, deadline):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+ExplicitGCInvokesConcurrent", "-Duser.timezone=UTC",
            "-cp", classpath, "perfbench.Harness"] + args
    rc = run_process(cmd, work, dict(os.environ), os.path.join(work, "harness.log"),
                     deadline)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        raise BenchError(f"harness exited {rc} (see {work}/harness.log)")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def gate():
    """The repository's DuckDB-oracle gate, scripts/check_correctness.py:
    the benchmark digests outputs with its frame_prep and frame_hash."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_correctness
    return check_correctness


def digest(con, sql):
    """Columns, row count and value hash of a query's result, as the gate
    prepares and hashes it. Raises where the gate reports an error."""
    g = gate()
    df = g.frame_prep(con.sql(sql).df())
    return {"columns": list(df.columns), "rows": len(df), "hash": g.frame_hash(df)}


def parquet_digest(con, path, lists_as_text=False):
    """Digest of a landed table. The gate refuses array cells; with
    `lists_as_text` DuckDB renders them as text first."""
    src = f"'{path}/*.parquet'"
    cols = ["*"]
    if lists_as_text:
        cols = [f'CAST("{c}" AS VARCHAR) AS "{c}"' if t.endswith("[]") else f'"{c}"'
                for c, t, *_ in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    return digest(con, f"SELECT {', '.join(cols)} FROM {src}")


def oracle_digest(con, sql, tables):
    """Digest of the DuckDB oracle's result over the committed tables,
    cached under the build dir by oracle text and the tables' digest
    (some oracles take tens of seconds, and neither input changes between
    runs)."""
    key = hashlib.sha256((tables + sql).encode()).hexdigest()
    path = os.path.join(BUILD, "oracle", key + ".json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(digest(con, sql), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def fail(op, error):
    op["ok"] = False
    op["error"] = error


def check_catalog(raw, work):
    """Each query sample's output digest must equal its DuckDB oracle's."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    tables = hashlib.sha256()
    for f in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, f), "rb") as fh:
            tables.update(f.encode() + fh.read())
    for seg in segments(raw):
        for op in seg["ops"]:
            if not op["ok"]:
                continue
            name = op["name"]
            if name not in oracles:
                raise BenchError(f"catalog query {name} has no DuckDB oracle")
            try:
                got = parquet_digest(con, op["out"])
                want = oracle_digest(con, oracles[name], tables.hexdigest())
            except Exception as e:  # the gate's frame_prep refuses some frames
                fail(op, f"digest failed: {e}")
                continue
            op["rows"] = got["rows"]
            if got != want:
                fail(op, f"output {got} != oracle {want}")


def anchor_failures(actual, recorded):
    """Per pipeline table, why its anchor output is wrong: it threw, or its
    digest differs from the recorded one."""
    bad = {}
    for name, got in actual.items():
        if "error" in got:
            bad[name] = f"anchor pass: {got['error']}"
        elif got != recorded.get(name):
            bad[name] = f"anchor digest {got} != recorded {recorded.get(name)}"
    return bad


def check_pin(raw, work):
    """Two checks per landed table. The anchor pass's output must equal the
    digest recorded in perfbench/anchor, which ties the check to outputs
    from outside the code under test; a table that fails it fails in every
    timed pass. Every timed pass's output must equal PipelineMain's on the
    same topics, row for row as a multiset (DuckDB EXCEPT ALL both ways)."""
    import duckdb
    con = duckdb.connect()
    actual = {}
    for op in raw["anchor"]:
        try:
            actual[op["name"]] = (parquet_digest(con, op["out"], True) if op["ok"]
                                  else {"error": op["error"]})
        except Exception as e:
            actual[op["name"]] = {"error": f"digest failed: {e}"}
    # written every run, so an intended output change can be re-recorded
    with open(os.path.join(work, "anchor_digests.json"), "w") as f:
        json.dump(actual, f, indent=1, sort_keys=True)
    with open(ANCHOR) as f:
        bad = anchor_failures(actual, json.load(f))
    for seg in segments(raw):
        for p in seg["passes"]:
            for op in p["ops"]:
                if not op["ok"]:
                    continue
                if op["name"] in bad:
                    fail(op, bad[op["name"]])
                    continue
                sub = "clean" if op["kind"] == "clean" else "tasks"
                a = f"read_parquet('{op['out']}/*.parquet')"
                b = f"read_parquet('{os.path.join(raw['reference'], sub, op['name'])}/*.parquet')"
                diff = con.sql(f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL "
                               f"SELECT * FROM {b}) UNION ALL (SELECT * FROM {b} "
                               f"EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
                if diff:
                    fail(op, f"{diff} rows differ from PipelineMain's output")


def check_stream(raw, work):
    """Per batch the survivor count is exact (checked in the harness); over
    each batch sequence the committed doc_ids are unique and the total is
    exact."""
    for seg in segments(raw):
        for p in seg["passes"]:
            total = sum(op["expected"] for op in p["ops"])
            if p["rows"] != total or p["distinct_doc_ids"] != p["rows"]:
                for op in p["ops"]:
                    fail(op, f"committed {p['rows']} rows, "
                             f"{p['distinct_doc_ids']} distinct ids, expected {total}")


def segments(raw):
    return [raw[k] for k in ("untraced", "traced", "after") if k in raw]


def ops_of(workload, seg):
    if workload == "catalog":
        return seg["ops"]
    return [op for p in seg["passes"] for op in p["ops"]]


# --------------------------------------------------------------- metrics

def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * p
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


class Metrics:
    """Metric map that refuses a name twice and any undeclared name."""

    def __init__(self):
        self.values = {}

    def put(self, name, value):
        if name in self.values:
            raise BenchError(f"metric {name} set twice")
        if name not in UNITS:
            raise BenchError(f"metric {name} is not declared")
        self.values[name] = {"value": float(value), "unit": UNITS[name]}

    def as_dict(self):
        return dict(self.values)


def best_of(ops, key="ms"):
    """Per op name, its fastest successful sample of `key`. Catalog
    queries, pipeline tables and micro-batches are repeated once per timed
    pass; the passes follow a single warm-up, and a later pass still sheds
    JIT warm-up, which only ever adds time."""
    best = {}
    for op in ops:
        if op["ok"]:
            best[op["name"]] = min(best.get(op["name"], math.inf), op[key])
    return best


def latencies(workload, seg):
    """Per-op latencies of the ops that succeeded: one per query, landed
    table or micro-batch, its best pass."""
    return list(best_of(ops_of(workload, seg)).values())


def wall_ms(workload, seg):
    """The timed region: one catalog pass, pipeline pass or micro-batch
    sequence, built from each op's best sample."""
    return sum(latencies(workload, seg))


def end_to_end(workload, raw, m):
    seg = raw["untraced"]
    lat = latencies(workload, seg)
    wall = wall_ms(workload, seg)
    m.put("setup_s", (raw["session_ms"] + raw["warmup_ms"]) / 1000)
    m.put("wall_s", wall / 1000)
    m.put("op_ms_p50", percentile(lat, 0.5))
    m.put("op_ms_p90", percentile(lat, 0.9))
    if workload == "catalog":
        rows = {op["name"]: op["rows"] for op in seg["ops"] if op["ok"]}
        m.put("throughput_rows_s", sum(rows.values()) / max(1e-9, wall / 1000))
        # the catalog lands nothing: its footprint at rest is its input
        m.put("space_amp", 1.0)
    elif workload == "pin_batch":
        landed = dir_bytes(seg["landed"])
        m.put("throughput_rows_s", 3 * seg["records"] / max(1e-9, wall / 1000))
        m.put("space_amp", statistics.median(dir_bytes(p["dir"]) for p in seg["passes"])
              / landed)
    else:
        m.put("throughput_rows_s", seg["docs"] / max(1e-9, wall / 1000))
        m.put("space_amp", statistics.median((p["out_bytes"] + p["index_bytes"])
                                             / p["input_bytes"] for p in seg["passes"]))


def call_sum(calls, prefixes, key):
    return sum(c[key] for n, c in calls.items() if n.split(":")[0] in prefixes)


def per_layer(workload, raw, cpus, m):
    seg = raw["traced"]
    calls = seg["calls"]
    units = {"catalog": lambda: max(op["pass"] for op in seg["ops"]),
             "pin_batch": lambda: len(seg["passes"]),
             "stream_dedup": lambda: len(ops_of(workload, seg))}[workload]()
    per = lambda x: x / units  # noqa: E731
    m.put("host.sentinel_start_ms", raw["sentinel_start_ms"])
    m.put("host.sentinel_end_ms", raw["sentinel_end_ms"])
    # against the plain segment after it; the one before it still sheds
    # warm-up, which would read as the listener speeding calls up
    plain = wall_ms(workload, raw["after"])
    traced = wall_ms(workload, seg)
    m.put("trace.overhead_pct", 100.0 * (traced - plain) / max(1e-9, plain))
    vals = {}
    if workload == "catalog":
        q = ("build", "exec")
        ok = [op for op in seg["ops"] if op["ok"]]
        vals["Tables.load_ms"] = sum(op["ms"] for op in seg["loads"])
        vals["Tables.load_jobs"] = call_sum(calls, ("load",), "jobs")
        vals["queries.build_ms"] = per(sum(op["build_ms"] for op in ok))
        vals["queries.exec_ms"] = per(sum(op["exec_ms"] for op in ok))
        vals["queries.eager_jobs"] = per(call_sum(calls, ("build",), "jobs"))
        for k in ("jobs", "stages", "tasks", "no_task_ms"):
            vals[f"queries.{k}"] = per(call_sum(calls, q, k))
        wall = call_sum(calls, q, "wall_ms")
        vals["queries.utilization"] = call_sum(calls, q, "run_ms") / max(1, wall * cpus)
        vals["queries.task_cpu_ms"] = per(call_sum(calls, q, "cpu_ms"))
        for k in ("gc_ms", "spill_bytes", "shuffle_bytes", "input_bytes"):
            vals[f"queries.{k}"] = per(call_sum(calls, q, k))
        vals["queries.leaked_cache"] = per(sum(op["leaked"] for op in seg["ops"]))
        for fam, metric in FAMILY_METRIC.items():
            vals[metric] = per(sum(op["ms"] for op in ok if family_of(op["name"]) == fam))
        build, exec_ = best_of(seg["ops"], "build_ms"), best_of(seg["ops"], "exec_ms")
        for short in SPLIT_QUERIES:
            mine = [op for op in ok if op["name"].split("_")[0] == short]
            if not mine:
                continue
            name = mine[0]["name"]
            vals[f"queries.{short}.build_ms"] = build[name]
            vals[f"queries.{short}.exec_ms"] = exec_[name]
            vals[f"queries.{short}.eager_jobs"] = calls.get(f"build:{name}", {}).get(
                "jobs", 0) / len(mine)
    elif workload == "pin_batch":
        q = ("clean", "task")
        ops = [op for p in seg["passes"] for op in p["ops"] if op["ok"]]
        read = per(call_sum(calls, q, "input_bytes"))
        vals["sources.json_bytes_read"] = read
        vals["sources.scan_amp"] = read / dir_bytes(seg["landed"])
        vals["pipeline.clean_ms"] = per(sum(op["ms"] for op in ops if op["kind"] == "clean"))
        vals["pipeline.tasks_ms"] = per(sum(op["ms"] for op in ops if op["kind"] == "task"))
        for t in PIN_TASKS:
            vals[f"pipeline.{t}_ms"] = per(sum(op["ms"] for op in ops if op["name"] == t))
        vals["pipeline.jobs"] = per(call_sum(calls, q, "jobs"))
        vals["pipeline.no_task_ms"] = per(call_sum(calls, q, "no_task_ms"))
        vals["pipeline.task_cpu_ms"] = per(call_sum(calls, q, "cpu_ms"))
        vals["pipeline.out_bytes"] = statistics.median(dir_bytes(p["dir"])
                                                       for p in seg["passes"])
    else:
        ops = ops_of(workload, seg)
        phase = lambda op, k: op["phases"].get(k, 0.0)  # noqa: E731
        for k in ("fold", "write", "append"):
            vals[f"streaming.{k}_ms"] = statistics.median(phase(op, k) for op in ops)
        vals["streaming.unattributed_ms"] = statistics.median(
            op["ms"] - sum(op["phases"].values()) for op in ops if op["ok"])
        vals["streaming.jobs_per_batch"] = per(call_sum(calls, ("batch",), "jobs"))
        # a batch compacted when the committed index dirs did not grow
        compacted = [op for p in seg["passes"]
                     for prev, op in zip([0] + [o["index_dirs"] for o in p["ops"]], p["ops"])
                     if op["index_dirs"] <= prev]
        vals["streaming.compactions"] = len(compacted) / len(seg["passes"])
        vals["streaming.compact_ms"] = (statistics.mean(phase(op, "compact") for op in compacted)
                                        if compacted else 0.0)
        vals["streaming.index_dirs_max"] = max(op["index_dirs"] for op in ops)
        vals["streaming.write_amp"] = statistics.median(
            p["index_written_bytes"] / max(1, p["index_live_bytes"]) for p in seg["passes"])
        vals["streaming.bloom_fpp"] = ops[-1]["fpp"]
    for name, _ in PER_LAYER[3:]:
        m.put(name, vals.get(name, 0.0))


def summarize(workload, raw, trace, cpus):
    m = Metrics()
    if trace:
        per_layer(workload, raw, cpus, m)
    else:
        end_to_end(workload, raw, m)
    ops = [op for seg in segments(raw) for op in ops_of(workload, seg)]
    failed = sum(1 for op in ops if not op["ok"])
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": m.as_dict()}


CHECKS = {"catalog": check_catalog, "pin_batch": check_pin, "stream_dedup": check_stream}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.monotonic()
    try:
        classpath, built = build(start + 840)
        deadline = start + (880 if built else DEADLINE_S)
        work = os.path.join(BUILD, "work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        cpus = len(os.sched_getaffinity(0))
        raw = run_harness(classpath, harness_args(a.workload, a.seed, a.seconds,
                                                  a.trace, work, cpus), work, deadline)
        log(f"harness phases (ms since start): {raw['timeline_ms']}; "
            f"process {time.monotonic() - start:.1f} s")
        CHECKS[a.workload](raw, work)
        result = summarize(a.workload, raw, a.trace == 1, cpus)
        for seg in segments(raw):
            for op in ops_of(a.workload, seg):
                if not op["ok"]:
                    log(f"failed op {op['name']}: {op.get('error')}")
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps({"host_sentinel_ms": [raw["sentinel_start_ms"],
                                           raw["sentinel_end_ms"]]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
