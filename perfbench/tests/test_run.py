"""Self-tests of the benchmark runner (perfbench/run.py). They need no JVM:
each test feeds the runner a hand-made harness result.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def stats(**kw):
    base = {k: 1 for k in ("wall_ms", "no_task_ms", "jobs", "stages", "tasks", "run_ms",
                           "cpu_ms", "gc_ms", "spill_bytes", "shuffle_bytes",
                           "input_bytes", "output_bytes")}
    base.update(kw)
    return base


def fake_raw(workload, tmp, failing=None):
    """A harness result with two ops per pass; `failing` names an op that
    threw (ms -1, ok false), as perfbench.Harness reports it."""
    os.makedirs(os.path.join(tmp, "landed"), exist_ok=True)
    with open(os.path.join(tmp, "landed", "x.json"), "w") as f:
        f.write("x" * 1000)

    def op(name, ms, **kw):
        ok = name != failing
        return dict(name=name, ms=ms if ok else -1.0, ok=ok, error=None if ok else "boom", **kw)

    if workload == "catalog":
        names = run.catalog_order(0)

        def seg():
            return {"ops": [op(n, 100.0 * (i + 1), kind="query", build_ms=60.0 * (i + 1),
                               exec_ms=40.0 * (i + 1), leaked=0, rows=10, **{"pass": 1})
                            for i, n in enumerate(names)],
                    "loads": [dict(name="orders", ms=5.0, ok=True)],
                    "calls": {f"{k}:{n}": stats() for n in names for k in ("build", "exec")}}
        segs = [seg(), seg(), seg()]
    elif workload == "pin_batch":
        def seg():
            ops = [op(n, 50.0 + i, kind="clean", out=tmp) for i, n in enumerate(("pin", "geo", "user"))]
            ops += [op(t, 80.0 + i, kind="task", out=tmp) for i, t in enumerate(run.PIN_TASKS)]
            return {"passes": [{"ms": 900.0, "dir": tmp, "ops": ops},
                               {"ms": 800.0, "dir": tmp, "ops": [dict(o) for o in ops]}],
                    "records": 100, "landed": os.path.join(tmp, "landed"),
                    "calls": {"task:task4": stats(), "clean:pin": stats()}}
        segs = [seg(), seg(), seg()]
    else:
        def seq():
            ops = [op(f"batch{b}", 1000.0 + b, phases={"fold": 1.0, "write": 2.0, "append": 3.0,
                                                       "compact": 500.0 if b == 2 else 1.0},
                      index_dirs=1 if b == 2 else b + 1, fpp=0.01, survivors=8, expected=8)
                   for b in range(6)]
            return {"ops": ops, "rows": 48, "distinct_doc_ids": 48, "input_bytes": 1000,
                    "index_written_bytes": 300, "index_live_bytes": 150,
                    "index_bytes": 200, "out_bytes": 500}

        def seg():
            return {"passes": [seq(), seq()], "docs": 60,
                    "calls": {f"batch:{b}": stats() for b in range(6)}}
        segs = [seg(), seg(), seg()]
    return {"session_ms": 1000.0, "warmup_ms": 2000.0, "sentinel_start_ms": 400.0,
            "sentinel_end_ms": 390.0, "untraced": segs[0], "traced": segs[1],
            "after": segs[2]}


class MetricContract(unittest.TestCase):
    def test_printed_names_and_units_match_benchmark_json(self):
        e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for w in ("catalog", "pin_batch", "stream_dedup"):
            with tempfile.TemporaryDirectory() as tmp:
                for trace, want in ((False, e2e), (True, layer)):
                    out = run.summarize(w, fake_raw(w, tmp), trace, 4)
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want, f"{w} trace={trace}")
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})

    def test_workloads_match_benchmark_json(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(run.CHECKS))

    def test_metric_keys_are_unique(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        m = run.Metrics()
        m.put("wall_s", 1.0)
        with self.assertRaises(run.BenchError):
            m.put("wall_s", 2.0)
        with self.assertRaises(run.BenchError):
            m.put("not_declared", 1.0)

    def test_catalog_query_prefixes_are_unique(self):
        names = [q for qs in run.CATALOG.values() for q in qs]
        self.assertEqual(len({n.split("_")[0] for n in names}), len(names))


class FailedOps(unittest.TestCase):
    def test_thrown_op_is_counted_failed_and_not_timed(self):
        cases = {"catalog": "q148_bpe_learned_merges", "pin_batch": "task4",
                 "stream_dedup": "batch3"}
        for w, bad in cases.items():
            with tempfile.TemporaryDirectory() as tmp:
                clean = run.summarize(w, fake_raw(w, tmp), False, 4)
                broken = run.summarize(w, fake_raw(w, tmp, failing=bad), False, 4)
            self.assertTrue(clean["correct"])
            self.assertFalse(broken["correct"], w)
            self.assertGreater(broken["failed"], 0, w)
            self.assertEqual(broken["attempted"], clean["attempted"], w)
            lat = run.latencies(w, fake_raw(w, tempfile.gettempdir(), failing=bad)["untraced"])
            self.assertTrue(all(x > 0 for x in lat), f"{w}: a failed op left a latency")
            self.assertLess(broken["metrics"]["wall_s"]["value"],
                            clean["metrics"]["wall_s"]["value"], w)

    def test_stream_check_fails_every_batch_on_duplicate_ids(self):
        with tempfile.TemporaryDirectory() as tmp:
            raw = fake_raw("stream_dedup", tmp)
            raw["untraced"]["passes"][1]["distinct_doc_ids"] = 47
            run.check_stream(raw, tmp)
            first, second = raw["untraced"]["passes"]
            self.assertTrue(all(op["ok"] for op in first["ops"]))
            self.assertTrue(all(not op["ok"] for op in second["ops"]))


class Anchor(unittest.TestCase):
    def test_table_off_its_recorded_digest_or_thrown_is_named(self):
        rec = {"pin": {"columns": ["a"], "rows": 3, "hash": "x"},
               "task4": {"columns": ["b"], "rows": 1, "hash": "y"},
               "task5": {"columns": ["c"], "rows": 2, "hash": "z"}}
        got = {"pin": dict(rec["pin"]), "task4": dict(rec["task4"], rows=0),
               "task5": {"error": "boom"}, "task12": {"columns": [], "rows": 0, "hash": ""}}
        self.assertEqual(set(run.anchor_failures(got, rec)), {"task4", "task5", "task12"})

    def test_recorded_anchor_covers_every_landed_table(self):
        with open(run.ANCHOR) as f:
            rec = json.load(f)
        self.assertEqual(set(rec), {"pin", "geo", "user", *run.PIN_TASKS})
        for d in rec.values():
            self.assertEqual(set(d), {"columns", "rows", "hash"})
            self.assertGreater(d["rows"], 0)


class Overhead(unittest.TestCase):
    def test_traced_segment_is_compared_with_the_plain_one_after_it(self):
        with tempfile.TemporaryDirectory() as tmp:
            raw = fake_raw("stream_dedup", tmp)
            for op in run.ops_of("stream_dedup", raw["untraced"]):
                op["ms"] *= 3
            for op in run.ops_of("stream_dedup", raw["traced"]):
                op["ms"] *= 1.1
            out = run.summarize("stream_dedup", raw, True, 4)
        self.assertAlmostEqual(out["metrics"]["trace.overhead_pct"]["value"], 10.0)


class Seeds(unittest.TestCase):
    def test_seed_changes_catalog_order_not_the_query_set(self):
        orders = [run.catalog_order(s) for s in range(8)]
        self.assertGreater(len({tuple(o) for o in orders}), 1)
        for o in orders:
            self.assertEqual(sorted(o), sorted(q for qs in run.CATALOG.values() for q in qs))
        self.assertEqual(run.catalog_order(5), run.catalog_order(5))

    def test_seed_reaches_the_generators_and_work_is_fixed(self):
        for w in ("pin_batch", "stream_dedup"):
            a = run.harness_args(w, 1, 10, 0, "/w", 4)
            b = run.harness_args(w, 2, 10, 0, "/w", 4)
            i = a.index("--seed") + 1
            self.assertEqual((a[i], b[i]), ("1", "2"))
            self.assertEqual(a[:i] + a[i + 1:], b[:i] + b[i + 1:])


class Percentile(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(run.percentile([0, 10], 0.9), 9.0)
        self.assertEqual(run.percentile([7], 0.9), 7)


if __name__ == "__main__":
    unittest.main()
