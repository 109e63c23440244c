"""Tests of the benchmark's own logic (no JVM needed).

    python3 perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
LAYER_MAP = json.load(open(os.path.join(HERE, "layer_map.json")))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = gen.envelope(5, "main", 3, 2000, "factory-a", 7)
        b = gen.envelope(5, "main", 3, 2000, "factory-a", 7)
        self.assertEqual(a.body, b.body)
        self.assertEqual(a.expected_echo(), b.expected_echo())

    def test_other_seed_stream_or_index_other_bytes(self):
        a = gen.envelope(5, "main", 3, 2000, "factory-a", 7).body
        for other in (gen.envelope(6, "main", 3, 2000, "factory-a", 7),
                      gen.envelope(5, "live", 3, 2000, "factory-a", 7),
                      gen.envelope(5, "main", 4, 2000, "factory-a", 7)):
            self.assertNotEqual(a, other.body)

    def test_body_matches_recorded_facts(self):
        e = gen.envelope(9, "base", 0, 500, "factory-base", 5, keep_points=True)
        doc = json.loads(e.body)
        ts = [r["timestamp"] for r in doc["content"]]
        self.assertEqual(len(ts), 500)
        self.assertEqual(doc["id"], e.id)
        self.assertEqual(doc["timeGenerated"], e.time_generated)
        self.assertEqual(doc["file"], f"factory-base/2023/10/12/05/{e.id}.parquet")
        self.assertEqual(max(ts), e.max_ts)
        self.assertTrue(all(gen.DAY0_MS + 5 * gen.HOUR_MS <= t < gen.DAY0_MS + 6 * gen.HOUR_MS
                            for t in ts))
        self.assertEqual(sum(r["quality"] for r in doc["content"]), e.quality_sum)
        self.assertEqual({r["pointId"] for r in doc["content"]}, e.point_ids)
        agg = gen.source_aggregates([e])
        for p, (n, avg) in agg["by_project"].items():
            vals = [r["value"] for r in doc["content"] if r["project"] == p]
            self.assertEqual(n, len(vals))
            self.assertEqual(avg, sum(vals) / len(vals))

    def test_hours_cycle_and_ids_distinct(self):
        envs = gen.envelopes(1, "main", 26, 10, "factory-a")
        self.assertEqual([e.hour for e in envs], [i % 24 for i in range(26)])
        self.assertEqual(len({e.id for e in envs}), 26)
        tgs = [e.time_generated for e in envs]
        self.assertEqual(tgs, sorted(set(tgs)))


class PercentileRuleTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_ten_beyond(self):
        self.assertFalse(stats.reportable(19, 50))
        self.assertTrue(stats.reportable(20, 50))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(999, 99))
        self.assertTrue(stats.reportable(1000, 99))

    def test_p90_only_with_ten_beyond(self):
        self.assertIsNone(stats.p90(list(range(20))))
        self.assertIsNone(stats.p90(list(range(99))))
        self.assertEqual(stats.p90(list(range(1, 101))), 90)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_children(self):
        self.assertEqual(layers.covered(0, 100, [(10, 30), (20, 40), (90, 150)]), 40)
        self.assertEqual(layers.self_time(0, 100, [(10, 30), (20, 40), (90, 150)]), 60)
        self.assertEqual(layers.self_time(0, 100, []), 100)


class ChecksTest(unittest.TestCase):
    def test_echo(self):
        e = gen.envelope(1, "live", 0, 10, "factory-live", 0)
        self.assertEqual(checks.echo(e, 200, json.dumps(e.expected_echo())), [])
        self.assertTrue(checks.echo(e, 400, "{}"))
        wrong = dict(e.expected_echo(), maxTimestamp=1)
        self.assertTrue(checks.echo(e, 200, json.dumps(wrong)))

    def test_live_count_bounds(self):
        self.assertEqual(checks.mix_answer("count_all", '[{"n":5}]', None, None, 5, 7), [])
        self.assertTrue(checks.mix_answer("count_all", '[{"n":8}]', None, None, 5, 7))

    def test_unexpected_reply_is_a_failure(self):
        self.assertTrue(checks.mix_answer("count_all", '{"error":"x"}', None, None, 5, 7))
        self.assertTrue(checks.ledger_count("ledger_count", "[]", 5))
        self.assertTrue(checks.registers("GET /", "not json", 1, 2))

    def test_oracle_runs_the_repo_selfcheck(self):
        import duckdb
        region = os.path.join(run.DATA_DIR, "region.parquet")
        with tempfile.TemporaryDirectory() as d:
            sql = {"q_same": "SELECT r_regionkey, r_name FROM region",
                   "q_off": "SELECT r_regionkey FROM region"}
            with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
                json.dump(sql, fh)
            con = duckdb.connect()
            for name, q in (("q_same", "SELECT r_regionkey, r_name"),
                            ("q_off", "SELECT r_regionkey + 1 AS r_regionkey")):
                os.makedirs(os.path.join(d, name))
                con.execute(f"COPY ({q} FROM read_parquet('{region}')) TO "
                            f"'{os.path.join(d, name, 'part-0.parquet')}' (FORMAT PARQUET)")
            con.close()
            failures, returned = checks.oracle(run.SELFCHECK, run.DATA_DIR, d,
                                               ["q_missing", "q_off", "q_same"])
        self.assertEqual(returned, {"q_same": 5})
        self.assertEqual([f.split(":")[0] for f in failures], ["q_missing", "q_off"])


def synthetic_run(workload):
    """A fake traced run: one POST or one query pass, with a record log in
    the shape the JVM writes."""
    recs = [
        {"kind": "mark", "label": "start", "time": 0, "gc_ms": 0, "alloc_bytes": 0},
        {"kind": "handle", "rid": "ingest-1", "start": 10, "end": 900},
        {"kind": "exec_start", "id": 1, "root": 1, "rid": "ingest-1", "time": 100},
        {"kind": "exec_end", "id": 1, "time": 300, "qe": 11},
        {"kind": "exec_start", "id": 2, "root": 2, "rid": "ingest-1", "time": 400},
        {"kind": "exec_end", "id": 2, "time": 800, "qe": 12},
        {"kind": "qe", "ref": 11, "end": 300, "duration_ns": 2e5, "from_json": True,
         "write": False, "phases": {"analysis": 1}, "files_read": 0, "listing_ms": 0,
         "rows_read": 0},
        {"kind": "qe", "ref": 12, "end": 800, "duration_ns": 4e5, "from_json": True,
         "write": True, "phases": {}, "files_read": 0, "listing_ms": 0, "rows_read": 0},
        {"kind": "job", "id": 0, "time": 450, "stages": [0], "exec": "2", "rid": "ingest-1"},
        {"kind": "stage", "id": 0, "submitted": 450},
        {"kind": "task", "stage": 0, "launch": 460, "finish": 790, "shuffle_bytes": 0,
         "spill_bytes": 0},
        {"kind": "query", "name": "q_tpch_q18", "pass": 0, "start": 0, "end": 500},
        {"kind": "mark", "label": "end", "time": 1000, "gc_ms": 3, "alloc_bytes": 2**20},
    ]
    log = run.Log()
    log.items.append({"kind": "ingest", "rid": "ingest-1", "send": 0, "done": 0.001})
    return {"records": recs, "log": log, "ops": 1, "files0": 0, "files1": 1,
            "bytes0": 0, "bytes1": 100, "kql_ms": [1.0], "late_ms": [0.5]}


class MetricNamesTest(unittest.TestCase):
    def test_every_benchmark_metric_is_printed(self):
        e2e = {"setup_s": 1.0, "op_p50_ms": 2.0, "heap_live_mb": 3.0}
        self.assertEqual(set(run.END_TO_END), {m["name"] for m in BENCHMARK["end_to_end"]})
        self.assertEqual(set(run.END_TO_END), set(e2e))
        for m in BENCHMARK["end_to_end"]:
            self.assertEqual(run.END_TO_END[m["name"]], m["unit"])
        for workload in BENCHMARK["workloads"]:
            got = layers.per_layer(synthetic_run(workload["name"]), e2e, e2e,
                                   run.OPERATOR_QUERIES, run.CORES)
            want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_synthetic_post_split(self):
        r = layers.per_request(synthetic_run("ingest_80k")["records"],
                               synthetic_run("ingest_80k")["log"].items)[0]
        self.assertEqual(r["json_parses"], 2)
        self.assertEqual(r["write_tasks"], 1)
        self.assertEqual(r["write_wait_ms"], 0.1)
        self.assertEqual(r["self_ms"], (890 - 600) / 1e3)

    def test_workloads_and_layer_map_agree(self):
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in BENCHMARK["workloads"]})
        names = {m["name"] for m in BENCHMARK["per_layer"]}
        e2e = {m["name"] for m in BENCHMARK["end_to_end"]}
        self.assertEqual(set(LAYER_MAP["moves"]), names)
        for moves in LAYER_MAP["moves"].values():
            for mv in moves:
                self.assertIn(mv["metric"], e2e)
                self.assertIn(mv["workload"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
