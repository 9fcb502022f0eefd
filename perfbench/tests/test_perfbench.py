"""The benchmark's own tests. Run from the root of a checkout:
    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from pb import check, gen, metrics, stats  # noqa: E402

with open(os.path.join(BENCH, "params.json")) as f:
    PARAMS = json.load(f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def _bytes(workload, seed, duration_ms=20_000):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "in.tsv")
        gen.write(gen.generate(workload, seed, PARAMS, duration_ms, 5_000), p)
        with open(p, "rb") as f:
            return f.read()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in ("stream_steady", "stream_drain"):
            self.assertEqual(_bytes(w, 7), _bytes(w, 7))

    def test_different_seed_different_bytes(self):
        for w in ("stream_steady", "stream_drain"):
            self.assertNotEqual(_bytes(w, 7), _bytes(w, 8))

    def test_event_mix_matches_events_table(self):
        """The generated type shares follow event_mix, and event_mix is the
        mix of the events table in data/ (an sf0.001 cut of sf0.1, so
        within its sampling error of 1000 rows)."""
        import pyarrow.parquet as pq
        mix = PARAMS["common"]["event_mix"]["value"]
        recs = gen.as_dicts(gen.generate("stream_drain", 5, PARAMS, 600_000))
        types = [r["event_type"] for r in recs if r["spool"] == "log"]
        self.assertGreater(len(types), 20_000)
        total = sum(mix.values())
        for k, w in mix.items():
            self.assertAlmostEqual(types.count(k) / len(types), w / total, delta=0.01, msg=k)
        table = pq.read_table(os.path.join(BENCH, "data", "events.parquet"),
                              columns=["event_type"]).column(0).to_pylist()
        self.assertEqual(set(table), set(mix))
        for k, w in mix.items():
            self.assertAlmostEqual(table.count(k) / len(table), w / total, delta=0.03, msg=k)

    def test_late_and_out_of_order_margins(self):
        recs = gen.as_dicts(gen.generate("stream_steady", 3, PARAMS, 60_000, 10_000))
        late_ms = PARAMS["common"]["late_ms"]["value"]
        shifts = {r["send_ms"] - r["ts_ms"] for r in recs}
        self.assertTrue(all(s == 0 or s == late_ms or 0 < s < 1000 for s in shifts))
        self.assertTrue(any(s == late_ms for s in shifts))
        late_sends = [r["send_ms"] for r in recs if r["send_ms"] - r["ts_ms"] == late_ms]
        self.assertGreaterEqual(min(late_sends), 10_000)


class TailRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_rank(1000), 99.0)
        self.assertEqual(stats.tail_rank(5000), 99.0)
        self.assertEqual(stats.tail_rank(100), 90.0)
        self.assertEqual(stats.tail_rank(50), 80.0)
        self.assertIsNone(stats.tail_rank(10))

    def test_ten_samples_beyond(self):
        for n in (11, 57, 100, 333, 1000, 2500):
            q, v, _ = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(x > v for x in range(n)), 10, (n, q))


def _perfect(records, workload="stream_steady"):
    """A benchmark JVM result whose sinks hold exactly the reference output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    origin = 1_700_000_000_000
    tmp = tempfile.mkdtemp()
    late_ms = PARAMS["common"]["late_ms"]["value"]
    log = [r for r in records if r["spool"] == "log"]
    ev = lambda r: {"user_id": r["user_id"], "event_id": r["event_id"], "ts": origin + r["ts_ms"],
                    "event_type": r["event_type"], "value": float(r["value"]),
                    "send": origin + r["send_ms"]}
    page = [ev(r) for r in log if r["event_type"] in check.PAGE]
    late = {e["event_id"] for e, r in zip(page, [r for r in log if r["event_type"] in check.PAGE])
            if r["send_ms"] - r["ts_ms"] >= late_ms}
    on_time = [e for e in page if e["event_id"] not in late]
    wm = max(e["ts"] for e in page) + 1
    ts_type = pa.timestamp("us", tz="UTC")

    def sink(name, rows, schema):
        d = os.path.join(tmp, name, "batch=0")
        os.makedirs(d)
        cols = {k: [r[k] for r in rows] for k in schema.names}
        for k, t in zip(schema.names, schema.types):
            if pa.types.is_timestamp(t):
                cols[k] = [v * 1000 for v in cols[k]]
        arrays = [pa.array(cols[k], type=pa.int64()).cast(t) if pa.types.is_timestamp(t)
                  else pa.array(cols[k], type=t) for k, t in zip(schema.names, schema.types)]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), os.path.join(d, "part-0.parquet"))

    evs = pa.schema([("user_id", pa.int64()), ("event_id", pa.int64()), ("ts", ts_type)])
    first = {}
    for e in sorted(page, key=lambda e: (e["ts"], e["event_id"])):
        first.setdefault((e["user_id"], e["ts"] // 86_400_000), e)
    sink("dwm_unique_visit", list(first.values()), evs)
    sink("dwm_user_jump", [h for h, _, _ in check._bounces(on_time)], evs)
    last = {}
    for r in records:
        if r["table"] == "user_info" and r["seq"] > last.get(r["user_id"], (0,))[0]:
            last[r["user_id"]] = (r["seq"], r["op"], r["province"])
    dim_rows = [[u, seq, prov] for u, (seq, op, prov) in sorted(last.items()) if op != "delete"]
    dims = {r["user_id"]: r["province"] for r in records
            if r["table"] == "user_info" and r["op"] == "insert"}
    facts = [r for r in records if r["spool"] == "db" and r["table"] != "user_info"
             and r["op"] != "delete"]
    pairs = []
    for o in facts:
        for d in facts:
            if o["table"] == "order_info" and d["table"] == "order_detail" \
                    and o["user_id"] == d["user_id"] and abs(d["ts_ms"] - o["ts_ms"]) <= 5000:
                pairs.append({"l_id": o["pk"], "l_ts": origin + o["ts_ms"], "r_id": d["pk"],
                              "r_ts": origin + d["ts_ms"], "province": dims[o["user_id"]]})
    sink("dwm_order_wide", pairs, pa.schema([("l_id", pa.int64()), ("l_ts", ts_type),
                                             ("r_id", pa.int64()), ("r_ts", ts_type),
                                             ("province", pa.string())]))
    vis = {}
    for e in on_time:
        k = (e["ts"] // 10_000 * 10_000, e["event_type"])
        a = vis.setdefault(k, {"stt": k[0], "event_type": k[1], "n": 0, "c": 0, "u": set()})
        a["n"] += 1
        a["c"] += round(e["value"] * 100)
        a["u"].add(e["user_id"])
    sink("dws_visitor", [{"stt": a["stt"], "event_type": a["event_type"], "n": a["n"],
                          "total_value": a["c"] / 100, "approx_users": len(a["u"])}
                         for a in vis.values()],
         pa.schema([("stt", ts_type), ("event_type", pa.string()), ("n", pa.int64()),
                    ("total_value", pa.float64()), ("approx_users", pa.int64())]))
    prod = {}
    for e in on_time:
        k = (e["ts"] // 10_000 * 10_000, e["user_id"])
        a = prod.setdefault(k, [0, 0, 0])
        if e["event_type"] == "view":
            a[0] += 1
        else:
            a[1] += 1
            a[2] += round(e["value"] * 100)
    product = [[k[0], k[0] + 10_000, k[1], a[0], a[1], a[2] / 100, dims.get(k[1]), 0]
               for k, a in prod.items()]
    n_late = len(late)
    # dimUpsert's first batch ends before the join's first batch starts
    progress = [{"query": q, "watermark_ms": wm + 20_000, "dropped": d, "batch": 0,
                 "ts_ms": origin + (0 if q == "StreamOps.dimUpsert" else 1_000),
                 "trigger_ms": 500, "rows_in": 1}
                for q, d in (("Cep.patternTws", n_late), ("StreamOps.windowedStats", n_late),
                             ("StreamOps.productStats", n_late), ("StreamOps.intervalJoin", 0),
                             ("StreamOps.dimUpsert", 0))]
    topics = {"dwd_page_log": len(page),
              "dwd_start_log": sum(r["event_type"] == "signup" for r in log),
              "dwd_display_log": sum(r["event_type"] == "click" for r in log),
              "dwd_order_info": sum(f["table"] == "order_info" for f in facts),
              "dwd_order_detail": sum(f["table"] == "order_detail" for f in facts)}
    return {"origin_ms": origin, "timed_start_ms": origin, "commits": [], "progress": progress,
            "sink_dir": tmp, "product_rows": product, "dim_rows": dim_rows,
            "topic_records": topics}


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        recs = gen.generate("stream_steady", 11, PARAMS, 30_000, 5_000)
        cls.records = gen.as_dicts(recs)

    def run_check(self, res):
        return check.streams("stream_steady", res, self.records, PARAMS)

    def _edit_sink(self, res, name, edit):
        import pyarrow.parquet as pq
        path = os.path.join(res["sink_dir"], name, "batch=0", "part-0.parquet")
        t = pq.read_table(path)
        pq.write_table(edit(t), path)

    def test_reference_output_passes(self):
        out = self.run_check(_perfect(self.records))
        self.assertEqual(out["failed"], 0, out["mismatches"][:5])
        self.assertGreater(out["attempted"], 100)

    def test_missing_row_is_caught(self):
        res = _perfect(self.records)
        self._edit_sink(res, "dwm_order_wide", lambda t: t.slice(1))
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        res = _perfect(self.records)
        res["product_rows"] = res["product_rows"][1:]
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_duplicated_row_is_caught(self):
        import pyarrow as pa
        res = _perfect(self.records)
        self._edit_sink(res, "dwm_unique_visit", lambda t: pa.concat_tables([t, t.slice(0, 1)]))
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        res = _perfect(self.records)
        self._edit_sink(res, "dwm_user_jump", lambda t: pa.concat_tables([t, t.slice(0, 1)]))
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_altered_row_is_caught(self):
        import pyarrow as pa
        res = _perfect(self.records)

        def bump(t):
            n = t.column("n").to_pylist()
            n[0] += 1
            return t.set_column(t.schema.get_field_index("n"), "n", pa.array(n, pa.int64()))
        self._edit_sink(res, "dws_visitor", bump)
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        res = _perfect(self.records)
        row = list(res["product_rows"][0])
        row[5] += 0.01
        res["product_rows"][0] = row
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_dim_state_faults_are_caught(self):
        deleted = [r["user_id"] for r in self.records
                   if r["table"] == "user_info" and r["op"] == "delete"]
        self.assertTrue(deleted)
        updated = [r for r in self.records if r["table"] == "user_info" and r["op"] == "update"
                   and r["user_id"] not in deleted]
        self.assertTrue(updated)
        # a dropped tombstone: the deleted user is still served
        res = _perfect(self.records)
        res["dim_rows"].append([deleted[0], 1, "P00"])
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        # a dropped update: the user is served at an older version
        res = _perfect(self.records)
        u = updated[-1]["user_id"]
        first = next(r for r in self.records if r["table"] == "user_info" and r["user_id"] == u)
        res["dim_rows"] = [[u, 1, first["province"]] if row[0] == u else row
                           for row in res["dim_rows"]]
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        # a lost user
        res = _perfect(self.records)
        res["dim_rows"] = res["dim_rows"][1:]
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_wrong_dim_enrichment_is_caught(self):
        import pyarrow as pa
        res = _perfect(self.records)

        def retag(t, province):
            p = t.column("province").to_pylist()
            p[0] = province
            return t.set_column(t.schema.get_field_index("province"), "province",
                                pa.array(p, pa.string()))
        self._edit_sink(res, "dwm_order_wide", lambda t: retag(t, "never-held"))
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)
        # no province, although the dims were ready and the user never deleted
        deleted = {r["user_id"] for r in self.records
                   if r["table"] == "user_info" and r["op"] == "delete"}
        res = _perfect(self.records)
        path = os.path.join(res["sink_dir"], "dwm_order_wide", "batch=0", "part-0.parquet")
        import pyarrow.parquet as pq
        users = {r["pk"]: r["user_id"] for r in self.records if r["table"] == "order_info"}
        live = [i for i, l in enumerate(pq.read_table(path).column("l_id").to_pylist())
                if users[l] not in deleted]

        def blank(t):
            p = t.column("province").to_pylist()
            p[live[0]] = None
            return t.set_column(t.schema.get_field_index("province"), "province",
                                pa.array(p, pa.string()))
        self._edit_sink(res, "dwm_order_wide", blank)
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_unreconciled_late_drop_is_caught(self):
        res = _perfect(self.records)
        res["progress"][1]["dropped"] += 1
        self.assertGreaterEqual(self.run_check(res)["failed"], 1)

    def test_batch_compare(self):
        want_cols, want_rows = check._canon(["a", "b"], [[1, 2.5], [2, None], [3, 4.0]])
        want = json.loads(json.dumps({"columns": want_cols, "rows": want_rows}))
        ok = [[3, 4.0], [1, 2.5], [2, None]]
        self.assertIsNone(check.compare_result("q", ["a", "b"], ok, want))
        self.assertIsNotNone(check.compare_result("q", ["a", "b"], ok[:2], want))
        self.assertIsNotNone(check.compare_result("q", ["a", "b"], ok + ok[:1], want))
        self.assertIsNotNone(check.compare_result("q", ["a", "b"], [[3, 4.0], [1, 2.5], [2, 1]], want))


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(DECLARED), {"command", "paths", "run_seconds", "workloads",
                                         "end_to_end", "per_layer"})
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in DECLARED[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in DECLARED["end_to_end"] + DECLARED["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in DECLARED["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in DECLARED["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in DECLARED["end_to_end"]), setup[0]["bound"])
        self.assertLessEqual(len(DECLARED["per_layer"]), 128)

    def test_batch_pass_takes_each_query_at_its_fastest(self):
        calls = [("a", 0, 500.0), ("b", 0, 200.0), ("a", 1, 300.0), ("b", 1, 400.0)]
        res = {"timed_start_ms": 2_000.0, "peak_rss_mb": 900.0,
               "queries": [{"name": n, "pass": p, "wall_ms": w} for n, p, w in calls] * 3}
        e2e = metrics.end_to_end("batch_suite", res, {}, 1.0)
        self.assertAlmostEqual(e2e["batch_total_s"], 0.5)
        self.assertAlmostEqual(e2e["query_mean_s"], 0.35)
        # a query's job group already holds the jobs of every pass
        res = {"gc_s": 0.0, "job_groups": {"a": {"jobs": 4}},
               "queries": [{"name": "a", "pass": p, "set": "core", "construct_ms": 1.0,
                            "plan_ms": 1.0, "exec_ms": 1.0, "wall_ms": 3.0} for p in (0, 1)]}
        self.assertEqual(metrics.layer_figures("batch_suite", res, {})["spark.core.jobs"], 4)

    def test_printed_metrics_match_declaration(self):
        res = {"timed_start_ms": 2_000.0, "peak_rss_mb": 900.0, "gc_s": 1.0,
               "queries": [{"name": "q%d" % i, "set": "core" if i % 2 else "corpus",
                            "construct_ms": 1.0, "plan_ms": 2.0, "exec_ms": 3.0,
                            "wall_ms": 6.0 + i} for i in range(20)]}
        outcome = {"fresh": [], "sink_rows": {}}
        e2e = metrics.end_to_end("batch_suite", res, outcome, 1.0)
        for m in DECLARED["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertGreater(e2e[m["name"]], 0)
        sres = {"timed_start_ms": 2_000.0, "flushed_ms": 9_000.0, "origin_ms": 1_000.0,
                "peak_rss_mb": 900.0,
                "progress": [{"ts_ms": 1_500.0 + 400 * i, "trigger_ms": 40.0 + i, "rows_in": i % 2}
                             for i in range(20)]}
        e2e = metrics.end_to_end("stream_steady", sres,
                                 {"fresh": [float(i) for i in range(1, 101)]}, 1.0)
        for m in DECLARED["end_to_end"]:
            self.assertGreater(e2e[m["name"]], 0, m["name"])
        self.assertEqual(e2e["batch_total_s"], 7.0)
        # batches with rows between the timed start and the flush: the odd
        # ones from 3 to 17, 43 to 57 ms
        self.assertAlmostEqual(e2e["query_mean_s"], 0.050)
        # 100 samples: p90 is the highest percentile with ten beyond it
        self.assertEqual(e2e["fresh_tail_s"], 90.0)
        # 300 samples: the tail stays at p90
        e2e = metrics.end_to_end("stream_steady", sres,
                                 {"fresh": [float(i) for i in range(1, 301)]}, 1.0)
        self.assertEqual(e2e["fresh_tail_s"], 270.0)
        declared = {m["name"] for m in DECLARED["per_layer"]}
        fig = metrics.layer_figures("batch_suite", res, outcome)
        self.assertEqual(list(metrics.per_layer(fig, DECLARED)),
                         [m["name"] for m in DECLARED["per_layer"]])
        batch_names = set(fig)
        sres = {"progress": [], "timed_start_ms": 0, "gc_s": 0.5, "topic_records": {}}
        fig = metrics.layer_figures("stream_steady", sres, outcome)
        self.assertEqual(list(metrics.per_layer(fig, DECLARED)),
                         [m["name"] for m in DECLARED["per_layer"]])
        # every declared metric is computed by one of the workloads, and
        # every computed figure is declared or printed as reported-only
        self.assertEqual(declared | set(metrics.REPORTED_UNITS), batch_names | set(fig))


if __name__ == "__main__":
    unittest.main()
