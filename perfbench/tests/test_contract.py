import json
import math
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
KINDS = {"ingest_tick": ["tick", "tick", "compact", "vacuum", "tick", "tick"],
         "ann_serve": ["serve", "serve", "append", "compact", "serve", "serve"],
         "catalog_mix": ["query"] * 6}


def fake_result(workload):
    """A driver result file as the JVM writes it, with a few traced ops."""
    ops, spans, events = [], [], []
    for i, kind in enumerate(KINDS[workload]):
        start = 1000.0 + 100 * i
        traced = i % 2 == 1
        ops.append({"kind": kind, "name": "q06_forecast_revenue", "id": i,
                    "round": i, "start_ms": start, "dur_s": 0.05 + 0.01 * i,
                    "ok": True, "traced": traced})
        if traced:
            spans.append({"id": len(spans), "parent": -1, "op": i,
                          "name": kind, "start_ms": start,
                          "end_ms": start + 50})
            events += [
                {"kind": "job", "name": "job", "start_ms": start + 1,
                 "end_ms": start + 9, "values": {}},
                {"kind": "phase", "name": "analysis", "start_ms": start + 1,
                 "end_ms": start + 2, "values": {}},
                {"kind": "task", "name": "task", "start_ms": start + 2,
                 "end_ms": start + 8, "values": {"run_ms": 5.0,
                                                 "input_bytes": 10.0,
                                                 "shuffle_write_bytes": 3.0}},
                {"kind": "stream", "name": "trigger", "start_ms": start + 10,
                 "end_ms": start + 20, "values": {"triggerExecution": 10.0}},
                {"kind": "scan", "name": "scan", "start_ms": start + 30,
                 "end_ms": start + 30, "values": {"files": 2.0}}]
    return {"ops": ops, "spans": spans, "events": events,
            "setup": {"session_s": 2.0, "warmup_s": 1.0,
                      "ledger_build_s": 3.0, "index_build_s": 4.0},
            "gauges": {"loop_wall_s": 1.0, "indexstore.bytes": 1000,
                       "ledger_docs": 10, "indexstore.head_version": 3},
            "checks": {"module_of": {"q06_forecast_revenue": "Relational"}},
            "failures": [], "control_s": [0.1, 0.12], "rss_peak_mb": 900.0,
            "heap_after_gc_peak_mb": 300.0,
            "first_op_ms": 9000.0, "jvm_start_ms": 1000.0, "cpus": 4}


class PrintedMetrics(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        for trace_on, key in ((False, "end_to_end"), (True, "per_layer")):
            want = {m["name"]: m["unit"] for m in BENCH[key]}
            for w in run.PRIMARY:
                with self.subTest(workload=w, trace=trace_on):
                    line = run.result_line(fake_result(w), w, trace_on, [],
                                           {}, 0.5)
                    got = {k: v["unit"] for k, v in line["metrics"].items()}
                    self.assertEqual(got, want)
                    for v in line["metrics"].values():
                        self.assertTrue(math.isfinite(v["value"]))
                    self.assertEqual(set(line), {"correct", "attempted",
                                                 "failed", "metrics"})
                    self.assertGreaterEqual(line["attempted"], 1)

    def test_workload_named_view(self):
        # the workload-specific names, printed on the line before
        common = {"setup_s", "rss_peak_mb", "heap_after_gc_peak_mb",
                  "fail_ratio"}
        want = {"ingest_tick": {"tick_p50_s", "tick_p90_s",
                                "ingest_docs_per_s", "ledger_bytes_per_doc"},
                "ann_serve": {"serve_p50_s", "serve_p90_s", "append_p50_s"},
                "catalog_mix": {"query_p50_s", "query_p90_s",
                                "catalog_queries_per_s"}}
        for w in run.PRIMARY:
            res = fake_result(w)
            view = run.named_view(res, w, run.end_to_end(res, w))
            self.assertEqual(set(view), common | want[w])
            self.assertLessEqual(set(view), set(run.VIEW_UNITS))

    def test_end_to_end_values_are_positive(self):
        for w in run.PRIMARY:
            line = run.result_line(fake_result(w), w, False, [], {}, 0.5)
            for k, v in line["metrics"].items():
                self.assertGreater(v["value"], 0, (w, k))

    def test_round_count_depends_only_on_arguments(self):
        secs = BENCH["run_seconds"]
        for w in run.PRIMARY:
            n = run.rounds_for(w, secs, False)
            self.assertGreaterEqual(n, 1)
            traced = run.rounds_for(w, secs, True)
            self.assertGreaterEqual(traced, max(n, 4))
            self.assertEqual(traced % 2, 0)

    def test_inputs_cover_the_longest_run(self):
        spec = run.gen.SPEC
        longest = {w: run.rounds_for(w, 60, True) for w in run.PRIMARY}
        ing = spec["ingest_tick"]
        self.assertLessEqual(
            1 + longest["ingest_tick"] * ing["compact_every"], ing["ticks"])
        ann = spec["ann_serve"]
        self.assertLess(longest["ann_serve"] * ann["append_every"],
                        ann["requests"])
        self.assertLessEqual(longest["ann_serve"], ann["appends"])
        self.assertLessEqual(longest["catalog_mix"],
                             spec["catalog_mix"]["rounds"])

    def test_failed_setup_is_attempted_and_failed(self):
        res = fake_result("ingest_tick")
        res["ops"] = []
        res["failures"] = [{"op": "setup", "name": "ingest_tick",
                            "class": "java.io.IOException", "message": "x"}]
        self.assertEqual(run.counts(res), (1, 1))
        self.assertFalse(run.primary_done(res, "ingest_tick"))

    def test_overhead_compares_interleaved_rounds(self):
        # traced rounds 1, 3, 5 take 0.2 s; untraced rounds 2, 4 take
        # 0.1 s; the cold round 0 (1 s) is left out
        res = fake_result("catalog_mix")
        for o in res["ops"]:
            o["dur_s"] = 1.0 if o["round"] == 0 else (
                0.2 if o["traced"] else 0.1)
        layer = run.per_layer(res, "catalog_mix", {}, 0.5)
        self.assertAlmostEqual(layer["bench.trace_overhead_ratio"], 1.0)


class FailedRun(unittest.TestCase):
    """A run in which no primary op completes still keeps its failures."""

    def run_main(self, res):
        import contextlib
        import io
        import tempfile
        from unittest import mock
        with tempfile.TemporaryDirectory() as work, \
                mock.patch.object(run, "WORK", work), \
                mock.patch.object(run, "classpath", lambda: "cp"), \
                mock.patch.object(run, "catalog_tables", lambda: work), \
                mock.patch.object(run.gen, "generate", lambda *a: None), \
                mock.patch.object(run, "run_driver",
                                  lambda *a: (res, os.path.join(work, "run"))), \
                mock.patch.object(sys, "argv", [
                    "run.py", "--workload", "ann_serve", "--seed", "1",
                    "--seconds", "1", "--trace", "0"]):
            out = io.StringIO()
            with contextlib.redirect_stdout(out), \
                    contextlib.redirect_stderr(io.StringIO()), \
                    self.assertRaises(SystemExit) as ex:
                run.main()
            with open(os.path.join(work, "last_ann_serve.json")) as f:
                record = json.load(f)
        return ex.exception.code, json.loads(out.getvalue().splitlines()[-1]), record

    def test_every_serve_failed(self):
        res = fake_result("ann_serve")
        for o in res["ops"]:
            o["ok"] = False
        res["failures"] = [{"op": "serve", "name": "request-0",
                            "class": "java.lang.IllegalStateException",
                            "message": "boom"}]
        res["checks"] = {"recall_hits": 0, "recall_total": 0, "malformed": []}
        code, line, record = self.run_main(res)
        self.assertEqual(code, 1)
        self.assertEqual(line, {"correct": False, "attempted": 6,
                                "failed": 6, "metrics": {}})
        self.assertEqual(record["failures"], res["failures"])

    def test_failed_setup(self):
        res = fake_result("ann_serve")
        res["ops"] = []
        res["failures"] = [{"op": "setup", "name": "ann_serve",
                            "class": "java.io.IOException", "message": "disk"}]
        code, line, record = self.run_main(res)
        self.assertEqual(code, 1)
        self.assertEqual((line["attempted"], line["failed"]), (1, 1))
        self.assertIn("setup ann_serve: java.io.IOException: disk",
                      record["problems"])


class BenchmarkJson(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds",
                                      "workloads", "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in BENCH["workloads"]},
                         set(run.PRIMARY))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in BENCH["end_to_end"]))
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)


if __name__ == "__main__":
    unittest.main()
