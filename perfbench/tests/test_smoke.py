#!/usr/bin/env python3
"""The benchmark's own tests: every workload at its smoke size.

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs once untraced and once traced with `--size smoke`
(catalog at sf0.001, tens of feeds, a few drains). The tests check that
the run prints every metric the workload names, with its unit, that
every end-to-end metric of BENCHMARK.json is in the result line, that the
traced run writes spans and the workload's per-layer metrics, and that
no output check failed. A last test runs the command in a directory
holding only BENCHMARK.json and the benchmark, where it must fail
without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

NAMED = {
    "catalog": {"setup_s": "s", "catalog_s": "s", "query_p50_s": "s", "query_p90_s": "s",
                "error_rate": "fraction", "rss_peak_mb": "MB"},
    "feed_read": {"setup_s": "s", "page_p50_ms": "ms", "page_p99_ms": "ms",
                  "page_rps": "req/s", "error_rate": "fraction", "rss_peak_mb": "MB"},
    "ingest_live": {"setup_s": "s", "page_p50_ms": "ms", "page_p95_ms": "ms",
                    "ingest_pps": "posts/s", "fresh_p50_s": "s", "fresh_p99_s": "s",
                    "error_rate": "fraction", "rss_peak_mb": "MB"},
}

LAYER = {
    "catalog": ["queries.build_s", "queries.exec_s", "spark.jobs", "spark.stages",
                "spark.tasks", "spark.task_s", "spark.core_util", "spark.gc_s",
                "spark.shuffle_read_bytes", "spark.storage_peak_bytes", "self_s.queries"],
    "feed_read": ["serving.http_ms", "headcache.page_ms", "serving.overhead_ms",
                  "headcache.hits", "headcache.builds", "headcache.hit_ratio",
                  "headcache.build_ms", "feedpage.page_ms", "feedpage.jobs",
                  "streaming.read_key_ms", "self_s.serving"],
    "ingest_live": ["pipeline.offer_us", "pipeline.drain_s", "sources.decode_s",
                    "sources.ops_per_frame", "operators.cascade_s", "operators.upsert_s",
                    "operators.new_ratio", "pipeline.swap_s", "pipeline.store_rows",
                    "spark.jobs_per_drain", "headcache.builds", "self_s.pipeline"],
}

# layer metrics a smoke run must measure as more than zero
NONZERO = {"queries.build_s", "spark.jobs", "spark.tasks", "headcache.hits",
           "headcache.page_ms", "pipeline.drain_s", "sources.ops_per_frame",
           "pipeline.store_rows", "spark.jobs_per_drain"}


def run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", "3", "--seconds", "4",
                        "--trace", str(trace), "--size", "smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload):
        p = run(workload, 0)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in self.spec["end_to_end"]:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertGreater(got["value"], 0, m["name"])
        printed = {l.split()[1]: l.split()[3] for l in lines[:-1]
                   if l.startswith(workload + " ")}
        for name, unit in NAMED[workload].items():
            self.assertEqual(printed.get(name), unit, f"{name} not printed with {unit}")
        self.assertIn(f"{workload} error_rate 0 fraction", p.stdout)

        p = run(workload, 1)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        traced = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(traced["correct"])
        self.assertEqual(set(traced["metrics"]), {m["name"] for m in self.spec["per_layer"]})
        for name in LAYER[workload]:
            self.assertIn(name, traced["metrics"])
            if name in NONZERO:
                self.assertGreater(traced["metrics"][name]["value"], 0, name)
        self.assertIn("trace overhead", p.stdout)
        spans = os.path.join(ROOT, ".bench_build", "traces",
                             f"{workload}-smoke-seed3-trace1.jsonl")
        with open(spans) as f:
            first = json.loads(f.readline())
        self.assertLessEqual({"id", "name", "parent", "start_ms", "end_ms"}, set(first))

    def test_catalog(self):
        self.check("catalog")

    def test_feed_read(self):
        self.check("feed_read")

    def test_ingest_live(self):
        self.check("ingest_live")

    def test_refuses_outside_a_checkout(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            p = run("catalog", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
