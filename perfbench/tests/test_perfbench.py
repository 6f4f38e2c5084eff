"""Smoke tests of the benchmark: generators, the run contract, and each workload.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The workload tests build the engine on first
use and run each workload at tiny size (`--tiny`), which takes a few minutes.
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_payloads as gp  # noqa: E402


def _valid(endpoint, key, bar):
    """Independent restatement of the normalizer's accept rule."""
    fmts = {"daily": ["%Y-%m-%d"], "intraday": ["%Y-%m-%d %H:%M:%S"],
            "sma": ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d"]}[endpoint]
    if not any(_parses(key, f) for f in fmts):
        return False
    fields = ["SMA"] if endpoint == "sma" else \
        ["1. open", "2. high", "3. low", "4. close", "5. volume"]
    try:
        for f in fields:
            (int if f == "5. volume" else float)(bar[f])
    except (KeyError, ValueError):
        return False
    return True


def _parses(key, fmt):
    try:
        dt.datetime.strptime(key, fmt)
        return True
    except ValueError:
        return False


class GeneratorTest(unittest.TestCase):
    def test_payload_counts_are_self_consistent(self):
        batches = gp.generate(seed=7, n_batches=4)
        stored = {e: set() for e in gp.ENDPOINTS}
        symbols = set()
        kinds = set()
        for b in batches:
            exp = b["expected"]
            envelopes = 0
            new = {e: set() for e in gp.ENDPOINTS}
            for e in gp.ENDPOINTS:
                rejected = accepted = 0
                for doc in b["payloads"][e]:
                    if "Error Message" in doc or "Note" in doc:
                        envelopes += 1
                        kinds |= set(doc)
                        continue
                    sym = doc["Meta Data"].get("2. Symbol") or doc["Meta Data"]["1: Symbol"]
                    for k, bar in doc[gp.SERIES_KEY[e]].items():
                        if not _valid(e, k, bar):
                            rejected += 1
                            continue
                        accepted += 1
                        symbols.add(sym)
                        if e == "daily" and int(bar["5. volume"]) > 2 ** 31:
                            kinds.add("big volume")
                        pk = (sym, gp._pk(e, k))
                        if pk not in stored[e]:
                            new[e].add(pk)
                self.assertEqual(rejected, exp["rejected"][e], (b["name"], e))
                self.assertEqual(accepted, exp["accepted"][e], (b["name"], e))
                self.assertEqual(len(new[e]), exp["inserted"][gp.TABLE[e]], (b["name"], e))
                stored[e] |= new[e]
                self.assertEqual(len(stored[e]), exp["table_rows"][gp.TABLE[e]])
            self.assertEqual(envelopes, exp["envelopes"])
            self.assertEqual(len(symbols), exp["table_rows"]["companies"])
            rb = exp["readback"]
            self.assertEqual(len(rb["rows"]), gp.READBACK_ROWS)
            self.assertEqual([r[0] for r in rb["rows"]],
                             sorted((r[0] for r in rb["rows"]), reverse=True))
        # every FIXTURES.md edge case is present
        self.assertTrue({"Error Message", "Note", "big volume"} <= kinds)
        self.assertGreater(sum(b["expected"]["rejected"]["sma"] for b in batches), 0)
        self.assertGreater(sum(b["expected"]["rejected"]["daily"] for b in batches), 0)
        # re-fetches overlap: each inserts far fewer rows than it offers
        for b in batches[1:]:
            self.assertLess(sum(b["expected"]["inserted"].values()),
                            sum(b["expected"]["accepted"].values()) / 2)

    def test_payloads_follow_the_seed(self):
        a = json.dumps(gp.generate(seed=3, n_batches=2), sort_keys=True)
        self.assertEqual(a, json.dumps(gp.generate(seed=3, n_batches=2), sort_keys=True))
        self.assertNotEqual(a, json.dumps(gp.generate(seed=4, n_batches=2), sort_keys=True))

    def test_corpus_is_deterministic(self):
        def digest():
            t = gen_corpus.tables(scale=0.0005)
            return hashlib.sha256(b"".join(
                json.dumps(t[n].to_pylist(), default=str).encode() for n in sorted(t))).hexdigest()
        self.assertEqual(digest(), digest())
        names = set(gen_corpus.tables(scale=0.0005))
        self.assertEqual(names, {"region", "nation", "customer", "supplier", "part", "orders",
                                 "lineitem", "events", "documents", "embeddings"})


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class ContractTest(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        d = os.path.join(ROOT, ".perfbench", "tmp", "bare-checkout")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "short_queries", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=60)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


class WorkloadSmokeTest(unittest.TestCase):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace), "--tiny")
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            out = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"], p.stdout)
            self.assertEqual(out["failed"], 0)
            self.assertGreaterEqual(out["attempted"], 1)
            want = {m["name"]: m["unit"] for m in self.bench[key]}
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
            for k, v in out["metrics"].items():
                self.assertIsInstance(v["value"], (int, float), k)

    def test_etl_incremental(self):
        self.check("etl_incremental")

    def test_short_queries(self):
        self.check("short_queries")


if __name__ == "__main__":
    unittest.main()
