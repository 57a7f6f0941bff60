#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

Usage (from the root of a checkout): python3 perfbench/selftest.py

  - the world generator is deterministic: the same seed gives the same
    bytes, another seed gives other bytes;
  - the output checks catch a one-row change to a sink, both the
    recomputation and the sink digest;
  - a throwing query is counted as failed and never as a time (Bench's -1
    rule), whether it throws while it is built or while it runs. This one
    starts a harness JVM, so it builds the repo first when needed.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import run  # noqa: E402
import world  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def write_sinks(out, assoc, hyps, whitelist):
    """The two sinks as RunPipeline lays them out, holding exactly the
    columns the checks read, from expected rows."""
    rows = [{"target_id": t, "disease_id": d, "evidence_count": v[0],
             "harmonic_genetics": v[1], "harmonic_literature": v[2], "harmonic": v[3],
             "new_drugs": v[4], **({"whitelist_id": k} if whitelist else {})}
            for (t, d, k), v in sorted(assoc.items())]
    os.makedirs(os.path.join(out, "associations"))
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(out, "associations", "part-00000.parquet"))
    os.makedirs(os.path.join(out, "drug_disease"))
    with open(os.path.join(out, "drug_disease", "part-00000.json"), "w") as f:
        for (t, d, h), vs in sorted(hyps.items()):
            for v in vs:
                f.write(json.dumps({
                    "target_id": t, "disease_id": d, "drug_hypothesis": h, "harmonic": v[0],
                    "drug_hypothesis_aes_score": v[1], "disease_aes_score": v[2],
                    "drug_hypothesis_disease_aes_score": v[3]}) + "\n")


class WorldTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            world.generate(7, a)
            world.generate(7, b)
            world.generate(8, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            self.assertEqual(sorted(os.listdir(a)), sorted(
                [f"{n}.json" for n in ("drugs", "targets", "diseases", "evidences",
                                       "interactions", "faers_by_drug", "faers_by_target",
                                       "aggregations", "expression", "whitelist")]
                + ["studies.parquet", "predictions.parquet"]))


class SinkCheckTest(unittest.TestCase):
    def check_one_row_change(self, whitelist):
        with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
            w = os.path.join(tmp, "world")
            world.generate(3, w)
            assoc, hyps = check.expected_pipeline(w, whitelist)
            good = os.path.join(tmp, "good")
            write_sinks(good, assoc, hyps, whitelist)
            self.assertEqual(check.check_pipeline(w, check.read_sinks(good), whitelist), [])

            key = sorted(assoc)[len(assoc) // 2]
            v = assoc[key]
            changed = dict(assoc)
            changed[key] = (v[0], v[1], v[2], v[3] + 1e-6, v[4])
            bad = os.path.join(tmp, "bad")
            write_sinks(bad, changed, hyps, whitelist)
            self.assertTrue(check.check_pipeline(w, check.read_sinks(bad), whitelist))
            self.assertNotEqual(check.sink_digests(check.read_sinks(good))["associations"],
                                check.sink_digests(check.read_sinks(bad))["associations"])

            fewer = os.path.join(tmp, "fewer")
            write_sinks(fewer, assoc, dict(sorted(hyps.items())[1:]), whitelist)
            self.assertTrue(check.check_pipeline(w, check.read_sinks(fewer), whitelist))
            self.assertNotEqual(check.sink_digests(check.read_sinks(good))["drug_disease"],
                                check.sink_digests(check.read_sinks(fewer))["drug_disease"])

    def test_open_mode(self):
        self.check_one_row_change(False)

    def test_whitelist_mode(self):
        self.check_one_row_change(True)

    def test_digest_ignores_row_and_array_order_only(self):
        rows = [{"a": 1, "xs": ["p", "q"], "s": 0.1 + 0.2}, {"a": 2, "xs": [], "s": None}]
        shuffled = [{"s": None, "xs": [], "a": 2}, {"xs": ["q", "p"], "a": 1, "s": 0.3}]
        self.assertEqual(check.rows_digest(rows), check.rows_digest(shuffled))
        self.assertNotEqual(check.rows_digest(rows), check.rows_digest(rows[:1]))


class FailedQueryTest(unittest.TestCase):
    def test_throwing_query_counts_as_failed_never_as_a_time(self):
        launch = run.build()
        d = os.path.join(run.RUNS, "selftest")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            names = ["q_scalar_json", "selftest_fails_construct", "selftest_fails_execute"]
            r, _ = run.harness(launch, d, "queries", data=run.DATA, names=",".join(names),
                               check=os.path.join(d, "check"), seconds=0, trace=0)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        ops = r["ops"]
        failed = [o for o in ops if not o["ok"]]
        self.assertEqual(sorted({o["name"] for o in failed}), names[1:])
        self.assertTrue(all(o["seconds"] == -1.0 for o in failed))
        # a pass sums only the query that ran; latencies come only from it
        timed = {(o["phase"], o["pass"]): o["seconds"] for o in ops if o["ok"]}
        for phase in ("cold", "warm"):
            self.assertEqual(sorted(run.pass_times(ops, phase)),
                             sorted(t for (p, _), t in timed.items() if p == phase))
        m = run.end_to_end(ops, 1.0)
        warm = [t for (p, _), t in timed.items() if p == "warm"]
        self.assertTrue(min(warm) <= m["op_p50_s"] <= m["op_p90_s"] <= max(warm))


if __name__ == "__main__":
    unittest.main(verbosity=2)
