"""Tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

EVENTS = os.path.join(run.TESTDATA, "sf0.001", "events.parquet")


def read_tape(path):
    return duckdb.sql(f"SELECT * FROM '{path}/*.parquet' ORDER BY event_id").fetchall()


@unittest.skipUnless(os.path.exists(EVENTS), "shipped test data not found")
class GeneratorTest(unittest.TestCase):
    def make(self, tmp, name, seed):
        path = os.path.join(tmp, name)
        info = gen.make_tape(EVENTS, path, seed, copies=3, files=4)
        return path, info

    def test_same_seed_same_tape(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, ia = self.make(tmp, "a", 7)
            b, ib = self.make(tmp, "b", 7)
            self.assertEqual(ia, ib)
            for i in range(4):
                name = f"part-{i:05d}.parquet"
                self.assertTrue(pq.read_table(os.path.join(a, name)).equals(
                    pq.read_table(os.path.join(b, name))))

    def test_other_seed_other_tape(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, _ = self.make(tmp, "a", 7)
            b, _ = self.make(tmp, "b", 8)
            self.assertNotEqual(read_tape(a), read_tape(b))
            first = pq.read_table(os.path.join(a, "part-00000.parquet")).column("event_id")
            other = pq.read_table(os.path.join(b, "part-00000.parquet")).column("event_id")
            self.assertNotEqual(first.to_pylist(), other.to_pylist())

    def test_tape_keeps_contract(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, info = self.make(tmp, "a", 7)
            src = duckdb.sql(f"SELECT count(*) FROM '{EVENTS}'").fetchone()[0]
            self.assertEqual(info["ticks"], 3 * src)
            # same ts, values and props per copy; ids move by the strides
            # and each symbol stays in its % 10 cohort
            bad = duckdb.sql(f"""
                SELECT count(*) FROM '{a}/*.parquet' t
                JOIN '{EVENTS}' s ON t.event_id % {gen.KEY_STRIDE} = s.event_id
                WHERE t.ts <> s.ts OR t.value IS DISTINCT FROM s.value
                   OR t.props IS DISTINCT FROM s.props
                   OR t.user_id % 10 <> s.user_id % 10
                   OR t.user_id // {gen.USER_STRIDE} <> t.event_id // {gen.KEY_STRIDE}
            """).fetchone()[0]
            self.assertEqual(bad, 0)

    def test_mix_order(self):
        keys = [f"k{i}" for i in range(10)]
        self.assertEqual(gen.mix_order(3, keys), gen.mix_order(3, keys))
        self.assertNotEqual(gen.mix_order(3, keys), gen.mix_order(4, keys))
        self.assertEqual(sorted(gen.mix_order(3, keys)), keys)


class PercentileTest(unittest.TestCase):
    def test_refuses_without_ten_samples_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(19), 0.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 0.9)

    def test_interpolates(self):
        self.assertEqual(stats.percentile(range(21), 0.5), 10)
        self.assertAlmostEqual(stats.percentile(range(101), 0.9), 90)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10] * 10), 0.0)
        self.assertGreater(stats.quartile_spread([8, 9, 10, 11, 12] * 2), 0.2)


@unittest.skipUnless(os.path.exists(EVENTS), "shipped test data not found")
class OracleCheckTest(unittest.TestCase):
    """A result that differs from its oracle is reported as a mismatch."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        gen.make_tape(EVENTS, os.path.join(self.data, "events.parquet"), 1, copies=2, files=2)
        sqls = {k: oracle.OWN_SQL[k] for k in ("scan", "enrich", "readback")}
        self.ref = oracle.oracle_digests(self.data, sqls)
        self.out = os.path.join(self.tmp.name, "out")
        con = oracle.connect(self.data)
        for op, sql in sqls.items():
            os.makedirs(os.path.join(self.out, "verify", op))
            pq.write_table(con.sql(sql).arrow(),
                           os.path.join(self.out, "verify", op, "part-0.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def perturb(self, op, value_delta):
        path = os.path.join(self.out, "verify", op, "part-0.parquet")
        t = duckdb.sql(f"""SELECT * REPLACE (CASE WHEN event_id = (SELECT min(event_id)
                           FROM '{path}') THEN value + {value_delta} ELSE value END AS value)
                           FROM '{path}'""").arrow()
        pq.write_table(t, path)

    def test_exact_results_match(self):
        mismatches, got = run.check(self.out, self.ref)
        self.assertEqual(mismatches, [])
        self.assertEqual(set(got), {"scan", "enrich", "readback"})

    def test_perturbed_result_is_a_mismatch(self):
        self.perturb("scan", 0.01)
        mismatches, _ = run.check(self.out, self.ref)
        self.assertEqual([m["op"] for m in mismatches], ["scan"])

    def test_readback_must_equal_enrich(self):
        self.perturb("readback", 0.01)
        mismatches, _ = run.check(self.out, self.ref)
        self.assertEqual(sorted(m["why"] for m in mismatches),
                         ["digest differs", "snapshot read-back differs from enrich"])

    def test_missing_result_is_a_mismatch(self):
        import shutil
        shutil.rmtree(os.path.join(self.out, "verify", "enrich"))
        mismatches, _ = run.check(self.out, self.ref)
        self.assertIn({"op": "enrich", "why": "no result written"}, mismatches)


if __name__ == "__main__":
    unittest.main()
