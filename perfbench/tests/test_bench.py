"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The Scala/Python agreement test builds the harness (cached under
$CARGO_TARGET_DIR, default .bench_build) and is skipped when no Spark
install is found.
"""
import datetime as dt
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import digest  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import selfcheck  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
ROWS = [(1, "a|b", 12.31, None, True),
        (-7, "", 0.005, dt.date(2024, 1, 31), False),
        (3, "Zürich", -1.5, dt.datetime(2024, 1, 1, 0, 0, 7, 179575), None)]


class PercentileTest(unittest.TestCase):
    def test_incomplete_beta(self):
        for x in (0.0, 0.1, 0.37, 0.9, 1.0):
            self.assertAlmostEqual(run.betainc(1, 1, x), x, places=12)
            self.assertAlmostEqual(run.betainc(3.5, 1, x), x ** 3.5, places=12)
        self.assertAlmostEqual(run.betainc(24.5, 24.5, 0.5), 0.5, places=12)
        # I_x(a, b) = 1 - I_{1-x}(b, a)
        self.assertAlmostEqual(run.betainc(46.55, 2.45, 0.9),
                               1 - run.betainc(2.45, 46.55, 0.1), places=12)

    def test_harrell_davis(self):
        self.assertAlmostEqual(run.percentile([5.0], 95), 5.0)
        self.assertAlmostEqual(run.percentile([3, 1, 2], 50), 2.0)
        self.assertAlmostEqual(run.percentile(range(1, 11), 50), 5.5)
        self.assertAlmostEqual(run.percentile(range(1, 201), 95), 190.5, places=6)
        # unlike a plain median, it does not jump across a gap in the sample
        gap = [100] * 8 + [300] * 8
        self.assertAlmostEqual(run.percentile(gap, 50), 200.0)
        self.assertLess(run.percentile(gap + [100], 50) - run.percentile(gap, 50), 60)
        qs = [run.percentile(range(1, 49), q) for q in (5, 25, 50, 75, 95)]
        self.assertEqual(qs, sorted(qs))
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_spread_matches_statistics_quantiles(self):
        med, q1, q3, rel = stats.spread(list(range(1, 11)))
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(rel, 1.0)


class DigestTest(unittest.TestCase):
    def test_canonical_values(self):
        self.assertEqual(digest.row_text(ROWS[0]), "1|a|b|1231|\\N|true")
        self.assertEqual(digest.row_text(ROWS[1]), "-7||1|2024-01-31|false")
        self.assertEqual(digest.row_text(ROWS[2]), "3|Zürich|-150|1704067207179575|\\N")

    def test_order(self):
        self.assertNotEqual(digest.of_rows(ROWS, True), digest.of_rows(ROWS[::-1], True))
        self.assertEqual(digest.of_rows(ROWS, False), digest.of_rows(ROWS[::-1], False))
        self.assertTrue(digest.of_rows(ROWS, False).startswith("3:"))


class OracleTwinTest(unittest.TestCase):
    """The oracle rewrites the engine's dumped twins for its own inputs."""
    TWINS = {
        "q_curation_e2e": "WITH b AS (SELECT doc_id, text AS t FROM documents),\n"
                          "inj AS (SELECT doc_id, t || 'x' AS t FROM b),\n"
                          "fp AS (SELECT doc_id FROM inj)\nSELECT * FROM fp",
        "q_standardize_e2e": "SELECT $race AS race_subject,\n    CASE WHEN trim(agex) IS NULL "
                             "THEN NULL ELSE agex END AS age_subject, x FROM rr"}

    def test_curation_drops_injection(self):
        self.assertEqual(oracle.curation_sql(self.TWINS),
                         "WITH inj AS (SELECT doc_id, text AS t FROM documents),\n"
                         "fp AS (SELECT doc_id FROM inj)\nSELECT * FROM fp")

    def test_age_case_on_raw(self):
        self.assertEqual(oracle.age_sql(self.TWINS),
                         "CASE WHEN trim(raw) IS NULL THEN NULL ELSE raw END")

    def test_version_follows_twins(self):
        other = dict(self.TWINS, q_stream_neardup="SELECT 1")
        self.assertNotEqual(oracle.version(self.TWINS), oracle.version(other))
        self.assertEqual(oracle.version(self.TWINS), oracle.version(dict(self.TWINS)))


class HarnessTest(unittest.TestCase):
    """The Scala harness fingerprints rows exactly as digest.py does, and
    its self time is duration minus the union its children cover."""

    @classmethod
    def setUpClass(cls):
        try:
            jars = build.spark_jars()
        except build.BuildError as e:
            raise unittest.SkipTest(str(e))
        os.makedirs(BUILD, exist_ok=True)
        classes = build.build(ROOT, BUILD)
        with tempfile.TemporaryDirectory(dir=BUILD) as t:
            out = os.path.join(t, "selftest.json")
            subprocess.run(["java", "-Duser.timezone=UTC", "-cp",
                            classes + ":" + ":".join(jars), "graftbench.SelfTest", out],
                           check=True, timeout=120)
            with open(out) as f:
                cls.res = json.load(f)

    def test_digests_agree(self):
        self.assertEqual(self.res["texts"], [digest.row_text(r) for r in ROWS])
        self.assertEqual(self.res["ordered"], digest.of_rows(ROWS, True))
        self.assertEqual(self.res["unordered"], digest.of_rows(ROWS, False))

    def test_intervals_and_self_time(self):
        self.assertEqual(self.res["union"], 30)
        self.assertEqual(self.res["covered"], 9)
        # op [0,100) with call [10,40) and drive [30,90): children cover 80
        self.assertEqual(self.res["self"], [20, 30, 60])


class GeneratorTest(unittest.TestCase):
    def test_determinism_and_stated_properties(self):
        os.makedirs(BUILD, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=BUILD) as t:
            self.assertEqual(selfcheck.selfcheck(11, os.path.join(t, "g")), [])


if __name__ == "__main__":
    unittest.main()
