"""Self-tests of the benchmark's result fingerprints.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

`test_canonical_forms` is instant. `test_agrees_with_check_oracle` builds
the benchmark if needed, generates an sf0.001 fixture, runs every
registered query once through `perfbench.QueryMix --dump`, and checks that
the Spark-side fingerprint equals the DuckDB oracle's exactly where
`tools/check_oracle.py`'s comparison of the same results passes (a few
minutes).
"""
import datetime as dt
import decimal
import importlib.util
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import fixture  # noqa: E402
import oracle  # noqa: E402

# the table PerfbenchSpec.scala checks Fingerprint.canon against
CANON_CASES = [
    (None, "n"), (True, "b1"), (7, "i7"), (-7, "i-7"), (1.5, "f3ff8000000000000"),
    (float.fromhex("0x1.99999ap-4"), "f3fb99999a0000000"), (-0.0, "f0"),
    (float("nan"), "fnan"), (decimal.Decimal("1.20"), "d1.20"), ("héllo", "s6:héllo"),
    (dt.datetime(2024, 1, 2, 3, 4, 5, 6), "t1704164645000006"),
    (dt.date(2024, 1, 2), "D19724"), ([1, None], "[i1,n]"), ({"a": "a", "b": 2}, "{s1:a,i2}"),
]


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleTest(unittest.TestCase):

    def test_canonical_forms(self):
        for value, want in CANON_CASES:
            self.assertEqual(oracle.canon(value), want, repr(value))

    def test_fingerprint_ignores_row_order(self):
        rows = [(1, "x"), (2, "y")]
        fp = oracle.fingerprint(["k", "v"], rows)
        self.assertEqual(oracle.fingerprint(["k", "v"], rows[::-1]), fp)
        self.assertEqual(oracle.fingerprint(["v", "k"], [(v, k) for k, v in rows]), fp)
        self.assertNotEqual(oracle.fingerprint(["k", "v"], [(1, "x"), (2, "z")]), fp)

    def test_agrees_with_check_oracle(self):
        import run
        check_oracle = load_check_oracle()
        cp = run.classpath()
        with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
            data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
            fixture.write(data, 7, 0.001)
            sql_path = os.path.join(tmp, "oracle_sql.json")
            java = ["java", "-Xmx2g", *run.JAVA_OPENS, "-cp", cp, "perfbench.QueryMix"]
            subprocess.run(java + ["--oracle-sql", sql_path], check=True)
            subprocess.run(java + ["--dump", out, "--data", data, "--work", tmp],
                           check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            import json
            with open(sql_path) as f:
                sql = json.load(f)
            with open(os.path.join(out, "fingerprints.tsv")) as f:
                spark_fp = dict(line.rstrip("\n").split("\t", 1) for line in f)
            con = oracle.connect(data)
            disagree, passed, failing = [], 0, []
            for name in sorted(sql):
                duck = con.sql(sql[name])
                d_cols, d_rows = duck.columns, duck.fetchall()
                spark = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'")
                s_canon = check_oracle.canon(spark.columns, spark.fetchall())
                check_pass = s_canon == check_oracle.canon(d_cols, d_rows)
                fp_pass = spark_fp.get(name) == oracle.fingerprint(d_cols, d_rows)
                passed += check_pass
                if not check_pass:
                    failing.append(name)
                if check_pass != fp_pass:
                    disagree.append((name, check_pass, fp_pass))
            print(f"\n{passed}/{len(sql)} queries pass check_oracle on the generated sf0.001 fixture"
                  f" (not: {', '.join(failing) or 'none'})", file=sys.stderr)
            self.assertEqual(disagree, [], f"{passed}/{len(sql)} pass check_oracle")


if __name__ == "__main__":
    unittest.main()
