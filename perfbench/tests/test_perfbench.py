"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import random
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import reference  # noqa: E402
import rulegen  # noqa: E402
import spans  # noqa: E402


class RuleGeneratorTest(unittest.TestCase):
    def test_same_seed_same_rules(self):
        self.assertEqual(rulegen.generate(7, 50), rulegen.generate(7, 50))
        self.assertNotEqual(rulegen.generate(7, 50), rulegen.generate(8, 50))

    def test_cost_shape_does_not_depend_on_the_seed(self):
        def shape(rules):
            return (len(rules), sum(len(r["actions"]) for r in rules),
                    sum(") AND (" in r["condition"] or ") OR (" in r["condition"] for r in rules))
        self.assertEqual(len({shape(rulegen.generate(s, 50)) for s in range(20)}), 1)

    def test_rules_are_well_formed(self):
        for r in rulegen.generate(3, 500):
            keys = [a["key"] for a in r["actions"]]
            self.assertTrue(1 <= len(keys) <= 3)
            self.assertEqual(len(keys), len(set(keys)))
            self.assertTrue(set(keys) <= set(rulegen.ACTION_COLUMNS))

    def test_rewritten_read_share(self):
        rules = [{"condition": "l_tax > 0", "actions": [{"key": "l_quantity", "value": "1.0"}]},
                 {"condition": "l_quantity > 3", "actions": [{"key": "l_tax", "value": "0.01"}]},
                 {"condition": "l_orderkey < 5", "actions": [{"key": "l_tax", "value": "0.02"}]}]
        self.assertAlmostEqual(rulegen.rewritten_read_share(rules), 1 / 3)


def rule(name, condition, *actions, version="v1"):
    return {"name": name, "version": version, "condition": condition,
            "actions": [{"key": k, "value": v} for k, v in actions]}


class RendererTest(unittest.TestCase):
    """The DuckDB renderer against the outcomes `SparkPlugSpec` pins for
    `SparkPlug` on the reference's canonical rows and rules (FIXTURES.md §A)."""

    TYPES = {"title": "string", "brand": "string", "price": "int"}

    def plug(self, rules, audit=False):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "rows.parquet")
            pq.write_table(pa.table({"title": ["iPhone", "Galaxy"], "brand": ["Apple", "Samsung"],
                                     "price": pa.array([300, 200], type=pa.int32())}), path)
            con = duckdb.connect()
            reference.plug_reference(con, path, rules, self.TYPES, audit)
            cols = "title, brand, price" + (", plugDetails" if audit else "")
            return con.execute(f"SELECT {cols} FROM ref ORDER BY title").fetchall()

    def test_canonical_rules_file(self):
        rules = [rule("rule1", "title like '%iPhone%'", ("title", "Apple iPhone")),
                 rule("rule2", "title like '%Galaxy%'", ("title", "Samsung Galaxy"))]
        self.assertEqual(self.plug(rules), [("Apple iPhone", "Apple", 300),
                                            ("Samsung Galaxy", "Samsung", 200)])

    def test_rules_apply_sequentially(self):
        rules = [rule("rule1", "title like '%iPhone%'", ("title", "Apple iPhone"), ("price", "1000")),
                 rule("rule2", "title = 'Apple iPhone'", ("brand", "Apple Inc"))]
        self.assertEqual(self.plug(rules), [("Apple iPhone", "Apple Inc", 1000),
                                            ("Galaxy", "Samsung", 200)])

    def test_backtick_value_is_sql(self):
        rules = [rule("rule1", "title like '%iPhone%'", ("title", "`concat(brand, ' ', title)`"))]
        self.assertEqual(self.plug(rules)[0][0], "Apple iPhone")

    def test_audit_only_for_changed_rows(self):
        rules = [rule("rule1", "title like '%iPhone%'", ("price", "1000")),
                 rule("rule2", "brand = 'Apple'", ("brand", "Apple"))]
        galaxy, iphone = self.plug(rules, audit=True)
        self.assertEqual(galaxy[3], [])
        self.assertEqual(iphone[3], [{"name": "rule1", "version": "v1", "fieldNames": ["price"]}])


class SpanArithmeticTest(unittest.TestCase):
    SPANS = [
        {"id": 1, "name": "pass", "parent": 0, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "plug.build", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "spark.job", "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "exec.action", "parent": 1, "start": 5.0, "end": 9.0},
        {"id": 5, "name": "spark.job", "parent": 4, "start": 5.5, "end": 8.0},
        {"id": 6, "name": "spark.job", "parent": 4, "start": 6.0, "end": 8.5},  # concurrent
        {"id": 7, "name": "spark.job", "parent": 0, "start": 9.2, "end": 9.5},  # no span
    ]

    def spans(self):
        return spans.attach_orphans([dict(s) for s in self.SPANS])

    def test_self_times(self):
        got = spans.self_times(self.spans())
        want = {1: 2.7, 2: 2.0, 3: 1.0, 4: 1.0, 5: 2.5, 6: 0.5, 7: 0.3}
        for k, v in want.items():
            self.assertAlmostEqual(got[k], v, msg=f"span {k}")

    def test_layers_add_up_to_the_pass(self):
        layers = spans.layer_self_times(self.spans(), 1)
        self.assertAlmostEqual(layers["harness"], 2.7)
        self.assertAlmostEqual(layers["plug"], 2.0)
        self.assertAlmostEqual(layers["exec"], 5.3)
        self.assertAlmostEqual(sum(layers.values()), 10.0)

    def test_union_length(self):
        self.assertAlmostEqual(spans.union_length([(5.5, 8.0), (2.0, 3.0), (6.0, 8.5)]), 4.0)
        self.assertEqual(spans.union_length([]), 0.0)

    def test_layer_names(self):
        self.assertEqual(spans.layer("mix.sim_pq_topk.build"), "mix.sim_pq_topk")
        self.assertEqual(spans.layer("mix.sim_pq_topk.plan"), "catalyst")
        self.assertEqual(spans.layer("mix.sim_pq_topk.exec"), "exec")
        self.assertEqual(spans.layer("codegen.compile"), "codegen")


class DigestTest(unittest.TestCase):
    ROWS = [(i, f"s{i % 7}", i * 0.25, [i, i + 1]) for i in range(200)]

    def digest(self, rows):
        con = duckdb.connect()
        con.execute("CREATE TABLE t (a BIGINT, b VARCHAR, c DOUBLE, d INTEGER[])")
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
        cols = [("a", "BIGINT"), ("b", "VARCHAR"), ("c", "DOUBLE"), ("d", "INTEGER[]")]
        return con.execute(reference.digest_sql("t", cols)).fetchone()

    def test_digest_is_order_independent(self):
        shuffled = list(self.ROWS)
        random.Random(1).shuffle(shuffled)
        self.assertEqual(self.digest(self.ROWS), self.digest(shuffled))

    def test_digest_sees_a_changed_value_and_a_duplicate(self):
        changed = list(self.ROWS)
        changed[5] = (5, "s5", 1.26, [5, 6])
        self.assertNotEqual(self.digest(self.ROWS), self.digest(changed))
        self.assertNotEqual(self.digest(self.ROWS), self.digest(self.ROWS + self.ROWS[:1]))

    def test_oracle_rows_compare_as_multisets(self):
        con = duckdb.connect()
        a = reference.rows_multiset(
            con, "SELECT * FROM (VALUES (2, 0.1::DOUBLE + 0.2::DOUBLE), (1, 0.5::DOUBLE)) t(y, x)")
        b = reference.rows_multiset(
            con, "SELECT * FROM (VALUES (0.5::DOUBLE, 1), (0.3::DOUBLE, 2)) t(x, y)")
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
