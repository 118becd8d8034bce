"""Pins tools/plan_shape.py: its id normalizers and its exit code.

Run from the repo root:
    python3 -m unittest discover -s tools/tests
"""

import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import plan_shape  # noqa: E402


def section(name, tree, details=""):
    return f"## {name}\n\n```\n== Physical Plan ==\n{tree}\n\n{details}```\n\n"


AGG = """AdaptiveSparkPlan (5)
+- HashAggregate (4)
   +- Exchange (3)
      +- HashAggregate (2)
         +- Scan parquet  (1)"""

AGG_DETAILS = """(3) Exchange
Input [1]: [user_id#17L]
Arguments: hashpartitioning(user_id#17L, 4), ENSURE_REQUIREMENTS, [plan_id=33]
"""

JOIN = """AdaptiveSparkPlan (6)
+- BroadcastNestedLoopJoin Cross BuildRight (5)
   :- Generate (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (4)
      +- InMemoryTableScan (3)"""


class NormalizeTest(unittest.TestCase):

    def test_expression_and_plan_ids(self):
        self.assertEqual(plan_shape.normalize("vec_id#123L, [id=7], [plan_id=33]"),
                         "vec_idL, , ")
        self.assertEqual(plan_shape.normalize("[id=#7]"), "[id=]")

    def test_rdd_ids_and_call_sites(self):
        self.assertEqual(
            plan_shape.normalize("MapPartitionsRDD[45] at Dedup.scala:554"),
            "MapPartitionsRDD[] at Dedup.scala")

    def test_lambda_names(self):
        self.assertEqual(plan_shape.normalize("lambda x_262"), "lambda x_")
        self.assertEqual(
            plan_shape.normalize("Similarity$$$Lambda$5496/0x7ff8a1@2b9b907e"),
            "Similarity$$$Lambda")

    def test_operator_ordinals_and_codegen_ids(self):
        self.assertEqual(plan_shape.normalize("+- Exchange (3)\n(3) Exchange\n"),
                         "+- Exchange (n)\n(n) Exchange\n")
        self.assertEqual(plan_shape.normalize("[codegen id : 12]"), "[codegen id : n]")

    def test_counts_read_the_tree_only(self):
        counts = plan_shape.operator_counts(section("q", JOIN, AGG_DETAILS))
        self.assertEqual(counts, {"Exchange": 0, "BroadcastExchange": 1,
                                  "Generate": 1, "InMemoryTableScan": 1,
                                  "BroadcastNestedLoopJoin": 1})


class ExitCodeTest(unittest.TestCase):

    def run_tool(self, before, after):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, text in (("before.md", before), ("after.md", after)):
                path = os.path.join(d, name)
                with open(path, "w", encoding="utf-8") as f:
                    f.write(text)
                paths.append(path)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = plan_shape.main(["plan_shape.py"] + paths)
        return code, out.getvalue()

    def test_only_ids_differ(self):
        before = section("a1", AGG, AGG_DETAILS) + section("s16", JOIN)
        after = (section("a1", AGG.replace("(3)", "(7)"),
                         AGG_DETAILS.replace("#17L", "#901L")
                         .replace("plan_id=33", "plan_id=4")) +
                 section("s16", JOIN))
        code, out = self.run_tool(before, after)
        self.assertEqual(code, 0, out)
        self.assertIn("2 queries, 0 with differing text, operator counts identical", out)

    def test_an_exchange_count_moves(self):
        moved = AGG.replace("+- Exchange (3)\n      +- HashAggregate (2)",
                            "+- Exchange (3)\n      +- Exchange (6)\n"
                            "         +- HashAggregate (2)")
        code, out = self.run_tool(section("a1", AGG), section("a1", moved))
        self.assertEqual(code, 1, out)
        self.assertIn("1->2", out)
        self.assertIn("COUNTS DIFFER", out)

    def test_a_query_is_missing(self):
        before = section("a1", AGG) + section("s16", JOIN)
        code, out = self.run_tool(before, section("a1", AGG))
        self.assertEqual(code, 1, out)
        self.assertIn("s16", out)
        self.assertIn("missing from after", out)

    def test_usage(self):
        with contextlib.redirect_stderr(io.StringIO()):
            self.assertEqual(plan_shape.main(["plan_shape.py"]), 2)


if __name__ == "__main__":
    unittest.main()
