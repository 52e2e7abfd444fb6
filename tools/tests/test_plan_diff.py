"""tools/plan_diff.py on canned ExplainDump plans (no JVM).

Run from the repository root:

    python3 -m unittest discover -s tools/tests -v
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True
import plan_diff  # noqa: E402

PARENT = """# Physical plans (generated by graft.tools.ExplainDump, sf dir: x)

## q_join

```
ResultQueryStage 5
+- *(7) Project [id_a#6030L, id_b#6031L, 1.0 AS est_jaccard#6078]
   +- *(7) ShuffledHashJoin [__dig_a#6069], [__dig_b#6071], Inner, BuildRight
      :- ShuffleQueryStage 4
      :  +- Exchange hashpartitioning(__dig_a#6069, 4), ENSURE_REQUIREMENTS, [plan_id=10490]
      :     +- Generate explode(transform(ids#6019, lambdafunction(struct(x_27#6026, y_28#6027), lambda y_28#6027)))
      +- *(3) Scan ExistingRDD[id#6075L,sig#6076,__dig#6077]
```

## q_scan

```
*(1) Filter array_contains([1,2], k#4)
+- *(1) Project [UnsafeArrayData@f1dd012b AS c#5]
   +- MapPartitions graft.operators.Packing$$$Lambda$8598/0x00007f3885a8b0d0@2cf4dd07, obj#7
   +- FileScan parquet [k#4] Location: InMemoryFileIndex(1 paths)[file:/tmp/graft_export93721/t, PartitionFilters: []
```
"""

# the same plans from another run: every id, stage, codegen id, plan id,
# lambda counter, hash code and temp path differs
RERUN = """# Physical plans (generated by graft.tools.ExplainDump, sf dir: x)

## q_join

```
ResultQueryStage 9
+- *(12) Project [id_a#130L, id_b#131L, 1.0 AS est_jaccard#178]
   +- *(12) ShuffledHashJoin [__dig_a#169], [__dig_b#171], Inner, BuildRight
      :- ShuffleQueryStage 7
      :  +- Exchange hashpartitioning(__dig_a#169, 4), ENSURE_REQUIREMENTS, [plan_id=77]
      :     +- Generate explode(transform(ids#119, lambdafunction(struct(x_3#126, y_4#127), lambda y_4#127)))
      +- *(1) Scan ExistingRDD[id#175L,sig#176,__dig#177]
```

## q_scan

```
*(4) Filter array_contains([1,2], k#40)
+- *(4) Project [UnsafeArrayData@9a0c1 AS c#51]
   +- MapPartitions graft.operators.Packing$$$Lambda$8519/0x00007f6a79ef4940@1b2, obj#70
   +- FileScan parquet [k#40] Location: InMemoryFileIndex(1 paths)[file:/tmp/graft_export11/t, PartitionFilters: []
```
"""

# a distinct aggregate as Spark plans it: three distinct groups (s, k, c)
# numbered by `gid`, their columns laid out before it
PROFILE = """## q_profile

```
*(3) HashAggregate(keys=[], functions=[first(count(1)#20L, true), count(k#11L), count(c#12L), count(s#10)], output=[n#30L, dk#31L, dc#32L, ds#33L])
+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
   +- *(2) HashAggregate(keys=[], functions=[partial_first(count(1)#20L, true) FILTER (WHERE (gid#9 = 0)), partial_count(k#11L) FILTER (WHERE (gid#9 = 2)), partial_count(c#12L) FILTER (WHERE (gid#9 = 3)), partial_count(s#10) FILTER (WHERE (gid#9 = 1))], output=[first#40L, valueSet#41, count#42L, count#43L, count#44L])
      +- *(2) HashAggregate(keys=[s#10, k#11L, c#12L, gid#9], functions=[count(1)], output=[s#10, k#11L, c#12L, gid#9, count(1)#20L])
         +- Exchange hashpartitioning(s#10, k#11L, c#12L, gid#9, 4), ENSURE_REQUIREMENTS, [plan_id=5]
            +- *(1) Expand [[null, null, null, 0, k#2L], [s#1, null, null, 1, null], [null, k#2L, null, 2, null], [null, null, c#3L, 3, null]], [s#10, k#11L, c#12L, gid#9, k#13L]
               +- FileScan parquet [k#2L,c#3L,s#1] Batched: true, ReadSchema: struct<k:bigint,c:bigint,s:string>
```
"""

# the same query after one more expression id was allocated upstream:
# Spark numbers the groups and lays out their columns in another order
PROFILE_SHIFTED = """## q_profile

```
*(3) HashAggregate(keys=[], functions=[first(count(1)#21L, true), count(k#12L), count(c#13L), count(s#11)], output=[n#31L, dk#32L, dc#33L, ds#34L])
+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=8]
   +- *(2) HashAggregate(keys=[], functions=[partial_first(count(1)#21L, true) FILTER (WHERE (gid#10 = 0)), partial_count(k#12L) FILTER (WHERE (gid#10 = 1)), partial_count(c#13L) FILTER (WHERE (gid#10 = 2)), partial_count(s#11) FILTER (WHERE (gid#10 = 3))], output=[first#41L, valueSet#42, count#43L, count#44L, count#45L])
      +- *(2) HashAggregate(keys=[k#12L, c#13L, s#11, gid#10], functions=[count(1)], output=[k#12L, c#13L, s#11, gid#10, count(1)#21L])
         +- Exchange hashpartitioning(k#12L, c#13L, s#11, gid#10, 4), ENSURE_REQUIREMENTS, [plan_id=6]
            +- *(1) Expand [[null, null, null, 0, k#3L], [k#3L, null, null, 1, null], [null, c#4L, null, 2, null], [null, null, s#2, 3, null]], [k#12L, c#13L, s#11, gid#10, k#14L]
               +- FileScan parquet [k#3L,c#4L,s#2] Batched: true, ReadSchema: struct<k:bigint,c:bigint,s:string>
```
"""


def run(parent_text, change_text):
    with tempfile.TemporaryDirectory() as d:
        a = os.path.join(d, "a.md")
        b = os.path.join(d, "b.md")
        with open(a, "w") as f:
            f.write(parent_text)
        with open(b, "w") as f:
            f.write(change_text)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plan_diff.main(["plan_diff.py", a, b])
        return code, out.getvalue()


class PlanDiff(unittest.TestCase):

    def test_rerun_noise_normalizes_away(self):
        code, out = run(PARENT, RERUN)
        self.assertEqual(code, 0, out)
        self.assertIn("0 of 2 queries differ", out)

    def test_moved_join_is_reported(self):
        change = RERUN.replace("ShuffledHashJoin", "SortMergeJoin")
        code, out = run(PARENT, change)
        self.assertEqual(code, 1)
        self.assertIn("## q_join", out)
        self.assertNotIn("## q_scan", out)
        self.assertIn("-   +- *(N) ShuffledHashJoin", out)
        self.assertIn("+   +- *(N) SortMergeJoin", out)

    def test_field_rename_is_reported(self):
        change = RERUN.replace("1.0 AS est_jaccard", "1.0 AS est")
        code, out = run(PARENT, change)
        self.assertEqual(code, 1)
        self.assertIn("1 of 2 queries differ", out)

    def test_missing_query_is_reported(self):
        change = RERUN[:RERUN.index("## q_scan")]
        code, out = run(PARENT, change)
        self.assertEqual(code, 1)
        self.assertIn("(missing in change)", out)

    def test_cut_lines_compare_on_common_prefix(self):
        # ExplainDump cuts at 157 characters: shorter ids leave more text
        # before the cut, which must not count as a difference
        a = ["+- Project [a#1234567, b#1234568, c#1234569, d#12..."]
        b = ["+- Project [a#1, b#2, c#3, d#4, e#5..."]
        a2, b2 = plan_diff.align_cut_lines(
            [plan_diff.normalize_line(x) for x in a],
            [plan_diff.normalize_line(x) for x in b])
        self.assertEqual(a2, b2)
        # but a difference inside the common prefix still shows
        c = ["+- Project [a#1, z#2, c#3, d#4, e#5..."]
        a3, c3 = plan_diff.align_cut_lines(
            [plan_diff.normalize_line(x) for x in a],
            [plan_diff.normalize_line(x) for x in c])
        self.assertNotEqual(a3, c3)

    def test_a_cut_line_compares_with_a_whole_one_on_its_prefix(self):
        # a dump of older code holds the cut line, a newer dump the whole
        cut = ["+- Project [a#1234567, b#1234568, c#1234569, d#12..."]
        whole = ["+- Project [a#1, b#2, c#3, d#4, e#5, f#6]"]
        a2, b2 = plan_diff.align_cut_lines(
            [plan_diff.normalize_line(x) for x in cut],
            [plan_diff.normalize_line(x) for x in whole])
        self.assertEqual(a2, b2)
        # a cut inside a temp path keeps its cut mark
        cut_tmp = ["+- FileScan parquet [] Location: InMemoryFileIndex[file:/tmp/x12/t.parq..."]
        whole_tmp = ["+- FileScan parquet [] Location: InMemoryFileIndex[file:/tmp/y3/t.parquet], "
                     "PartitionFilters: []"]
        a4, b4 = plan_diff.align_cut_lines(
            [plan_diff.normalize_line(x) for x in cut_tmp],
            [plan_diff.normalize_line(x) for x in whole_tmp])
        self.assertEqual(a4, b4)
        # a whole line that ends inside the cut prefix still differs
        short = ["+- Project [a#1]"]
        a3, s3 = plan_diff.align_cut_lines(
            [plan_diff.normalize_line(x) for x in cut],
            [plan_diff.normalize_line(x) for x in short])
        self.assertNotEqual(a3, s3)

    def test_a_field_list_cut_compares_as_a_cut(self):
        # Spark's maxToStringFields cut in the parent's dump, whole fields
        # in the change's
        cut = ["HashAggregate(keys=[k#1], functions=[min(pmod((a#2 + b#3), 7)), "
               "max(c#4), ... 2 more fields], output=[k#1, m#9])"]
        whole = ["HashAggregate(keys=[k#10], functions=[min(pmod((a#20 + b#30), 7)), "
                 "max(c#40), count(1), sum(pmod(d#50, 3))], output=[k#10, m#90])"]
        norm = lambda ls: [plan_diff.normalize_line(x) for x in ls]  # noqa: E731
        a, b = plan_diff.align_field_cuts(norm(cut), norm(whole))
        self.assertEqual(a, b)
        code, _ = run("## q\n\n```\n" + cut[0] + "\n```\n",
                      "## q\n\n```\n" + whole[0] + "\n```\n")
        self.assertEqual(code, 0)
        # a changed shown field, or a hidden count that does not match,
        # still differs
        shown = [whole[0].replace("max(c#40)", "min(c#40)")]
        self.assertNotEqual(*plan_diff.align_field_cuts(norm(cut), norm(shown)))
        extra = [whole[0].replace("count(1), ", "count(1), avg(e#6), ")]
        self.assertNotEqual(*plan_diff.align_field_cuts(norm(cut), norm(extra)))
        code, out = run("## q\n\n```\n" + cut[0] + "\n```\n",
                        "## q\n\n```\n" + extra[0] + "\n```\n")
        self.assertEqual(code, 1)
        self.assertIn("1 of 1 queries differ", out)

    def test_an_extra_upstream_id_leaves_q_profile_equal(self):
        code, out = run(PROFILE, PROFILE_SHIFTED)
        self.assertEqual(code, 0, out)
        self.assertIn("0 of 1 queries differ", out)

    def test_a_changed_distinct_aggregate_still_differs(self):
        # count(c) now reads the group of s
        wrong = PROFILE_SHIFTED.replace("partial_count(c#13L) FILTER (WHERE (gid#10 = 2))",
                                        "partial_count(c#13L) FILTER (WHERE (gid#10 = 3))")
        code, out = run(PROFILE, wrong)
        self.assertEqual(code, 1)
        self.assertIn("## q_profile", out)
        # a group dropped from the Expand
        dropped = PROFILE_SHIFTED.replace(", [null, null, s#2, 3, null]", "")
        code, _ = run(PROFILE, dropped)
        self.assertEqual(code, 1)

    def test_dates_in_table_names_are_kept(self):
        self.assertEqual(
            plan_diff.normalize_line("BatchScan t.orders@20240501T060000Z[o#3]"),
            "BatchScan t.orders@20240501T060000Z[o#]")


if __name__ == "__main__":
    unittest.main()
