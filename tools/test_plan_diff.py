"""Self-test for plan_diff.py on two small synthetic Explain outputs.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

BEFORE = """[info] running (fork) graft.tools.Explain q1 q2
========== q1 ==========

---------- checkpointed segment 1 ----------
* Project (2)
+- Scan parquet  (1)
Output [2]: [sid#12L, value#13]
Location: InMemoryFileIndex [file:/tmp/graft_x123/prices.parquet]

---------- final plan ----------
* Scan ExistingRDD (1)
Arguments: [sid#40L], MapPartitionsRDD[77] at localCheckpoint at Checkpoint.scala:78
26/10/19 21:43:13 ERROR DAGScheduler: Failed to update accumulator 24713
org.apache.spark.SparkException: attempted to access non-existent accumulator 24713
	at org.apache.spark.scheduler.DAGScheduler.updateAccumulators(DAGScheduler.scala:1801)
	... 3 more
========== q2 ==========
Exchange (3)
Arguments: hashpartitioning(sid#5L, 4), ENSURE_REQUIREMENTS, [plan_id=101]
Output [1]: [round((value#6 * 1.0E12), 0) AS __p#7]
exit 0
"""

# same plans, other ids, call-site lines, temp dir and log noise
RENUMBERED = """========== q1 ==========

---------- checkpointed segment 1 ----------
* Project (2)
+- Scan parquet  (1)
Output [2]: [sid#112L, value#113]
Location: InMemoryFileIndex [file:/tmp/graft_y999/prices.parquet]
26/10/19 22:01:02 INFO SparkContext: Running Spark version 4.1.2

---------- final plan ----------
* Scan ExistingRDD (1)
Arguments: [sid#140L], MapPartitionsRDD[12] at localCheckpoint at Checkpoint.scala:81
========== q2 ==========
Exchange (3)
Arguments: hashpartitioning(sid#9L, 4), ENSURE_REQUIREMENTS, [plan_id=7]
Output [1]: [round((value#10 * 1.0E12), 0) AS __p#11]
"""


class PlanDiffTest(unittest.TestCase):

    def test_renumbered_plans_are_identical(self):
        report, failed = plan_diff.compare(BEFORE, RENUMBERED)
        self.assertFalse(failed, '\n'.join(report))
        self.assertEqual(report[:2], ['identical  q1', 'identical  q2'])

    def test_a_changed_expression_is_reported_and_fails(self):
        changed = RENUMBERED.replace('(value#10 * 1.0E12), 0)', '(value#10 * 1000000.0), 0)')
        report, failed = plan_diff.compare(BEFORE, changed)
        self.assertTrue(failed)
        self.assertIn('identical  q1', report)
        self.assertIn('DIFFERENT  q2', report)
        self.assertIn('+Output [1]: [round((value#N * 1000000.0), 0) AS __p#N]', report)

    def test_a_changed_segment_is_reported(self):
        changed = RENUMBERED.replace('+- Scan parquet  (1)', '+- Filter (3)\n+- Scan parquet  (1)')
        report, failed = plan_diff.compare(BEFORE, changed)
        self.assertTrue(failed)
        self.assertIn('DIFFERENT  q1', report)

    def test_allow_lets_a_named_query_differ(self):
        changed = RENUMBERED.replace('ENSURE_REQUIREMENTS', 'REPARTITION_BY_NUM')
        report, failed = plan_diff.compare(BEFORE, changed, allow={'q2'})
        self.assertFalse(failed)
        self.assertIn('DIFFERENT  q2 (allowed)', report)

    def test_a_query_on_one_side_only_fails(self):
        report, failed = plan_diff.compare(BEFORE, RENUMBERED.split('========== q2')[0])
        self.assertTrue(failed)
        self.assertIn('ONLY-BEFORE  q2', report)


if __name__ == '__main__':
    unittest.main()
