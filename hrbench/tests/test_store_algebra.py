"""The expected-answer algebra of the snapshot-store plan."""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_store  # noqa: E402
from gen_store import digest, expected  # noqa: E402

A, B, C, D = ("00000000000a", 1), ("00000000000b", 2), ("00000000000c", 3), \
    ("00000000000d", 4)


class StoreAlgebra(unittest.TestCase):
    def test_hand_built_plan(self):
        data = {"base": [A, B], "inc": [B, C, C, D], "dead": [A, C]}
        plan = [{"op": "init", "data": "base"},          # 0
                {"op": "compact", "data": "inc"},         # 1
                {"op": "stage_deletes", "data": "dead"},  # 2
                {"op": "read_mor"},                       # 3
                {"op": "read"},                           # 4
                {"op": "retract", "data": "dead"},        # 5
                {"op": "read"},                           # 6
                {"op": "read_at", "at_op": 0},            # 7
                {"op": "diff", "from_op": 0},             # 8
                {"op": "vacuum"}]                         # 9
        exp = expected(data, plan)
        # keep-first: B is live already, C repeats inside the increment
        self.assertEqual(exp[1], {"admitted": 2})
        self.assertEqual(exp[3], {"digest": digest({B, D})})
        # staged deletes are invisible to the physical read
        self.assertEqual(exp[4], {"digest": digest({A, B, C, D})})
        self.assertEqual(exp[5], {"removed": 2})
        self.assertEqual(exp[6], {"digest": digest({B, D})})
        self.assertEqual(exp[7], {"digest": digest({A, B})})
        self.assertEqual(exp[8], {"added": digest({D}), "removed": digest({A})})
        self.assertEqual(exp[9], {})

    def test_digest_is_order_insensitive_and_sensitive_to_content(self):
        self.assertEqual(digest([A, B, C]), digest([C, A, B]))
        self.assertNotEqual(digest([A, B]), digest([A, C]))
        self.assertEqual(digest([]), [0, 0, 0])

    def test_generated_plan_invariants(self):
        data, plan = gen_store.generate(11)
        exp = expected(data, plan)
        compacts = [e for s, e in zip(plan, exp) if s["op"] == "compact"]
        for s, e in zip([s for s in plan if s["op"] == "compact"], compacts):
            share = 1 - e["admitted"] / len(data[s["data"]])
            self.assertAlmostEqual(share, gen_store.DUP_SHARE /
                                   (1 + gen_store.DUP_SHARE), delta=0.01)
        for s, e in zip(plan, exp):
            if s["op"] == "retract":
                self.assertEqual(e["removed"], len(data[s["data"]]))
            if s["op"] == "diff":
                # deletes of keys the wide increment admitted after the
                # diff's base version net out of the change feed
                self.assertLess(0, e["removed"][0])
                self.assertLessEqual(e["removed"][0], len(data["dead"]))
        last_read = [e for s, e in zip(plan, exp) if s["op"] == "read"][-1]
        self.assertGreater(last_read["digest"][0], gen_store.BASE_ROWS)


if __name__ == "__main__":
    unittest.main()
