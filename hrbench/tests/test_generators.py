"""Generator determinism: the same seed gives identical inputs, another
seed gives different ones."""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_corpus  # noqa: E402
import gen_hr  # noqa: E402
import gen_store  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def path(self, name):
        return os.path.join(self.tmp, name)

    def test_hr_same_seed_same_inputs(self):
        a = gen_hr.generate(5, self.path("a"))
        b = gen_hr.generate(5, self.path("b"))
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))
        self.assertEqual(a, b)

    def test_hr_other_seed_other_inputs(self):
        gen_hr.generate(5, self.path("a"))
        gen_hr.generate(6, self.path("b"))
        self.assertNotEqual(tree_digest(self.path("a")),
                            tree_digest(self.path("b")))

    def test_hr_planted_counts_add_up(self):
        e = gen_hr.generate(9, self.path("a"))
        p = e["planted"]
        self.assertEqual(e["dq_stats"], [23, 20, 3])
        self.assertEqual(sum(c[3] for c in e["checks"]),
                         p["orphan_dept_keys"] + p["orphan_employee_keys"]
                         + p["orphan_project_keys"])
        with open(self.path("a/employees.csv")) as f:
            n_emp = sum(1 for _ in f) - 1
        self.assertEqual(e["rows_out"]["dim_employees"],
                         n_emp - p["inactive"] - p["zero_salary"])

    def test_store_same_seed_same_inputs(self):
        self.assertEqual(gen_store.generate(3), gen_store.generate(3))
        gen_store.generate(3, self.path("a"))
        gen_store.generate(3, self.path("b"))
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))

    def test_store_other_seed_other_inputs(self):
        self.assertNotEqual(gen_store.generate(3)[0], gen_store.generate(4)[0])

    def test_corpus_is_fixed(self):
        gen_corpus.generate(self.path("a"))
        gen_corpus.generate(self.path("b"))
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))


if __name__ == "__main__":
    unittest.main()
