"""Tests of the hypercube output check on the smallest generated input:
it accepts the true output and rejects two corruptions of it.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import check
import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class HypercubeCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        state = os.path.join(ROOT, ".perfbench")
        os.makedirs(state, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=state)
        gen.write_hypercube(cls.tmp.name, seed=0, n_clients=20, n_contracts=40,
                            n_invoices=2000)
        cls.expected = check.hypercube_expected(cls.tmp.name)
        # the engine's output: one CSV file, amount printed with 2 decimals
        out = os.path.join(cls.tmp.name, "out")
        os.makedirs(out)
        cls.expected.assign(amount=cls.expected["amount"].round(2)).to_csv(
            os.path.join(out, "part-00000.csv"), index=False)
        cls.output = check.read_csv_output(out)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_accepts_true_output(self):
        self.assertGreater(len(self.output), 100)
        self.assertIsNone(check.check_hypercube(self.output, self.expected))

    def test_rejects_changed_ninvoices(self):
        bad = self.output.copy()
        bad.loc[len(bad) // 2, "ninvoices"] += 1
        self.assertIn("ninvoices", check.check_hypercube(bad, self.expected))

    def test_rejects_swapped_rows(self):
        bad = self.output.copy()
        i = len(bad) // 3
        bad.iloc[[i, i + 1]] = bad.iloc[[i + 1, i]].to_numpy()
        self.assertIsNotNone(check.check_hypercube(bad, self.expected))

    def test_rejects_amount_off_by_more_than_a_cent(self):
        bad = self.output.copy()
        bad.loc[0, "amount"] += 0.02
        self.assertIn("amount", check.check_hypercube(bad, self.expected))


if __name__ == "__main__":
    unittest.main()
