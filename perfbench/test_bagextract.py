"""Tests of the BAG extract generator, at a small size.

  python3 perfbench/test_bagextract.py

Run from the root of a checkout; the first run builds the harness (for the
BAG table specs) as run.py does.
"""
import copy
import csv
import filecmp
import os
import tempfile
import unittest

import run
import bagextract

N = 1000
SEED = 7
TABLES = run.BAG_TABLES

# Expected counts at N=1000, seed 7: (input, loaded, rejected, ragged) per
# table and phase. Planted: 1 row per defect kind and table at this size.
PINNED = {
    "woonplaats": {"load": (8, 4, 3, 1), "reimport": (8, 0, 3, 1)},
    "openbare_ruimte": {"load": (21, 15, 5, 1), "reimport": (24, 18, 5, 1)},
    "pand": {"load": (385, 381, 3, 1), "reimport": (394, 390, 3, 1)},
}


def read(path):
    with open(path, encoding="utf-8-sig", newline="") as f:
        return list(csv.reader(f, delimiter=";", quotechar='"'))


class BagExtractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        _, cls.specs = run.build()
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        cls.out = os.path.join(cls.tmp.name, "run")
        bagextract.generate_base(cls.specs, N, cls.base)
        cls.expected = bagextract.generate(cls.specs, TABLES, SEED, N, cls.out, cls.base,
                                           run.ABORT_TABLE)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def spec(self, name):
        return next(s for s in self.specs if s["name"] == name)

    def path(self, phase, name):
        s = self.spec(name)
        return os.path.join(self.out, phase, f"{s['gob']}_{name}_ActueelEnHistorie.csv")

    def test_pinned_counts(self):
        got = {t: {ph: (e[ph]["input"], e[ph]["loaded"], e[ph]["rejected"], e[ph]["ragged"])
                   for ph in ("load", "reimport")}
               for t, e in self.expected["tables"].items()}
        self.assertEqual(got, PINNED)

    def test_gob_dialect_and_spec_headers(self):
        for name in TABLES:
            for phase in ("load", "reimport"):
                with open(self.path(phase, name), "rb") as f:
                    self.assertTrue(f.read(3) == b"\xef\xbb\xbf", "BOM")
                rows = read(self.path(phase, name))
                self.assertEqual(rows[0], [src for src, _ in self.spec(name)["columns"]])
                self.assertEqual(len(rows) - 1, self.expected["tables"][name][phase]["input"])

    def test_ragged_rows_are_the_planted_ones(self):
        for name in TABLES:
            rows = read(self.path("load", name))
            ragged = sum(len(r) != len(rows[0]) for r in rows[1:])
            self.assertEqual(ragged, self.expected["tables"][name]["load"]["ragged"])

    def test_quoting_round_trips_the_delimiter(self):
        rows = read(self.path("load", "openbare_ruimte"))
        naam = rows[0].index("naam")
        self.assertTrue(any(";" in r[naam] for r in rows[1:] if len(r) == len(rows[0])))

    def test_reimport_deletes_only_in_the_abort_table(self):
        base_dir = os.path.join(self.base, "extract")
        for name in TABLES:
            spec = self.spec(name)
            base = read(os.path.join(base_dir, f"{spec['gob']}_{name}_ActueelEnHistorie.csv"))
            again = read(self.path("reimport", name))
            key = lambda r: (r[0], r[1])  # identificatie, volgnummer
            missing = {key(r) for r in base[1:]} - {key(r) for r in again[1:]}
            self.assertEqual(len(missing), 1 if name == run.ABORT_TABLE else 0, name)

    def test_deterministic(self):
        other = os.path.join(self.tmp.name, "again")
        bagextract.generate(self.specs, TABLES, SEED, N, other, self.base, run.ABORT_TABLE)
        for phase in ("load", "reimport"):
            for name in TABLES:
                self.assertTrue(filecmp.cmp(self.path(phase, name), os.path.join(
                    other, phase, os.path.basename(self.path(phase, name))), shallow=False))

    def test_spec_drift_fails_loudly(self):
        specs = copy.deepcopy(self.specs)
        next(s for s in specs if s["name"] == "pand")["columns"].append(["bouwjaar", "bouwjaar"])
        with self.assertRaisesRegex(ValueError, "bouwjaar"):
            bagextract.generate(specs, ["pand"], SEED, N, os.path.join(self.tmp.name, "drift"),
                                self.base, run.ABORT_TABLE)


if __name__ == "__main__":
    unittest.main()
