"""The inventory tables are a pure function of the seed."""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_tables  # noqa: E402


def digests(d):
    out = {}
    for name in gen_tables.TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


class GenTablesTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            ca = gen_tables.write(a, 7, scale=0.002)
            cb = gen_tables.write(b, 7, scale=0.002)
            cc = gen_tables.write(c, 8, scale=0.002)
            self.assertEqual(digests(a), digests(b))
            self.assertEqual(ca, cb)
            self.assertEqual(ca, cc)  # row counts follow the scale only
            da, dc = digests(a), digests(c)
            changed = [n for n in gen_tables.TABLES if da[n] != dc[n]]
            # region and nation are fixed dimension tables
            self.assertEqual(sorted(changed),
                             sorted(set(gen_tables.TABLES) - {"region", "nation"}))


if __name__ == "__main__":
    unittest.main()
