"""The input generator: deterministic per seed; another seed changes the
layout (row order, file boundaries) but not the content; the copy scheme
keeps GenScale's properties."""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import gen  # noqa: E402

TINY = {
    "ingest": {"tables": ["lineitem", "orders", "events"], "copies": 2, "orders": 300,
               "events": 400},
    "analytics": {"tables": ["documents", "embeddings", "customer"], "copies": 3,
                  "documents": 80, "vectors": 40, "dim": 8, "customers": 10},
}


def files(d, table):
    p = os.path.join(d, f"{table}.parquet")
    return [os.path.join(p, f) for f in sorted(os.listdir(p))]


def rows(d, table):
    """All rows of a table as sorted tuples (content without layout)."""
    t = pq.read_table(os.path.join(d, f"{table}.parquet"))
    cols = [t[c].to_pylist() for c in t.column_names]
    return sorted(tuple(str(v) for v in r) for r in zip(*cols))


def order(d, table):
    key = pq.read_table(os.path.join(d, f"{table}.parquet")).column(0).to_pylist()
    return key, [pq.ParquetFile(f).metadata.num_rows for f in files(d, table)]


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.saved = gen.SCALES
        gen.SCALES = TINY
        os.makedirs(build.BUILD, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=build.BUILD)
        cls.dirs = {}
        for w in TINY:
            for seed in (1, 1, 2):
                d = os.path.join(cls.tmp.name, f"{w}-{seed}-{len(cls.dirs)}")
                gen.generate(w, seed, d)
                cls.dirs.setdefault((w, seed), []).append(d)

    @classmethod
    def tearDownClass(cls):
        gen.SCALES = cls.saved
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        for w, cfg in TINY.items():
            a, b = self.dirs[(w, 1)]
            for t in cfg["tables"]:
                fa, fb = files(a, t), files(b, t)
                self.assertEqual(len(fa), gen.FILES_PER_TABLE)
                for x, y in zip(fa, fb):
                    with open(x, "rb") as hx, open(y, "rb") as hy:
                        self.assertEqual(hx.read(), hy.read(), f"{w}/{t}")

    def test_other_seed_same_content_other_layout(self):
        for w, cfg in TINY.items():
            a, b = self.dirs[(w, 1)][0], self.dirs[(w, 2)][0]
            for t in cfg["tables"]:
                self.assertEqual(rows(a, t), rows(b, t), f"{w}/{t} content")
                self.assertNotEqual(order(a, t), order(b, t), f"{w}/{t} layout")

    def test_copies_offset_keys_by_span(self):
        d = self.dirs[("analytics", 1)][0]
        keys = sorted(int(r[0]) for r in rows(d, "customer"))
        self.assertEqual(keys, list(range(30)))  # three copies of 0..9, span 10

        d = self.dirs[("ingest", 1)][0]
        orders = {int(r[0]) for r in rows(d, "orders")}
        li = pq.read_table(os.path.join(d, "lineitem.parquet"))
        # foreign keys stay consistent across copies
        self.assertTrue(set(li["l_orderkey"].to_pylist()) <= orders)
        self.assertEqual(max(orders), 2 * 300 - 1)

    def test_key_ranges_keep_the_corpus_ratios(self):
        d = self.dirs[("ingest", 1)][0]
        o = pq.read_table(os.path.join(d, "orders.parquet"))
        self.assertLess(max(o["o_custkey"].to_pylist()), 2 * 30)  # orders / 10 per copy
        li = pq.read_table(os.path.join(d, "lineitem.parquet"))
        self.assertEqual(li.num_rows, 2 * 300 * gen.SHAPE["lines_per_order"])
        ev = pq.read_table(os.path.join(d, "events.parquet"))
        self.assertLess(max(ev["user_id"].to_pylist()), 2 * 6)  # 400 events / 66.7 per user

    def test_documents_cipher_and_embedding_masks(self):
        t = pq.read_table(os.path.join(self.dirs[("analytics", 1)][0], "documents.parquet"))
        text = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        for k in (1, 2):
            c = gen.cipher(k)
            self.assertEqual(sorted(c.values()), sorted(c.keys()))  # a bijection
            self.assertEqual(text[k * 80 + 5], text[5].translate(c))
        self.assertNotEqual(gen.cipher(1), gen.cipher(2))
        self.assertTrue(all(k == v for k, v in gen.cipher(0).items()))  # copy 0 as is

        e = pq.read_table(os.path.join(self.dirs[("analytics", 1)][0], "embeddings.parquet"))
        vec = dict(zip(e["vec_id"].to_pylist(), e["embedding"].to_pylist()))
        mask = gen.sign_mask(2, 8)
        self.assertEqual(set(mask.tolist()), {1.0, -1.0})
        self.assertEqual([x * m for x, m in zip(vec[3], mask)], vec[2 * 40 + 3])

    def test_splitmix64_matches_the_program(self):
        # graft.expressions.Sketch.splitmix64(0) and (1), as the JVM prints
        # them, and a Math.floorMod(splitmix64(7919 * 3 + 25), 26) of GenScale
        self.assertEqual(gen.signed64(gen.splitmix64(0)), 3274045555585151480)
        self.assertEqual(gen.signed64(gen.splitmix64(1)), 4441218488837556514)
        self.assertEqual(gen.signed64(gen.splitmix64(7919 * 3 + 25)) % 26, 18)


if __name__ == "__main__":
    unittest.main()
