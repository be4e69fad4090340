import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class Determinism(unittest.TestCase):
    def generate(self, root, seed):
        gen.gen_corpus(os.path.join(root, "corpus"), seed, 0, 120)
        gen.gen_ingest(os.path.join(root, "ingest"), seed, 6)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(a, 7)
            self.generate(b, 7)
            self.assertEqual(tree(a), tree(b))
            for f in tree(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(a, 7)
            self.generate(b, 8)
            same = [f for f in tree(a) if os.path.exists(os.path.join(b, f))
                    and filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                    shallow=False)]
            self.assertEqual(same, [])

    def test_input_does_not_depend_on_pool_size(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.gen_ingest(a, 3, 5)
            gen.gen_ingest(b, 3, 9)
            with open(os.path.join(a, "expect.tsv")) as fa, \
                    open(os.path.join(b, "expect.tsv")) as fb:
                short = fa.read()
                self.assertTrue(fb.read().startswith(short))


class PlantedStructure(unittest.TestCase):
    def test_corpus_plants_copies_and_chains(self):
        p = gen.corpus_plan(5, 0, 300)
        self.assertEqual(len(p["exact"]), round(300 * gen.CORPUS_EXACT_SHARE))
        for copy, orig in p["exact"]:
            self.assertEqual(p["texts"][copy], p["texts"][orig])
            self.assertTrue((p["vecs"][copy] == p["vecs"][orig]).all())
        self.assertEqual(len(p["families"]), gen.CORPUS_FAMILIES)
        for fam in p["families"]:
            self.assertEqual(len(fam), gen.CORPUS_CHAIN_DEPTH)
            # the chain is not in id order, so its minimum sits inside it
            self.assertNotEqual(fam, sorted(fam))

    def test_drop_shares_editions_across_provinces(self):
        for drop in gen.ingest_plan(11, gen.INGEST_PRESEED_WAVES + 2):
            new = [e for e in drop if not e["redelivery"]]
            self.assertEqual(len(new), gen.INGEST_EDITIONS)
            provs = [p for e in new for p in e["provinces"]]
            self.assertEqual(sorted(provs), sorted(gen.PROVINCES))

    def test_redelivery_keeps_products_and_changes_prices(self):
        waves = gen.ingest_plan(11, gen.INGEST_PRESEED_WAVES + 3)
        seen = {}
        for drop in waves:
            for e in drop:
                if not e["redelivery"]:
                    seen[(e["flyer"], e["provinces"][0])] = e["pages"]
                    continue
                key = (e["flyer"], e["provinces"][0])
                self.assertIn(key, seen)  # the same provinces as before
                old = seen[key]
                self.assertEqual(e["n_old"], len(old))
                self.assertEqual(len(e["pages"]), len(old) + 1)
                for a, b in zip(old, e["pages"]):
                    self.assertEqual(a is None, b is None)
                    for pa_, pb in zip(a or (), b or ()):
                        self.assertEqual({k: v for k, v in pa_.items()
                                          if "price" not in k},
                                         {k: v for k, v in pb.items()
                                          if "price" not in k})
                        self.assertNotEqual(pa_["current_price"],
                                            pb["current_price"])
                    self.assertEqual(len(a or ()), len(b or ()))
                seen[key] = e["pages"]

    def test_ingest_ledger_counts_each_page_once(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_ingest(d, 11, gen.INGEST_PRESEED_WAVES + 3)
            with open(os.path.join(d, "expect.tsv")) as f:
                rows = [ln.rstrip("\n").split("\t") for ln in f]
            last = {}
            for r in rows:
                key = (r[1], r[2])
                if key in last:
                    # a re-delivery adds only its new page's rows
                    self.assertEqual(r[6], "1")
                    self.assertEqual(int(r[3]), int(last[key][3]) + int(r[7]))
                last[key] = r
            with open(os.path.join(d, "prices.tsv")) as f:
                self.assertTrue(f.read())


if __name__ == "__main__":
    unittest.main()
