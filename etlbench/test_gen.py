"""Tests of the seeded input generator.

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""

import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SECONDS = 2


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def fingerprint_key(text):
    """The engine's exact-dup canonical form (TextFunctions.fingerprint)."""
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()


def shingles(text):
    toks = text.lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


class SameSeedSameInputs(unittest.TestCase):
    def test_every_workload_is_a_function_of_its_seed(self):
        for w in ("ingest", "dedup", "serve"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, a, 7, SECONDS)
                gen.generate(w, b, 7, SECONDS)
                gen.generate(w, c, 8, SECONDS)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                self.assertTrue(differ, f"{w}: another seed gave the same inputs")


class PlantedShares(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.truth = gen.gen_dedup(self.dir.name, 3)
        self.docs = {d["doc_id"]: d["text"]
                     for d in read_jsonl(os.path.join(self.dir.name, "docs.jsonl"))}

    def tearDown(self):
        self.dir.cleanup()

    def test_shares_come_out_as_configured(self):
        n = gen.DEDUP_DOCS
        self.assertEqual(len(self.docs), n)
        self.assertEqual(len(self.truth["exact"]), round(n * gen.DEDUP_EXACT_SHARE))
        self.assertEqual(len(self.truth["near"]), round(n * gen.DEDUP_NEAR_SHARE))
        origs = [o for _, o in self.truth["exact"] + self.truth["near"]]
        self.assertEqual(len(origs), len(set(origs)), "one plant per original")

    def test_copies_follow_their_originals(self):
        for copy, orig in self.truth["exact"] + self.truth["near"]:
            self.assertGreater(copy, orig, "the original must be the cluster's smallest id")
        for copy, orig in self.truth["exact"]:
            self.assertNotEqual(self.docs[copy], self.docs[orig])
            self.assertEqual(fingerprint_key(self.docs[copy]), fingerprint_key(self.docs[orig]))
        for copy, orig in self.truth["near"]:
            a, b = shingles(self.docs[copy]), shingles(self.docs[orig])
            self.assertNotEqual(fingerprint_key(self.docs[copy]), fingerprint_key(self.docs[orig]))
            self.assertGreaterEqual(len(a & b) / len(a | b), 0.75)


class DocumentShape(unittest.TestCase):
    def test_text_is_normalized_markdown_with_spread_lengths(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("ingest", d, 5, SECONDS)
            rows = read_jsonl(os.path.join(d, "docs.jsonl"))
        lengths = []
        for r in rows:
            t = r["text"]
            self.assertTrue(t.startswith("# "))
            self.assertIn("\n\n## ", t)
            # a fixed point of the engine's normalization rules
            for bad in ("  ", "\t", "\r", "\n\n\n", "-\n", "­", "...."):
                self.assertNotIn(bad, t)
            self.assertEqual(t, t.strip(" "))
            lengths.append(len(t))
        lengths.sort()
        self.assertGreater(lengths[len(lengths) * 9 // 10], 2 * lengths[len(lengths) // 10])

    def test_landing_batches_mix_new_and_reprocessed_documents(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.generate("ingest", d, 5, SECONDS)
            rows = read_jsonl(os.path.join(d, "docs.jsonl"))
        seen = {r["doc_id"] for r in rows if r["batch"] == 0}
        self.assertEqual(len(seen), gen.INGEST_SEED_DOCS)
        for b in range(1, info["batches"] + 1):
            ids = [r["doc_id"] for r in rows if r["batch"] == b]
            old = [i for i in ids if i in seen]
            self.assertEqual(len(old), gen.INGEST_BATCH_REPROCESSED)
            self.assertEqual(len(ids) - len(old), gen.INGEST_BATCH_NEW)
            seen.update(ids)


class ServeInputs(unittest.TestCase):
    def test_vectors_and_operation_sequence(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("serve", d, 4, SECONDS)
            vecs = read_jsonl(os.path.join(d, "vectors.jsonl"))
            docs = read_jsonl(os.path.join(d, "docs.jsonl"))
            with open(os.path.join(d, "ops.json")) as f:
                ops = json.load(f)
        self.assertTrue(all(len(v["embedding"]) == gen.DIMS for v in vecs))
        self.assertEqual(sorted(v["vec_id"] for v in vecs), sorted(x["doc_id"] for x in docs))
        warm = [o["kind"] for o in ops["ops"][:ops["warmup"]]]
        timed_kinds = {o["kind"] for o in ops["ops"][ops["warmup"]:]}
        self.assertEqual(set(warm), timed_kinds, "every kind warms up")
        extra = {k: warm.count(k) - 1 for k in timed_kinds}
        reads = set(gen.SERVE_WARM_READS)
        self.assertTrue(all(extra[k] > 0 for k in reads), "the cheap reads warm up again")
        self.assertTrue(all(extra[k] == 0 for k in timed_kinds - reads),
                        "every other kind warms up once")
        pool = {x["batch"] for x in docs if x["batch"] > 0}
        upserts = [o["batch"] for o in ops["ops"] if o["kind"] == "upsert"]
        self.assertEqual(sorted(upserts), sorted(pool))
        deleted = [o["doc"] for o in ops["ops"] if o["kind"] == "delete"]
        self.assertEqual(len(deleted), len(set(deleted)))
        self.assertTrue(all(d < gen.SERVE_DOCS for d in deleted))


if __name__ == "__main__":
    unittest.main()
