import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pb import jvm, shapes  # noqa: E402
from pb.workloads import SIZES, WORKLOADS  # noqa: E402


def tree(root):
    """Relative path → sha256 of every file under `root`, plus every dir."""
    out = {}
    for d, dirs, files in os.walk(root):
        for x in dirs:
            out[os.path.relpath(os.path.join(d, x), root) + "/"] = None
        for x in files:
            with open(os.path.join(d, x), "rb") as fh:
                out[os.path.relpath(os.path.join(d, x), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def scratch():
    os.makedirs(jvm.BUILD_DIR, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=jvm.BUILD_DIR)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_same_seed_same_files_other_seed_other_files(self):
        for name, wl in WORKLOADS.items():
            with self.subTest(workload=name):
                size = SIZES[name][1]
                a, b, c = (os.path.join(self.dir, f"{name}-{x}") for x in "abc")
                info_a = wl.generate(a, 7, size)
                info_b = wl.generate(b, 7, size)
                wl.generate(c, 8, size)
                self.assertEqual(info_a, info_b)
                self.assertEqual(tree(a), tree(b))
                self.assertGreater(len(tree(a)), 0)
                self.assertNotEqual(tree(a), tree(c))

    def test_full_sizes_match_the_documented_shapes(self):
        info = WORKLOADS["backfill_3d"].generate(os.path.join(self.dir, "bf"), 3,
                                                   SIZES["backfill_3d"][0])
        per_day = info["key_dates"] / info["dates"]
        self.assertTrue(120 <= per_day <= 145, per_day)
        self.assertTrue(300 <= info["rows"] / info["dates"] <= 370)

    def test_documents_match_the_measured_sf01_shape(self):
        root = os.path.join(self.dir, "ops")
        WORKLOADS["ops_triad"].generate(root, 3, SIZES["ops_triad"][0])
        got = shapes.documents_shape(os.path.join(root, "documents.parquet"))
        want = shapes.reference()["shape"]
        for k in ("rows", "vocabulary", "source_is_doc_id_mod_20", "n_chars_is_text_length"):
            self.assertEqual(got[k], want[k], k)
        self.assertEqual(got["words_per_doc"]["min"], want["words_per_doc"]["min"])
        self.assertLessEqual(abs(got["words_per_doc"]["max"] - want["words_per_doc"]["max"]), 1)
        self.assertAlmostEqual(got["words_per_doc"]["mean"], want["words_per_doc"]["mean"],
                               delta=0.03 * want["words_per_doc"]["mean"])
        for k in ("min", "max"):
            self.assertAlmostEqual(got["word_share"][k], want["word_share"][k],
                                   delta=0.2 * want["word_share"][k])
        for part in ("lang_share", "docs_with_term"):
            self.assertEqual(sorted(got[part]), sorted(want[part]))
            for k, v in want[part].items():
                self.assertAlmostEqual(got[part][k], v, delta=0.025, msg=f"{part}.{k}")
        for k in ("near_dup_pairs", "docs_in_near_dup_pairs"):
            self.assertAlmostEqual(got[k], want[k], delta=0.2 * want[k], msg=k)
        self.assertLessEqual(got["rows"] - got["distinct_texts"], 20)


if __name__ == "__main__":
    unittest.main()
