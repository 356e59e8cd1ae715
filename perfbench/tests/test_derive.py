import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import derive  # noqa: E402

HOT = {"lineitem_partkey_share": 0.3, "document_shingle_share": 0.3, "shingle_words": 4}


def source_tables(d):
    """A small source directory with graft's key columns and dense key domains."""
    rng = np.random.default_rng(7)
    n = {"region": 3, "nation": 6, "customer": 20, "supplier": 5, "part": 15, "orders": 40}
    tabs = {
        "region": {"r_regionkey": np.arange(3), "r_name": [f"R{i}" for i in range(3)]},
        "nation": {"n_nationkey": np.arange(6), "n_regionkey": np.arange(6) % 3},
        "customer": {"c_custkey": np.arange(20), "c_nationkey": rng.integers(0, 6, 20).astype(np.int32),
                     "c_name": [f"C{i}" for i in range(20)]},
        "supplier": {"s_suppkey": np.arange(5), "s_nationkey": rng.integers(0, 6, 5).astype(np.int32)},
        "part": {"p_partkey": np.arange(15), "p_name": [f"P{i}" for i in range(15)]},
        "orders": {"o_orderkey": np.arange(40), "o_custkey": rng.integers(0, 20, 40)},
        "lineitem": {"l_orderkey": rng.integers(0, 40, 100), "l_partkey": rng.integers(0, 15, 100),
                     "l_suppkey": rng.integers(0, 5, 100), "l_linenumber": np.arange(100)},
        "events": {"event_id": np.arange(10)},
        "documents": {"doc_id": np.arange(10), "text": [f"w{i} w{i + 1} shared word" for i in range(10)],
                      "n_chars": [len(f"w{i} w{i + 1} shared word") for i in range(10)]},
        "embeddings": {"vec_id": np.arange(4)},
    }
    assert all(len(tabs[t][next(iter(tabs[t]))]) == k for t, k in n.items())
    for t, cols in tabs.items():
        pq.write_table(pa.table(cols), os.path.join(d, f"{t}.parquet"))
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in tabs}


def lineitem_facts(t):
    """Per lineitem row (by l_linenumber): the customer name and part name it
    reaches through its foreign keys, which a key renumbering must keep."""
    cust = dict(zip(t["customer"]["c_custkey"].to_pylist(), t["customer"]["c_name"].to_pylist()))
    order_cust = dict(zip(t["orders"]["o_orderkey"].to_pylist(), t["orders"]["o_custkey"].to_pylist()))
    part = dict(zip(t["part"]["p_partkey"].to_pylist(), t["part"]["p_name"].to_pylist()))
    li = t["lineitem"].to_pydict()
    return {ln: (cust[order_cust[o]], part[p])
            for ln, o, p in zip(li["l_linenumber"], li["l_orderkey"], li["l_partkey"])}


class DeriveTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.src = os.path.join(self.tmp.name, "src")
        os.makedirs(self.src)
        self.orig = source_tables(self.src)

    def tearDown(self):
        self.tmp.cleanup()

    def test_row_counts_and_dense_key_ranges_are_kept(self):
        out = derive.derive_base(self.src, seed=3)
        for t in derive.TABLES:
            self.assertEqual(out[t].num_rows, self.orig[t].num_rows, t)
        for table, key, refs in derive.DOMAINS.values():
            n = self.orig[table].num_rows
            self.assertEqual(sorted(out[table][key].to_pylist()), list(range(n)), key)
            for t, c in refs:
                self.assertTrue(all(0 <= v < n for v in out[t][c].to_pylist()), c)

    def test_foreign_keys_follow_their_primary_keys(self):
        out = derive.derive_base(self.src, seed=3)
        self.assertEqual(lineitem_facts(out), lineitem_facts(self.orig))
        self.assertNotEqual(out["orders"]["o_orderkey"].to_pylist(),
                            self.orig["orders"]["o_orderkey"].to_pylist())

    def test_same_seed_same_inputs(self):
        a, b = derive.derive_base(self.src, 5), derive.derive_base(self.src, 5)
        c = derive.derive_base(self.src, 6)
        self.assertTrue(all(a[t].equals(b[t]) for t in derive.TABLES))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_non_dense_domain_is_rejected(self):
        part = self.orig["part"]
        bad = part.set_column(0, "p_partkey", pa.array(np.arange(15) * 2))
        pq.write_table(bad, os.path.join(self.src, "part.parquet"))
        with self.assertRaises(ValueError):
            derive.derive_base(self.src, 1)

    def test_hot_keys_are_planted(self):
        base = derive.derive_base(self.src, 4)
        hot, facts = derive.plant_hot(base, 4, **{
            "partkey_share": HOT["lineitem_partkey_share"],
            "shingle_share": HOT["document_shingle_share"],
            "shingle_words": HOT["shingle_words"]})
        pk = hot["lineitem"]["l_partkey"].to_pylist()
        self.assertGreaterEqual(pk.count(facts["hot_partkey"]) / len(pk), 0.3)
        self.assertEqual(hot["lineitem"].num_rows, base["lineitem"].num_rows)
        docs = hot["documents"].to_pydict()
        with_phrase = [t for t in docs["text"] if t.endswith(" " + facts["hot_shingle"])]
        self.assertEqual(len(with_phrase), 3)
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])

    def test_ensure_inputs_caches_per_seed(self):
        cache = os.path.join(self.tmp.name, "cache")
        dirs = derive.ensure_inputs(self.src, cache, 2, HOT)
        stamp = os.path.getmtime(os.path.join(dirs["base"], "manifest.json"))
        self.assertEqual(derive.ensure_inputs(self.src, cache, 2, HOT), dirs)
        self.assertEqual(os.path.getmtime(os.path.join(dirs["base"], "manifest.json")), stamp)
        for t in derive.TABLES:
            self.assertTrue(os.path.exists(os.path.join(dirs["hot"], f"{t}.parquet")))

    def test_ensure_inputs_derives_again_for_other_data(self):
        cache = os.path.join(self.tmp.name, "cache")
        dirs = derive.ensure_inputs(self.src, cache, 2, HOT)
        other_hot = derive.ensure_inputs(self.src, cache, 2, dict(HOT, shingle_words=5))
        self.assertNotEqual(other_hot["hot"], dirs["hot"])
        src2 = os.path.join(self.tmp.name, "src2")
        shutil.copytree(self.src, src2)
        self.assertEqual(derive.ensure_inputs(src2, cache, 2, HOT), dirs)
        part = pq.read_table(os.path.join(src2, "part.parquet"))
        pq.write_table(part.slice(0, part.num_rows - 1), os.path.join(src2, "part.parquet"))
        self.assertNotEqual(derive.input_key(src2, HOT), derive.input_key(self.src, HOT))


if __name__ == "__main__":
    unittest.main()
