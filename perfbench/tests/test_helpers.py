"""Tests for the benchmark's helpers: the corpus generator's truth digest
and the span self-time arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import layers  # noqa: E402

SPEC = {"n_tokens": 20_000, "vocab": 5_000, "zipf_s": 1.1, "doc_len": [5, 40],
        "sources": 8, "layout": "parquet", "files": 1}

# md5prefix60 summed over (word, count) pairs, in DuckDB
DIGEST_SQL = """
SELECT count(*) AS distinct_words, sum(cnt) AS tokens,
       sum(('0x' || substr(md5(word || chr(9) || cnt::VARCHAR), 1, 15))::UBIGINT::HUGEINT) AS digest
FROM (SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(text, '[ \\n]+')) AS word FROM {source})
      WHERE word <> '' GROUP BY word)
"""


def truth(corpus):
    with open(os.path.join(corpus, "truth.json")) as fh:
        return json.load(fh)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.cache = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_digest_other_seed_differs(self):
        a = truth(gen.ensure(os.path.join(self.cache, "a"), 7, SPEC))
        b = truth(gen.ensure(os.path.join(self.cache, "b"), 7, SPEC))
        c = truth(gen.ensure(os.path.join(self.cache, "c"), 8, SPEC))
        self.assertEqual(a, b)
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertEqual(a["tokens"], SPEC["n_tokens"])

    def test_cache_reuses_a_corpus(self):
        d1 = gen.ensure(self.cache, 3, SPEC)
        mtime = os.path.getmtime(os.path.join(d1, "documents.parquet"))
        d2 = gen.ensure(self.cache, 3, SPEC)
        self.assertEqual(d1, d2)
        self.assertEqual(mtime, os.path.getmtime(os.path.join(d2, "documents.parquet")))

    def assert_duckdb_matches(self, corpus, source):
        t = truth(corpus)
        row = duckdb.sql(DIGEST_SQL.format(source=source)).fetchone()
        self.assertEqual((row[0], row[1], str(row[2])), (t["distinct"], t["tokens"], t["digest"]))

    def test_digest_matches_duckdb_over_each_layout(self):
        for layout, files in (("parquet", 1), ("text", 3), ("split", 4)):
            with self.subTest(layout=layout):
                corpus = gen.ensure(self.cache, 11, dict(SPEC, layout=layout, files=files))
                docs = os.path.join(corpus, "documents.parquet")
                self.assert_duckdb_matches(corpus, f"read_parquet('{docs}')")
                if layout == "text":
                    files_glob = os.path.join(corpus, "text", "*.txt")
                    self.assert_duckdb_matches(
                        corpus, f"(SELECT content AS text FROM read_text('{files_glob}'))")
                if layout == "split":
                    files_glob = os.path.join(corpus, "stream", "*.parquet")
                    self.assert_duckdb_matches(corpus, f"read_parquet('{files_glob}')")

    def test_slice_is_the_first_documents(self):
        corpus = gen.ensure(self.cache, 11, dict(SPEC, layout="split", files=4, slice_docs=50))
        docs = os.path.join(corpus, "documents.parquet")
        sliced = os.path.join(corpus, "slice", "documents.parquet")
        self.assertEqual(
            duckdb.sql(f"SELECT * FROM read_parquet('{sliced}') ORDER BY doc_id").fetchall(),
            duckdb.sql(f"SELECT * FROM read_parquet('{docs}') ORDER BY doc_id LIMIT 50").fetchall())


def span(i, parent, name, start, end, trace=1):
    return {"trace": trace, "id": i, "parent": parent, "name": name, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):

    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(1, 0, "job", 0.0, 10.0),
                 span(2, 1, "a", 1.0, 4.0),
                 span(3, 2, "a.inner", 2.0, 3.0),
                 span(4, 1, "b", 5.0, 9.0)]
        st = layers.self_times(spans)
        self.assertEqual(st, {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "job", 0.0, 10.0),
                 span(2, 1, "a", 1.0, 5.0),
                 span(3, 1, "b", 3.0, 7.0)]
        self.assertEqual(layers.self_times(spans)[1], 4.0)

    def test_layer_times_are_differences_of_probe_passes(self):
        spans = [span(1, 0, "job", 0.0, 5.0),
                 span(2, 1, "sources.read", 0.0, 0.5),
                 span(3, 1, "operators.wordCount", 0.5, 0.75),
                 span(4, 1, "sources.writeTsv", 0.75, 4.75),
                 span(5, 0, "probe", 6.0, 13.0),
                 span(6, 5, "sources.scan", 6.0, 7.0),
                 span(7, 5, "functions.tokenize", 7.0, 9.5),
                 span(8, 5, "operators.aggregate", 9.5, 13.0)]
        stage = {"span": 7, "cpu_s": 2.0, "tasks": 4, "output_bytes": 0,
                 "shuffle_write_records": 0, "shuffle_write_bytes": 0, "fetch_wait_s": 0,
                 "spill_bytes": 0, "peak_exec_mem": 0, "shuffle_read_records": 0,
                 "task_s": [0.5] * 4, "gc_s": 0, "slot_wait_s": 0, "failed_tasks": 0}
        m = layers.iteration_metrics(spans, [stage], [], {"tokens": [1000.0]})
        self.assertEqual(m["sources.scan_s"], 1.0)
        self.assertEqual(m["functions.tokenize_s"], 1.5)
        self.assertEqual(m["operators.agg_s"], 1.0)
        self.assertEqual(m["sources.write_s"], 0.5)
        self.assertEqual(m["functions.tokens_per_cpu_s"], 500.0)
        self.assertEqual(m["trace.job_s"], 5.0)
        self.assertAlmostEqual(m["trace.uncovered_s"], 0.25)


if __name__ == "__main__":
    unittest.main()
