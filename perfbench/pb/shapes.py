#!/usr/bin/env python3
"""The shape of a `documents` table, as the `ops_triad` generator must
reproduce it.

Usage:
  python3 perfbench/pb/shapes.py DOCUMENTS.parquet

prints the table's shape as JSON. `documents_sf0.1.json` next to this file
is that output for the sf0.1 `documents` table of the repository's
generated testdata (FIXTURES.md §2, seed 42), plus the vocabulary and the
clone-edit mix the generator draws from. `pb/gen.py` generates from it and
`tests/test_gen.py` checks the generated table's shape against it.
"""
import json
import os
import sys

import duckdb

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents_sf0.1.json")


def reference():
    with open(REFERENCE) as fh:
        return json.load(fh)


def documents_shape(path):
    """Row count, words per document, vocabulary, languages, sources,
    BM25 query-term coverage and near-duplicate structure (documents
    sharing an 8-token window, tokenised as the q193 oracle does)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    con.execute("""CREATE TEMP TABLE t AS SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS toks
                   FROM documents""")
    rows, w_min, w_max, w_mean, texts = con.execute(
        "SELECT count(*), min(len(toks)), max(len(toks)), avg(len(toks)), "
        "(SELECT count(DISTINCT text) FROM documents) FROM t").fetchone()
    words = con.execute("SELECT w, count(*) FROM (SELECT unnest(toks) AS w FROM t) "
                        "GROUP BY 1 ORDER BY 1").fetchall()
    total = sum(n for _, n in words)
    langs = con.execute("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1").fetchall()
    src_ok, chars_ok = con.execute(
        "SELECT bool_and(source = 'src' || CAST(doc_id % 20 AS VARCHAR)), "
        "bool_and(n_chars = len(text)) FROM documents").fetchone()
    term_docs = dict(con.execute(
        "SELECT w, count(DISTINCT doc_id) FROM (SELECT doc_id, unnest(toks) AS w FROM t) "
        "WHERE w IN ('data', 'query') GROUP BY 1").fetchall())
    con.execute("""CREATE TEMP TABLE g AS SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 7),
                                           i -> array_to_string(toks[i:i+7], ' '))) AS ng
                   FROM t WHERE len(toks) > 7""")
    pairs, dup_docs = con.execute(
        """WITH p AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
                      FROM g a JOIN g b USING (ng) WHERE a.doc_id < b.doc_id)
           SELECT count(*), (SELECT count(*) FROM (SELECT x FROM p UNION SELECT y FROM p))
           FROM p""").fetchone()
    con.close()
    return {
        "rows": rows,
        "words_per_doc": {"min": w_min, "max": w_max, "mean": round(w_mean, 3)},
        "vocabulary": len(words),
        "word_share": {"min": round(min(n for _, n in words) / total, 5),
                       "max": round(max(n for _, n in words) / total, 5)},
        "lang_share": {k: round(n / rows, 4) for k, n in langs},
        "source_is_doc_id_mod_20": bool(src_ok),
        "n_chars_is_text_length": bool(chars_ok),
        "docs_with_term": {k: round(n / rows, 4) for k, n in sorted(term_docs.items())},
        "distinct_texts": texts,
        "near_dup_pairs": pairs,
        "docs_in_near_dup_pairs": dup_docs,
    }


if __name__ == "__main__":
    print(json.dumps(documents_shape(sys.argv[1]), indent=1))
