"""Profile of a `documents` table, as the corpus generator of
`corpus_pipeline` reproduces it (`CorpusPipeline` in
src/graft/perfbench/Workloads.scala): row count, words per document,
vocabulary, near and exact duplicates, languages and sources.

    python3 perfbench/corpus_profile.py <dir>/documents.parquet
"""
import json
import os
import sys

import duckdb

TOKENS = "string_split_regex(trim(text), '\\s+')"


def profile(path: str) -> dict:
    con = duckdb.connect()
    src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    rows, distinct_texts = one("SELECT count(*), count(DISTINCT text) FROM documents")
    words = one(f"SELECT min(len({TOKENS})), max(len({TOKENS})), avg(len({TOKENS})) FROM documents")
    vocab = con.execute(f"SELECT w, count(*) FROM (SELECT unnest({TOKENS}) w FROM documents) "
                        "GROUP BY 1 ORDER BY 2 DESC").fetchall()
    # a near duplicate is another document's text with the token `dup` appended
    near = one("SELECT count(*) FROM documents d WHERE text LIKE '% dup' AND EXISTS "
               "(SELECT 1 FROM documents o WHERE o.text = regexp_replace(d.text, ' dup$', ''))")[0]
    return {
        "documents": rows,
        "exact_duplicates": rows - distinct_texts,
        "words_per_doc": {"min": words[0], "max": words[1], "mean": round(words[2], 2)},
        "vocabulary": len(vocab),
        "word_counts": dict(vocab),
        "near_duplicates": near,
        "languages": dict(con.execute("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 2 DESC").fetchall()),
        "source_is_src_doc_id_mod_20": one("SELECT bool_and(source = 'src' || (doc_id % 20)) FROM documents")[0],
        "n_chars_is_length": one("SELECT bool_and(n_chars = length(text)) FROM documents")[0],
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(profile(sys.argv[1]), indent=1))
