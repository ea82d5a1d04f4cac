#!/usr/bin/env python3
"""Shape statistics of a `documents` + `embeddings` corpus, for sizing the
`curation_batch` corpus generator.

    python3 perfbench/fixture_stats.py <corpus dir> [<corpus dir> ...]

A corpus dir holds `documents.parquet` and `embeddings.parquet` (a file or
a directory of parquet files), in the schemas of FIXTURES.md. Prints one
JSON object per directory. The benchmark never runs this: it records, in
perfbench/fixture_stats.json, the shape of the fixtures the generator
imitates, and measures the generated corpus the same way (the `corpus`
directory a curation_batch run leaves under .bench_work while it runs).
"""
import json
import os
import sys

import duckdb


def table(d, name):
    p = os.path.join(d, f"{name}.parquet")
    return f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"


def one(con, sql):
    return con.execute(sql).fetchone()


def stats(d):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {table(d, 'documents')}")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM {table(d, 'embeddings')}")
    con.execute("CREATE TEMP TABLE w AS SELECT doc_id, string_split(text, ' ') AS t FROM documents")
    docs, sources, src_min, src_max = one(con, """
        SELECT sum(n), count(*), min(n), max(n) FROM (SELECT count(*) AS n FROM documents GROUP BY source)""")
    words_min, words_mean, words_max = one(con, "SELECT min(len(t)), avg(len(t)), max(len(t)) FROM w")
    vocab, = one(con, "SELECT count(DISTINCT x) FROM (SELECT unnest(t) AS x FROM w)")
    exact_dups, = one(con, "SELECT count(*) - count(DISTINCT text) FROM documents")
    # near-duplicates: documents sharing a 5-word shingle with another
    # document (what d14's decontamination and c1/d4's dedup key on)
    near, = one(con, """
        WITH s AS (SELECT DISTINCT doc_id, array_to_string(t[i : i + 4], ' ') AS g
                   FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM w WHERE len(t) >= 5)),
             shared AS (SELECT g FROM s GROUP BY g HAVING count(*) > 1)
        SELECT count(DISTINCT doc_id) FROM s WHERE g IN (SELECT g FROM shared)""")
    langs = dict(con.execute("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1").fetchall())
    vecs, dim, labels = one(con, "SELECT count(*), max(len(embedding)), count(DISTINCT label) FROM embeddings")
    # cluster structure: cosine of each vector to its label's mean direction
    tight, = one(con, f"""
        WITH u AS (SELECT vec_id, label, list_transform(embedding, x -> x / sqrt(list_sum(list_transform(embedding, y -> y * y)))) AS v
                   FROM embeddings),
             e AS (SELECT label, unnest(generate_series(1, {dim})) AS i, unnest(v) AS x FROM u),
             c AS (SELECT label, i, avg(x) AS m FROM e GROUP BY 1, 2),
             cn AS (SELECT label, sqrt(sum(m * m)) AS n FROM c GROUP BY 1),
             dots AS (SELECT u.vec_id, u.label, sum(u.v[c.i] * c.m) AS d FROM u JOIN c ON c.label = u.label GROUP BY 1, 2)
        SELECT avg(d / cn.n) FROM dots JOIN cn ON cn.label = dots.label""")
    con.close()
    return {
        "documents": {
            "rows": docs, "sources": sources, "rows_per_source": [src_min, src_max],
            "lang_rows": langs, "words_per_doc": [words_min, round(words_mean, 2), words_max],
            "vocabulary": vocab, "exact_dup_texts": exact_dups,
            "near_dup_share": round(near / docs, 4),
        },
        "embeddings": {
            "rows": vecs, "dim": dim, "labels": labels,
            "cos_to_label_centroid": round(tight, 4),
            "s2_ivf_cells": vecs // 100 + (1 if vecs % 100 else 0),
        },
    }


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for d in sys.argv[1:]:
        print(json.dumps({"dir": os.path.basename(os.path.normpath(d)), **stats(d)}))
