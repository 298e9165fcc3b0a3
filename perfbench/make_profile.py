#!/usr/bin/env python3
"""Derive the corpus profile the input generator samples from.

Reads the sf0.1 fixture's documents table and writes `profile.json` next to
this script: the token vocabulary with its frequencies, the per-document
token-count distribution, the (lang, source) mix and the share of documents
that carry the trailing unactionable marker. The benchmark itself only reads
`profile.json`, so it needs no fixture at run time.

    python3 perfbench/make_profile.py <dir holding documents.parquet>
"""
import json
import os
import sys

import duckdb


def main():
    src = os.path.join(sys.argv[1], "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{src}')")
    n_docs = con.execute("SELECT count(*) FROM d").fetchone()[0]
    marker = con.execute("SELECT count(*) FROM d WHERE text LIKE '% dup'").fetchone()[0]
    # the trailing marker is structure, not vocabulary: strip it before counting
    vocab = con.execute("""
        SELECT w, count(*) FROM (
          SELECT unnest(string_split(
            CASE WHEN text LIKE '% dup' THEN substr(text, 1, length(text) - 4) ELSE text END,
            ' ')) AS w FROM d)
        GROUP BY w ORDER BY w""").fetchall()
    lengths = con.execute("""
        SELECT len(string_split(text, ' ')) - CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END AS n,
               count(*) FROM d GROUP BY n ORDER BY n""").fetchall()
    mix = con.execute("""
        SELECT lang, source, count(*) FROM d GROUP BY lang, source ORDER BY lang, source""").fetchall()
    profile = {
        "source": "sf0.1/documents.parquet",
        "n_docs": n_docs,
        "marker_share": round(marker / n_docs, 6),
        "vocab": [[w, c] for w, c in vocab],
        "token_counts": [[n, c] for n, c in lengths],
        "lang_source": [[l, s, c] for l, s, c in mix],
    }
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")
    with open(out, "w") as f:
        json.dump(profile, f, separators=(",", ":"))
        f.write("\n")
    print(f"wrote {out}: {n_docs} docs, {len(vocab)} words, {len(mix)} lang/source cells")


if __name__ == "__main__":
    main()
