#!/usr/bin/env python3
"""Profiles the value distributions that the llm_curation operators' cost
depends on, in one or more directories of fixture tables, side by side.

    python3 perfbench/profile_inputs.py <fixture_dir> [<generated_dir> ...]

Used to check perfbench/gen.py against the engine's own test fixtures:
give it a fixture directory and a directory gen.py wrote at the same SF.
README.md ("Inputs") records the result. Tokens follow the engine's
canonical tokenizer (FIXTURES.md).
"""
import sys

import duckdb

TOKENS = (r"list_filter(string_split_regex(regexp_replace(regexp_replace("
          r"lower(text), '\s', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +'), t -> t <> '')")

PROBES = [
    ("documents: rows", "SELECT count(*) FROM documents"),
    ("tokens per doc: min, p50, max", f"SELECT min(n), median(n), max(n) FROM "
     f"(SELECT len({TOKENS}) n FROM documents)"),
    ("tokens per doc: mean", f"SELECT round(avg(len({TOKENS})), 1) FROM documents"),
    ("vocabulary", f"SELECT count(DISTINCT w) FROM (SELECT unnest({TOKENS}) w FROM documents)"),
    ("share marked ' dup'", "SELECT round(avg((text LIKE '% dup')::INT), 3) FROM documents"),
    ("share exact copy + ' dup'", "SELECT round(count(DISTINCT a.doc_id) / "
     "(SELECT count(*) FROM documents), 3) FROM documents a JOIN documents b "
     "ON a.text = b.text || ' dup' AND a.doc_id <> b.doc_id"),
    ("exact duplicate texts", "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("lang shares", "SELECT string_agg(lang || '=' || round(c, 3), ' ' ORDER BY lang) FROM "
     "(SELECT lang, count(*) / sum(count(*)) OVER () c FROM documents GROUP BY lang)"),
    ("sources", "SELECT count(DISTINCT source) FROM documents"),
    ("embeddings: rows, dim", "SELECT count(*), max(len(embedding)) FROM embeddings"),
    ("embedding norm: min, max", "SELECT round(min(n), 4), round(max(n), 4) FROM (SELECT "
     "sqrt(list_sum(list_transform(embedding, x -> x * x))) n FROM embeddings)"),
    ("embedding component: mean, sd", "SELECT round(avg(x), 4), round(stddev(x), 4) FROM "
     "(SELECT unnest(embedding) x FROM embeddings)"),
    ("labels", "SELECT count(DISTINCT label) FROM embeddings"),
    ("events: rows, users", "SELECT count(*), count(DISTINCT user_id) FROM events"),
    ("event value: p10, p50, p90, mean", "SELECT round(quantile_cont(value, 0.1), 1), "
     "round(median(value), 1), round(quantile_cont(value, 0.9), 1), round(avg(value), 1) FROM events"),
    ("event types", "SELECT count(DISTINCT event_type) FROM events"),
]


def profile(d):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    out = []
    for _, sql in PROBES:
        row = con.execute(sql).fetchone()
        out.append(", ".join(str(x) for x in row))
    return out


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    cols = [profile(d) for d in dirs]
    for i, (label, _) in enumerate(PROBES):
        print(" | ".join([label] + [c[i] for c in cols]))


if __name__ == "__main__":
    main()
