#!/usr/bin/env python3
"""Evaluate the DuckDB oracles' own text expressions on an adversarial table.

Every word-level operator tokenizes text the way the oracles do:
`regexp_split_to_array(lower(trim(text)), '\\s+')`, where RE2's `\\s` is
[\\t\\n\\f\\r ] and DuckDB's `lower` maps one code point at a time. The
fixtures hold only lowercase ASCII joined by spaces, so the oracle gate
cannot tell a Spark-side spelling that differs on other input. This script
runs each oracle's expression (copied from the query's oracle SQL in
`SparkEntry.scala`, named per block below) on a few adversarial strings and
prints the values as the Scala literals `TextDedupSimSpec` asserts.

Usage: python3 scripts/text_norm_oracle.py
"""
import duckdb

# (doc_id, text): U+000B, U+000C, a leading tab, a trailing newline,
# a word-final capital sigma, a dotted capital I
TEXTS = [
    (0, "a\u000bb c"),
    (1, "Ab\u000cc D"),
    (2, "\tThe Cat and THE dog"),
    (3, "the end of it\n"),
    (4, "ΟΔΟΣ ΣΑ"),
    (5, "İT İS THE END"),
]

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
LANG_MARKERS = [
    ("en", ["the", "and", "of", "to", "is"]),
    ("fr", ["le", "la", "les", "et", "est"]),
    ("de", ["der", "die", "das", "und", "ist"]),
    ("es", ["el", "los", "las", "es", "y"]),
]


def hits(words):  # SparkEntry.duckHitsSum
    return "(" + " + ".join(
        f"(len(string_split(' ' || lower(text) || ' ', ' {w} ')) - 1)" for w in words) + ")"


DUCK_TOKENS = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
               "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)")
PUNCT = ("(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length("
         "regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) "
         "/ CAST(length(text) AS DOUBLE) END)")
EN, FR, DE, ES = (hits(ws) for _, ws in LANG_MARKERS)
SIM_BITS = " + ".join(
    f"(CASE WHEN sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0"
    f" THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)" for b in range(60))

QUERIES = {
    # q_doc_fingerprint_dedup
    "fingerprint": "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
                   "FROM documents ORDER BY doc_id",
    # q_doc_token_stats
    "tokenCount": f"SELECT CAST({DUCK_TOKENS} AS BIGINT) FROM documents ORDER BY doc_id",
    "punctRatio": f"SELECT round({PUNCT}, 6) FROM documents ORDER BY doc_id",
    # q_doc_gopher_filter
    "meanTokLen": f"""SELECT CASE WHEN {DUCK_TOKENS} = 0 THEN 0.0
        ELSE floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
             / CAST({DUCK_TOKENS} AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END
        FROM documents ORDER BY doc_id""",
    # q_doc_bpe_tokens
    "bpePieces": "SELECT regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+') "
                 "FROM documents ORDER BY doc_id",
    # q_doc_ngram_jaccard's shingle sets (list_sort: the set, in a fixed order)
    "shingles": """SELECT list_sort(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        END)
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM documents) ORDER BY doc_id""",
    # q_doc_simhash_neardup's signature CTE
    "simhashMd5": f"""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
        h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks)
        SELECT {SIM_BITS} FROM h GROUP BY doc_id ORDER BY doc_id""",
    # q_doc_quality / q_doc_gopher_filter
    "stopwordHits": f"SELECT {hits(STOPWORDS)} FROM documents ORDER BY doc_id",
    # q_doc_langid
    "langId": f"""SELECT CASE
        WHEN greatest({EN}, {FR}, {DE}, {ES}) <= 0 THEN 'und'
        WHEN {EN} >= {FR} AND {EN} >= {DE} AND {EN} >= {ES} THEN 'en'
        WHEN {FR} >= {DE} AND {FR} >= {ES} THEN 'fr'
        WHEN {DE} >= {ES} THEN 'de'
        ELSE 'es' END FROM documents ORDER BY doc_id""",
    # q_doc_chunk_tokens (every text here is one 32-token chunk)
    "chunkTokens": """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0)
        SELECT substring(md5(array_to_string(toks[1:32], ' ')), 1, 16)
        FROM tk ORDER BY doc_id""",
}

# q_doc_passage_remove's CTEs with the kept text itself instead of its md5,
# on a leading-tab document holding a 13-word passage twice
PASSAGE_TEXT = ("\t" + " ".join(f"w{i}" for i in range(1, 14)) + " x1 x2 x3 "
                + " ".join(f"w{i}" for i in range(1, 14)))
PASSAGE = """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents),
lw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks FROM documents),
w AS (SELECT doc_id, i AS start, array_to_string(ltoks[i+1:i+13], ' ') AS win
      FROM lw, UNNEST(generate_series(0, len(ltoks) - 13)) g(i) WHERE len(ltoks) >= 13),
firsts AS (SELECT win, min(doc_id * 1000000 + start) AS fkey FROM w GROUP BY win),
dups AS (SELECT w.doc_id, w.start FROM w JOIN firsts f ON w.win = f.win
         WHERE w.doc_id * 1000000 + w.start > f.fkey),
removed AS (SELECT DISTINCT doc_id, start + j AS pos FROM dups, UNNEST(generate_series(0, 12)) u(j)),
tokpos AS (SELECT doc_id, i AS pos, toks[i + 1] AS tok
           FROM tk, UNNEST(generate_series(0, len(toks) - 1)) g(i)),
kept AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS kept_text, count(*) AS n_kept
         FROM tokpos tp LEFT JOIN removed r ON tp.doc_id = r.doc_id AND tp.pos = r.pos
         WHERE r.doc_id IS NULL GROUP BY tp.doc_id)
SELECT k.kept_text, CAST(k.n_kept AS BIGINT),
 CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) - k.n_kept AS BIGINT)
FROM documents d JOIN kept k ON d.doc_id = k.doc_id"""


def scala(v):
    """A Scala literal for a DuckDB value."""
    if isinstance(v, str):
        return '"' + "".join(
            c if 0x20 <= ord(c) < 0x7f and c not in '"\\' else f"\\u{ord(c):04x}"
            for c in v) + '"'
    if isinstance(v, list):
        return "Seq(" + ", ".join(scala(x) for x in v) + ")"
    if isinstance(v, int) and not -2**31 <= v < 2**31:
        return f"{v}L"
    return repr(v)


def main():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", TEXTS)
    print(f"// duckdb {duckdb.__version__}")
    print("texts:", scala([t for _, t in TEXTS]))
    for name, sql in QUERIES.items():
        print(f"{name}:", scala([r[0] for r in con.execute(sql).fetchall()]))
    con.execute("DELETE FROM documents")
    con.execute("INSERT INTO documents VALUES (0, ?)", [PASSAGE_TEXT])
    print("passage:", scala(PASSAGE_TEXT), "->",
          "(" + ", ".join(scala(v) for v in con.execute(PASSAGE).fetchone()) + ")")


if __name__ == "__main__":
    main()
