"""An equivalent form of an oracle query of the repo that is too slow to
run in every benchmark run.

The repo's oracle for text_jaccard_pairs compares every pair of documents'
shingle lists with list functions: about 15 s in DuckDB on the
500-document table. The form here counts shared shingles with a join on
the shingle instead, which gives the same pairs and the same Jaccard
values (|A ∪ B| = |A| + |B| - |A ∩ B| for distinct shingle lists) in well
under a second. Every other query is checked with the repo's SQL.
"""

SQL = {
    "text_jaccard_pairs": """
WITH
  toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS w
           FROM documents),
  sh AS (SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w)-1)]) AS s
         FROM toks WHERE len(w) >= 3),
  u AS (SELECT doc_id, unnest(s) AS g FROM sh),
  inter AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS c
            FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  p AS (SELECT x, y, c::DOUBLE / (len(sa.s) + len(sb.s) - c) AS j
        FROM inter JOIN sh sa ON sa.doc_id = x JOIN sh sb ON sb.doc_id = y)
SELECT x AS doc_a, y AS doc_b, round(j, 4) AS jaccard
FROM p WHERE j >= 0.8
ORDER BY doc_a, doc_b""",
}
