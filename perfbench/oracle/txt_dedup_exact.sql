WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
SELECT keeper, n_copies, h FROM (
  SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
  FROM d GROUP BY md5(text))
WHERE n_copies > 1 ORDER BY keeper
