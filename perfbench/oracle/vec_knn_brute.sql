WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
p AS (SELECT vec_id,
    CAST(unnest(embedding) AS DOUBLE) AS xe,
    CAST(unnest((SELECT qv FROM q)) AS DOUBLE) AS xq
  FROM embeddings WHERE vec_id <> 0),
s AS (SELECT vec_id, sum(xe * xq) AS dp, sum(xe * xe) AS n1, sum(xq * xq) AS n2
  FROM p GROUP BY vec_id)
SELECT vec_id, round(dp / sqrt(n1 * n2), 6) AS cos
FROM s ORDER BY cos DESC, vec_id LIMIT 20
