SELECT user_id, count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
