SELECT event_type, count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
  min(value) AS min_value, max(value) AS max_value,
  round(avg(value), 5) AS avg_value,
  count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
