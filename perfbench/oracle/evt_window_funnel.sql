WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END AS step
  FROM events),
r1 AS (SELECT *, max(CASE WHEN step = 1 THEN tus END) OVER
  (PARTITION BY user_id ORDER BY tus, step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv FROM e),
r2 AS (SELECT *, max(CASE WHEN step = 2 THEN mv END) OVER
  (PARTITION BY user_id ORDER BY tus, step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mvc FROM r1),
lvl AS (SELECT user_id, max(CASE
    WHEN step = 3 AND mvc IS NOT NULL AND mvc >= tus - 3600000000 THEN 3
    WHEN step = 2 AND mv IS NOT NULL AND mv >= tus - 3600000000 THEN 2
    WHEN step = 1 THEN 1 ELSE 0 END) AS level
  FROM r2 GROUP BY user_id)
SELECT level, count(*) AS n_users FROM lvl GROUP BY level ORDER BY level
