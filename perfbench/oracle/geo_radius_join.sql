WITH cust AS (
  SELECT c_custkey, ((c_custkey * 91) % 340 + 340) % 340 - 170 + 0.5 AS clon, ((c_custkey * 37) % 116 + 116) % 116 - 58 + 0.25 AS clat
  FROM customer),
hubs AS (
  SELECT s_suppkey, ((s_suppkey * 91) % 340 + 340) % 340 - 170 + 0.5 AS slon, ((s_suppkey * 37) % 116 + 116) % 116 - 58 + 0.25 AS slat
  FROM supplier WHERE s_suppkey < 40),
pairs AS (
  SELECT c_custkey, s_suppkey,
    2 * 6371007.180918475 * asin(least(1.0, sqrt(
      pow(sin(radians(slat - clat) / 2), 2) +
      cos(radians(clat)) * cos(radians(slat)) *
      pow(sin(radians(slon - clon) / 2), 2)))) AS d
  FROM cust CROSS JOIN hubs)
SELECT c_custkey, s_suppkey, round(d / 1000.0, 3) AS km
FROM pairs WHERE d <= 750000.0
ORDER BY c_custkey, s_suppkey
