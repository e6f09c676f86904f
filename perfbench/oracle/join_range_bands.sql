SELECT band, count(*) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
FROM orders
JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0), ('high', 300000.0, 1e12))
  b(band, lo, hi) ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band ORDER BY band
