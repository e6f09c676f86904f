SELECT o_custkey, rn, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3 AND o_custkey < 50
ORDER BY o_custkey, rn
