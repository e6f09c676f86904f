SELECT promo_c, total_c, round(promo_c * 100.0 / total_c, 4) AS promo_pct
FROM (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_c,
    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
) t
