SELECT CAST(floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 7) AS BIGINT) AS avg_yearly_c
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#5'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
