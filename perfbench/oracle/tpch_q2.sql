WITH ps AS (
  SELECT l_partkey, l_suppkey,
    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ps_cost_c
  FROM lineitem GROUP BY l_partkey, l_suppkey),
elig AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, ps_cost_c
  FROM ps
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_cost_c
FROM elig
WHERE ps_cost_c = (SELECT min(e2.ps_cost_c) FROM elig e2 WHERE e2.p_partkey = elig.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
