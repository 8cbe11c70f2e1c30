SELECT x + 1 AS a, a * 2 AS b, CAST(c AS BIGINT) AS c FROM t WHERE a > 0 AND b < 10 AND c = 1
