SELECT x + 1 AS a, b, `c` AS c FROM t WHERE a > 0 AND `a` < 5 ORDER BY a
