SELECT (1, 'a'), f((1, 2)), arrayMap((x, y) -> x, a, b) FROM t WHERE (a, b) IN ((1, 2)) GROUP BY GROUPING SETS (('c'), (a, b))
