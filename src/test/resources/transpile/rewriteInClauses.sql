SELECT x IN [1, 2], y IN tuple(1, 2), z IN 3, w NOT IN ('a', NULL), v IN (NULL), u IN (SELECT 1) FROM t
