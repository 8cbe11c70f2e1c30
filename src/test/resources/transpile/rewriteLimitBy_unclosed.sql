( LIMIT 2 BY a GROUPING SETS ((a), (a, b)) WITH 1 AS a SELECT a quantile(0.5)(x) USING count t WITH LIMIT LIMIT 2 BY a
