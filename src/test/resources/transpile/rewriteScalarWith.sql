WITH x + 1 AS y, cte AS (SELECT 1 AS x) SELECT y, y * 2 FROM cte
