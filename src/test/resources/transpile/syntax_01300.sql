SELECT a, b FROM t WHERE a = 1 ORDER BY b
select count(*), count(1), sum(1), count(DISTINCT a, b) from t group by a
SELECT sum(a * 2), min(3 + a), max(a * -2), avg(a - 1), min(1 + a - 1), min(1 + a * 2) FROM t
SELECT uniq(-a, negate(b), bitNot(c)), uniqExact(-(a)) FROM t
SELECT * FROM t
SELECT * FROM t2 AS x WHERE x.y > 0
SELECT DISTINCT a FROM (SELECT DISTINCT a FROM t ORDER BY a) ORDER BY a
SELECT a FROM t WHERE s LIKE 'abc' AND s NOT LIKE 'x' AND s LIKE 'a%' AND s LIKE 'a\_b'
SELECT a = 1 ? 'x' : a = 2 ? 'y' : 'z', if(a, 1, if(b, 2, 3)) FROM t
SELECT toString(a), a + 1, count() FROM t GROUP BY toString(a), a + 1, a
SELECT a, any(a), max(b), sum(b) FROM t GROUP BY a, b
SELECT transform(a, [1, 2], ['x', 'b'], 'c') FROM t
SELECT 1 UNION ALL (SELECT 2 UNION ALL SELECT 3) UNION ALL SELECT 4
SELECT 1 UNION DISTINCT SELECT 2 UNION ALL SELECT 3
SELECT 1 INTERSECT SELECT 2 EXCEPT SELECT 3
(SELECT 1) UNION ALL SELECT 2
SELECT '-1'::Int32, [1, 2]::Array(UInt32), (1 + 2)::UInt32, -1::Int32, 1.5::Float64, CAST(x, 'String')::String FROM t
SELECT negate(1), - -1, -0, (-1), (1), 1 IN (-1), NOT NOT NOT 1, NOT (NOT 1) FROM t
SELECT n * n + 1, (2 * n) * n, (str = 'a') AND (id = 1) OR x > 2 FROM t
WITH 1 AS x, y AS (SELECT 2) SELECT x FROM t LIMIT 1, 2
SELECT a FROM t1 INNER JOIN t2 ON t1.a = t2.x LEFT JOIN t3 USING (a) ARRAY JOIN arr AS e WHERE a IN (SELECT 1) HAVING count() > 1 SETTINGS max_threads = 1
SELECT a AS b, b AS c FROM t PREWHERE a > 1 WHERE b < 2 ORDER BY a DESC, b ASC LIMIT 10 BY a
SELECT '\_hello', 'a\'b', 'c\\d', 'tab\t' FROM t
SELECT x FROM t ORDER BY x WITH FILL FROM 1 TO 10 STEP 2
