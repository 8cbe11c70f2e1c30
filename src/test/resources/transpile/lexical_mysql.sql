SELECT `a,b`, `f(x`, c FROM `t,1`
SELECT "a(b", "it's", "x,y" FROM t
SELECT 1 # hash comment, x
SELECT 1, -- dash comment, (
 2
SELECT /* block, ( */ 1, 2
SELECT　1, 2
SELECT a$b, $c, d$ FROM t
SELECT 1.5e-3, 2E+4, .5, 1.e2 FROM t
SELECT arrayMap(x -> x + 1, [1]) FROM t WHERE a <= 1 AND b >= 2 AND c != 3 AND d <> 4 AND e == 5 AND f || 'g' = 'h'
SELECT 'a(b', ')', '\'', 'x''y' FROM t
SELECT f(')')[1], g('(')[2]
SELECT {'a': 1, 'b': (2)}, m{'k'}
SELECT 1; SELECT 'a;b'; SELECT `c;d`; SELECT "e;f"
SELECT "a -- b", "c # d", "e /* f */" AS "alias"
SELECT CAST("String" AS String), "dummy", arr[1] FROM t
SELECT　1, 2, a AS　b FROM t
