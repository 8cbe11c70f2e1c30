SELECT x FROM t ORDER BY x, y DESC, z NULLS FIRST, f(a, b) ASC, row_number() OVER (ORDER BY w)
