SELECT (x + 1 AS y) * 2, y, f('a' AS s), s, CAST(z AS INT), toFixedString(unhex('41' AS hex) AS bytes, 16) FROM t
