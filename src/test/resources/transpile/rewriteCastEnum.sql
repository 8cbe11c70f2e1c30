SELECT CAST(x AS Enum8('a' = 1, 'b' = 2)), CAST(CAST(y AS Enum16('c' = 3)) AS String) FROM t
