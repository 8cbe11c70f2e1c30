SELECT arrayMap((x) -> x + 1, arr), arrayFilter((x, y) -> x > y, a, b), (z) FROM t
