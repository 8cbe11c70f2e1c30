SELECT CAST(f(g(x), 1), 'Nullable(UInt8)'), CAST([1, 2], 'Array(String)') FROM t
