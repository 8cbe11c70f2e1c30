SELECT CAST(f(g(x), 1), 'Nullable(UInt8)'), CAST([1, 2], 'Array(String)'), CAST(f(x), 'Decimal(10, 3)') FROM t
