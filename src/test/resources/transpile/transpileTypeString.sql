SELECT CAST(x, 'Nullable(Array(LowCardinality(Decimal32(2))))'), CAST(y, 'Array(Enum8(''a'' = 1))')
