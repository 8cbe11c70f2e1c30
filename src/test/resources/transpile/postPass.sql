SELECT CAST(x, 'UInt8'), CAST(y, 'Decimal(10, 3)'), count(), 'count()' FROM t LIMIT 5, 10
