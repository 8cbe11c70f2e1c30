SELECT CAST( y , 'String'), CAST( y , 'Decimal(10, 3)') FROM t
