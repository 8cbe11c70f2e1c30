SELECT * FROM VALUES('x UInt64, s String, z ALIAS x + 1', (1, 'a'), (2, 'b')) WHERE x IN (SELECT * FROM VALUES('a b', 'c'))
