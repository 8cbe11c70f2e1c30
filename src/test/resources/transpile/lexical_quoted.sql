SELECT "remote('a', t)" FROM t
SELECT "count()", count() FROM t
SELECT "CAST(x, 'UInt8')", CAST(x, 'UInt8') FROM t
