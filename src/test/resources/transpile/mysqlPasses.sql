SELECT 1 + 0 ^ 31 AS 'r', f(x) ^ (y) AS 'it''s', -a ^ b, c ^ g(1)::Int32 FROM t
