SELECT 'a;b'; -- c;
INSERT INTO t VALUES (1)
SELECT 2; /* x; */ SELECT 3;
-- { serverError 1 }
