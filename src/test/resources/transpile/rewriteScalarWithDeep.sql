SELECT * FROM (WITH 1 AS one, one + 1 AS two SELECT two, one FROM t) WHERE x IN (WITH 2 AS k SELECT k)
