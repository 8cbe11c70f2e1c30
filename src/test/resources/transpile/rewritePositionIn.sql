SELECT position('b' IN s), position(s, 'b'), positionCaseInsensitive(lower(s) IN 'x') FROM t
