SELECT x > 0 ? 'pos' : x < 0 ? 'neg' : 'zero', arrayMap(e -> e ? 1 : 2, arr), y::String FROM t
