SELECT f(x)) FROM t
