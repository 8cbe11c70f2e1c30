SELECT x MOD 3, (y) MOD 2, mod(4, 3), 7 MOD 2 FROM t WHERE MOD(z, 2) = 0
