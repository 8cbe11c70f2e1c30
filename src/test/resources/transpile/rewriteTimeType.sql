SELECT '2021 01-02 10:00:00'::DateTime, TIME'12:00:00', x::Time(6), f(a, b)::Time, (c + 1)::Time, CAST(y AS Time), CAST(z, 'Time(3)') FROM t
