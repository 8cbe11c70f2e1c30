SELECT 0x1F, 0xFFFFFFFFFFFFFFFF, 0.1, 1., .5, 1e3, 'a\x41\xAA', inf, nan, dummy, dateDiff('day', a, b), DATETIME '2020-01-01 00:00:00', '1-2' YEAR_MONTH
