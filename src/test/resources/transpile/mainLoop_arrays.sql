SELECT [1, 2][1], [[1], [2]], arr[2], m{'k'}, {'a': 1}, t.1, (x, y).2.1 FROM t
