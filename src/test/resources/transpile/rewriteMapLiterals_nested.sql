SELECT {'a': 1, 'b': (2)}, m{'c'}, {'c': {'d': [3]}} FROM t
