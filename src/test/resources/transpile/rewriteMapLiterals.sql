SELECT {'a': 1, 'b': (2)}, map{'c': {'d': 3}} FROM t
