a, b, c
f(a, b), [1, 2], {'k': 1, 'j': 2}, (x, y)
'a,b', 'c\',d', e
`a,b`, `c(d`, e
"a,b", "c(d", e
x -- c, d
, y
a /* b, c */, d
a # b, c
(a, b
a), (b

  spaced  ,　wide　, nb
x = 1, y = (2, 3), z = 'a=b'
a$b, c
'unterminated, x
`unterminated, x
a b,　c, 'd　e'
