(a, b) rest
(f(x), 'a)b') tail
(`a)b`, c) t
("a)b", c) t
((a)) (b)
(a, b
no paren
(x -- ) y
) z
('a\')', b) c
