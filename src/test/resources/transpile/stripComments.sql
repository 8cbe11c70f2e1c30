SELECT 1, -- a, b
  2 /* c, d */ , 'x -- y', `q /* z */` # tail, w
FROM t
