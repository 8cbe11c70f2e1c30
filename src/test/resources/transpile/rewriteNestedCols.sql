SELECT gnest.x, n.y, db.gnest.x FROM t ARRAY JOIN gnest AS n
