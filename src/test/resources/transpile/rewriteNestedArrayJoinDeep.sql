SELECT (SELECT sum(arrayJoin([1, 2]) * 2)) AS s, arrayJoin([1, 2]) + 1 AS r, arrayJoin([1, 2]) * 3 FROM t
