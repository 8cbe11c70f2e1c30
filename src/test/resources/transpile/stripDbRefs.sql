SELECT * FROM test.t JOIN default.u USING (k)
SELECT 'test.t', `test`.x FROM db1.t
SELECT * FROM system.one, system . numbers, `system`.`one`, system /* c */ . numbers_mt
SELECT "test.t" FROM test.t
SELECT x FROM t ARRAY JOIN nest.x
INSERT INTO db.t VALUES (1)
