SELECT s FROM t ORDER BY lower(s) COLLATE 'tr', t.s COLLATE 'en' DESC, s COLLATE 'ru'
