SELECT k, (SELECT k FROM c) FROM a JOIN b ON a.id = b.id WHERE k > 1 AND f.k = 2
