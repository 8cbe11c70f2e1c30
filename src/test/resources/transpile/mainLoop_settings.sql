SELECT quantile(0.5)(x), sequenceMatch('(?1)')(ts, c1) FROM (SELECT x FROM t SETTINGS max_threads = 1) SETTINGS max_block_size = 10
