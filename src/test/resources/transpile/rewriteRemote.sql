SELECT count() FROM remote('127.0.0.{1,2}', system.one) WHERE x IN (SELECT x FROM remoteSecure('h', currentDatabase(), 't'))
