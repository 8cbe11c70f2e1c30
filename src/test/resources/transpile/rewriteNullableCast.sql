SELECT CAST(s AS Nullable(Int32)), CAST(s AS Nullable(String)), CAST(f(s, 1) AS Nullable(DateTime64))
