SELECT dummy, (SELECT dummy + 1) GROUP BY dummy ORDER BY dummy
