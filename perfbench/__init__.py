"""Benchmark of the mincemeatpy_spark job path: ``mapreduce()`` jobs and
registry queries, timed end to end and traced by layer (see README.md)."""
