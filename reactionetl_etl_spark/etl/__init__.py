"""ETL pipeline: cleanse → load → enrich → audit, incrementally.

Spark-first re-expression of the reference's batch ETL
(/root/reference/main.py:6-50). The per-file Python loop becomes
partition parallelism; PostgreSQL COPY/UPDATE become parquet appends and
a broadcast join; directory moves become an audit-log anti-join.
"""
