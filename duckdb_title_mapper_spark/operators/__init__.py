"""Operator surface: each module is one family from SURVEY.md §2/§2.5.

Import the module you need (``from duckdb_title_mapper_spark.operators
import standardize``).  This package re-exports nothing: unpickling the
standardize UDF in a Python worker imports this package, and a
re-export would drag every family's imports (pandas among them) into
every worker.
"""
