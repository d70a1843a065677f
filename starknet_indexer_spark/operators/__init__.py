"""Reusable distributed operators that Spark lacks as built-ins.

Each operator is a *library function over DataFrames* — composition of
Catalyst expressions first (SURVEY.md §4 conclusion: no custom rules
required), Pandas UDFs only where column expressions genuinely can't
express the semantics.

- ``dedup``       — MinHash+LSH / SimHash near-duplicate detection
- ``similarity``  — LSH-bucketed approximate nearest neighbors
"""

from . import dedup, similarity  # noqa: F401
