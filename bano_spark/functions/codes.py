"""INSEE / departement code helpers (C9, C10, F4)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dept_from_insee(insee: Column) -> Column:
    """First 2 chars, 3 for overseas '97x' (helpers.py:97-101)."""
    return F.when(F.substring(insee, 1, 2) == "97", F.substring(insee, 1, 3)).otherwise(
        F.substring(insee, 1, 2))


def pseudo_fantoir(insee: Column, i: Column) -> Column:
    """Synthetic FANTOIR code for BAN-only street names:
    f'{insee}b{str(i).ljust(4, "b")}' (sources/ban2fantoir.py:18-19)."""
    return F.concat(insee, F.lit("b"), F.rpad(i.cast("string"), 4, "b"))
