"""Nested-JSON flattening expressions (SURVEY.md §2.A.2, P1-P13).

The reference flattens Spotify's nested JSON row-at-a-time in Python
(`artist['followers']['total']` — Spotify_API.py:82;
`', '.join(artist['genres'])` — Spotify_API.py:83;
`images[0]['url'] if images else ''` — Spotify_API.py:84). Each helper
here is the equivalent Catalyst expression: codegen'd, null-safe, and
column-prunable (selecting `followers.total` prunes the rest of the
struct at the parquet/JSON scan).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_head_or(col, default="") -> Column:
    """P3 — null-guarded array head: `images[0]['url'] if images else ''`
    (Spotify_API.py:84). `try_element_at` returns NULL on empty/NULL
    arrays (ANSI-safe); coalesce supplies the reference's '' default."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.coalesce(F.try_element_at(c, F.lit(1)), F.lit(default))


def array_of_struct_names_joined(col, field: str = "name", sep: str = ", ") -> Column:
    """P4 — `', '.join(a['name'] for a in album['artists'])`
    (Spotify_API.py:144, Spotify_API3.py:186)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.array_join(F.transform(c, lambda a: a[field]), sep)


def array_joined(col, sep: str = ", ", default: str = "") -> Column:
    """P5 — `', '.join(artist['genres'])` with '' default
    (Spotify_API.py:83)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.coalesce(F.array_join(c, sep), F.lit(default))


def safe_get(col, default) -> Column:
    """P6 — `track.get('explicit', False)` (Spotify_API4.py:380-387)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.coalesce(c, F.lit(default))


def duration_min(duration_ms_col="duration_ms") -> Column:
    """P7 — `round(duration_ms/60000, 2)` (Spotify_API4.py:379)."""
    c = duration_ms_col if isinstance(duration_ms_col, Column) else F.col(duration_ms_col)
    return F.round(c / F.lit(60000.0), 2)
