"""Shared DuckDB-oracle SQL fragments mirroring ``functions/text.py``'s
normalization recipe — ONE definition so a change to the Spark-side
``normalize``/``tokens_of_norm``/``shingles_of_norm`` chain has exactly one
oracle mirror to update (previously five verbatim copies across query
modules could drift independently).

No ``@register`` calls here: registry insertion order is driver-visible,
so this module is import-safe from anywhere.
"""

from __future__ import annotations

#: mirror of functions/text.normalize(): lowercase, strip non-alnum to
#: spaces, collapse runs, trim. The Spark side calls no ``lower`` (Spark's
#: goes through ICU, whose first use in a JVM costs ~2.5 s): it translates
#: A-Z and the Kelvin sign U+212A, and turns U+0130 into "i ", the only
#: non-ASCII code points whose lowercase holds [a-z0-9]. This ``lower`` is
#: DuckDB's, which costs nothing like that, but it maps U+0130 to a bare
#: "i" where Spark's gives "i" + U+0307 (a space once stripped), so U+0130
#: is replaced with "i " first. ``tests/test_normalize_equivalence.py``
#: checks the two sides on every code point.
_NORM = ("trim(regexp_replace(regexp_replace(lower(replace(text, '\u0130', 'i ')),"
         " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")

#: mirror of functions/text.tokens_of_norm(): empty text → empty array
_TOKS = (f"CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[]) "
         f"ELSE string_split({_NORM}, ' ') END")

#: mirror of functions/dedup.shingles_of_norm(k=5) + array_distinct
_SHINGLES = (f"list_distinct(list_transform("
             f"range(1, greatest(length({_NORM}) - 4, 1) + 1),"
             f" i -> substr({_NORM}, CAST(i AS INTEGER), 5)))")
