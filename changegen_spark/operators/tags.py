"""Tag projection and hstore handling (SURVEY §2.2 P1/P2, §2.7 F12).

Parity target: P2 hstore parse + merge with column precedence — hstore
keys are added only when not already present as a column tag
(``changegen/db.py:7-25``, ``changegen/generator.py:190-203``).  P1, the
column-to-tag projection, is ``pipeline._tags_map``.

Spark-first: the per-row dict building becomes whole-column ``map_*``
expressions.  No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_hstore(col: Column) -> Column:
    """Parse a Postgres hstore literal ``"k"=>"v", "k2"=>"v2"`` to a map.

    Value-preserving (SURVEY §7 risk 5): unlike the reference's naive
    split-on-``", ``-and-strip-quotes parser (``changegen/db.py:20-21``) we
    only strip the *delimiting* quotes, so embedded commas survive.
    """
    # "k"=>"v" pairs: match quoted key and quoted value lazily.
    pairs = F.regexp_extract_all(col, F.lit(r'"((?:[^"\\]|\\.)*)"\s*=>\s*"((?:[^"\\]|\\.)*)"'), 0)
    kv = F.transform(
        pairs,
        lambda p: F.struct(
            F.regexp_extract(p, r'"((?:[^"\\]|\\.)*)"\s*=>', 1).alias("key"),
            F.regexp_extract(p, r'=>\s*"((?:[^"\\]|\\.)*)"', 1).alias("value"),
        ),
    )
    return F.map_from_entries(kv)


def merge_hstore_tags(col_tags: Column, hstore_map: Column) -> Column:
    """P2: merge hstore keys under column precedence.

    hstore entries whose key already exists among the column tags are
    discarded (``generator.py:190-203``).
    """
    hs = F.coalesce(hstore_map, F.create_map().cast("map<string,string>"))
    filtered = F.map_filter(hs, lambda k, _: ~F.array_contains(F.map_keys(col_tags), k))
    return F.map_concat(col_tags, filtered)
