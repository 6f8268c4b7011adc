"""Ordered OSMChange (.osc) XML sink (SURVEY §2.1 S10/S11).

Parity target: ``OSMChangeWriter`` (``changegen/changewriter.py:92-191``) —
an ``<osmChange>`` document with ``<create>/<modify>/<delete>`` blocks whose
elements are ``<node>/<way>/<relation>`` with nested ``<tag>/<nd>/<member>``
children, optionally gzip-compressed (``changewriter.py:120-123``).

Spark-first shape: the change set is a DataFrame with the unified element
schema (see ``ELEMENT_SCHEMA``).  One serializer, ``_xml_fragment``, renders
each element's XML as a single Spark SQL expression on the executors; both
writers use it.  ``write_osmchange`` is the one deliberately driver-side
stage of the engine — ``toLocalIterator`` streams the sorted fragments into
the file, so the driver never holds the full changefile.  Changefiles are ≪
cluster data by construction (they are diffs), so a single ordered file is
the right contract; for huge diffs ``write_osmchange_sharded`` writes the
fragments as text shards and the driver concatenates their bytes.

Determinism contract (SURVEY §7 risk 2): block order create→modify→delete;
within a block elements sort by (kind: node<way<relation, id).  Referential
integrity across blocks is NOT enforced, matching ``changewriter.py:171-173``.
A ``change_type`` other than create/modify/delete makes both writers raise
the same ``ValueError`` and leave no file at ``path``.
"""

from __future__ import annotations

import gzip
import os
from typing import IO

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from changegen_spark.operators.fence import fence

ELEMENT_SCHEMA = StructType(
    [
        StructField("change_type", StringType()),  # create | modify | delete
        StructField("kind", StringType()),  # node | way | relation
        StructField("id", LongType()),
        StructField("version", IntegerType()),
        StructField("lat", DoubleType()),  # nodes only
        StructField("lon", DoubleType()),  # nodes only
        StructField("nds", ArrayType(LongType())),  # ways only
        StructField(
            "members",
            ArrayType(
                StructType(
                    [
                        StructField("ref", LongType()),
                        StructField("type", StringType()),
                        StructField("role", StringType()),
                    ]
                )
            ),
        ),  # relations only
        StructField("tags", MapType(StringType(), StringType())),
    ]
)

_CHANGE_ORDER = {"create": 0, "modify": 1, "delete": 2}
_KIND_ORDER = {"node": 0, "way": 1, "relation": 2}


def _check_block(block) -> None:
    """Raise on a ``change_type`` that names no ``.osc`` block."""
    if block not in _CHANGE_ORDER:
        raise ValueError(
            f"change_type must be one of {list(_CHANGE_ORDER)}, got {block!r}"
        )


def _to_element_schema(elements: DataFrame) -> DataFrame:
    """The ``ELEMENT_SCHEMA`` columns in order; absent ones are typed nulls."""
    return elements.select(
        *[
            F.col(f.name) if f.name in elements.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in ELEMENT_SCHEMA.fields
        ]
    )


def _rank(order: dict[str, int], col: str):
    """``order[col]`` as a column: the sort rank of a block or kind name."""
    return F.element_at(
        F.create_map(*[x for k, v in order.items() for x in (F.lit(k), F.lit(v))]),
        F.col(col),
    )


# The document head both writers emit.
_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<osmChange version="0.6" generator="changegen_spark">\n'
)


def _cat(*parts) -> Column:
    """``concat`` of columns and literal strings."""
    return F.concat(*[F.lit(p) if isinstance(p, str) else p for p in parts])


def _str(c: Column) -> Column:
    """``c`` as a string; null reads ``None``, as Python's ``str`` prints it."""
    return F.coalesce(c.cast("string"), F.lit("None"))


def _esc(c: Column) -> Column:
    """XML attribute-value escaping (double-quoted attributes) of ``_str(c)``.

    Whitespace controls become character references — a literal newline in
    an attribute would be normalized to a space by any conforming parser.
    """
    out = _str(c)
    for ch, ref in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
                    ("\n", "&#10;"), ("\r", "&#13;"), ("\t", "&#9;")):
        out = F.replace(out, F.lit(ch), F.lit(ref))
    return out


def _coord(c: Column) -> Column:
    """Fixed 9-dp coordinate, ``f"{v:.9f}"`` of ``coalesce(c, 0.0)``.

    Delete placeholders carry lat/lon 0 (changegen/generator.py:925).
    ``format_number`` rounds like Python everywhere but at exactly ±5e-10,
    which the JVM prints as ±0.000000000 and Python as ±0.000000001.
    """
    v = F.coalesce(c, F.lit(0.0))
    return (
        F.when(v == 5e-10, "0.000000001")
        .when(v == -5e-10, "-0.000000001")
        .otherwise(F.call_function("format_number", v, F.lit("0.000000000")))
    )


def _xml_fragment() -> Column:
    """One element of ``ELEMENT_SCHEMA`` as its XML, without the last newline.

    ``<tag>`` children come first, then ``<nd>``/``<member>`` — the reference
    writer's child order (changewriter.py:71-86).  Tags go in key order:
    map columns are unordered, the file is not.  ``sort_array`` on strings
    is code-point order, the same as Python's ``sorted``.  A tag whose value
    is null is dropped (as ``operators/tags.py`` drops null columns), and a
    null member role prints as ``role=""``.
    """
    kind, tags = _str(F.col("kind")), F.col("tags")
    head = _cat(
        "<", kind, ' id="', _str(F.col("id")), '" version="', _str(F.col("version")), '"',
        F.when(
            kind == "node",
            _cat(' lat="', _coord(F.col("lat")), '" lon="', _coord(F.col("lon")), '"'),
        ).otherwise(""),
    )
    # concat_ws skips null arrays: an absent child list adds nothing
    children = F.concat_ws(
        "",
        F.transform(
            F.sort_array(F.map_keys(tags)),
            lambda k: F.when(  # a null value's null fragment is skipped
                tags[k].isNotNull(),
                _cat('  <tag k="', _esc(k), '" v="', _esc(tags[k]), '"/>\n'),
            ),
        ),
        F.transform("nds", lambda ref: _cat('  <nd ref="', _str(ref), '"/>\n')),
        F.transform(
            "members",
            lambda m: _cat(
                '  <member type="', _esc(m["type"]), '" ref="', _str(m["ref"]),
                '" role="', _esc(F.coalesce(m["role"], F.lit(""))), '"/>\n',
            ),
        ),
    )
    return (
        F.when(children == "", _cat(head, "/>"))
        .otherwise(_cat(head, ">\n", children, "</", kind, ">"))
        .alias("xml")
    )


def write_osmchange_sharded(
    elements: DataFrame,
    path: str,
    shards_per_block: int = 8,
    timings: dict | None = None,
) -> dict[str, int]:
    """Scale-path sink: nothing but file bytes reach the driver.

    Per change block: range-partition by (kind, id) → sort within
    partitions → ``_xml_fragment`` → write.text shard files.  The driver
    only streams header + shard bytes + footer into the final file (pure
    I/O concat, no parsing, no row materialization) — the piece of the
    reference's streaming ``etree.xmlfile`` contract (changewriter.py:133)
    that must NOT be driver-bound at 100 TB.

    Returns per-block counts.  Output is byte-identical to
    ``write_osmchange``.

    ``timings``, if given, receives a {"spark_s", "concat_s"} breakdown —
    distributed serialization+write vs the driver-side shard concat (the
    piece that could become the constant at very large changefiles; the
    concat is a BINARY block copy, no decode/encode, so it runs at disk
    bandwidth — measured r5: <10%% of sink time at 3.8M junction pairs).
    """
    import glob as _glob
    import shutil
    import tempfile
    import time as _time

    elements = _to_element_schema(elements)
    order_kind = _rank(_KIND_ORDER, "kind")

    # ONE execution of the element plan: fence it, then the per-block
    # counts and the three shard writes all read the materialized rows.
    # (The r3 shape ran the full upstream plan up to six times — a count
    # plus a write per change block — measured as the dominant e2e cost
    # at 300×200: sink 13.0 s, of which ~10 s was plan re-execution.)
    elements = elements.transform(
        fence, "write_osmchange_sharded elements", eager=False
    )
    t0 = _time.time()
    counts = {"create": 0, "modify": 0, "delete": 0}
    counts.update(
        {
            r["change_type"]: r["n"]
            for r in elements.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
    )
    spark_s = _time.time() - t0
    for block in counts:
        _check_block(block)
    concat_s = 0.0
    tmp = tempfile.mkdtemp(prefix="osc_shards_")
    try:
        # binary concat: the shard files are already UTF-8 bytes — a text-
        # mode copy would decode+re-encode every byte on the driver
        with open(path, "wb") as out:
            out.write(_HEADER.encode())
            for block in ("create", "modify", "delete"):
                n = counts[block]
                if n == 0:
                    continue
                part = elements.filter(F.col("change_type") == block)
                shard_dir = f"{tmp}/{block}"
                t0 = _time.time()
                # the text sink ends each fragment with its newline
                (
                    part.withColumn("__ko", order_kind)
                    .repartitionByRange(shards_per_block, "__ko", "id")
                    .sortWithinPartitions("__ko", "id")
                    .select(_xml_fragment())
                    .write.mode("overwrite")
                    .text(shard_dir)
                )
                spark_s += _time.time() - t0
                t0 = _time.time()
                out.write(f"<{block}>\n".encode())
                for shard in sorted(_glob.glob(f"{shard_dir}/part-*")):
                    with open(shard, "rb") as f:
                        shutil.copyfileobj(f, out, 1 << 20)
                out.write(f"</{block}>\n".encode())
                concat_s += _time.time() - t0
            out.write(b"</osmChange>\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if timings is not None:
        timings["spark_s"] = round(spark_s, 2)
        timings["concat_s"] = round(concat_s, 2)
    return counts


def write_osmchange(
    elements: DataFrame,
    path: str,
    compress: bool = False,
) -> dict[str, int]:
    """Serialize an element DataFrame to one ordered .osc file.

    Returns per-block element counts (handy for golden-count tests).  The
    sort and the XML rendering are distributed (``orderBy`` and
    ``_xml_fragment`` before ``toLocalIterator``); the driver only streams.
    """
    # The global sort reads its input twice, once to sample the range
    # boundaries and once to shuffle it; behind a lazy fence the sample job
    # stores the element rows and the shuffle reads them back instead of
    # re-running the element plan's last stage.
    fragments = (
        _to_element_schema(elements)
        .transform(fence, "write_osmchange elements", eager=False)
        .orderBy(_rank(_CHANGE_ORDER, "change_type"), _rank(_KIND_ORDER, "kind"), F.col("id"))
        .select("change_type", _xml_fragment())
    )

    counts = {"create": 0, "modify": 0, "delete": 0}
    f: IO[str]
    if compress:
        f = gzip.open(path, "wt", encoding="utf-8")  # S11, changewriter.py:120-123
    else:
        f = open(path, "w", encoding="utf-8")
    current_block: str | None = None
    try:
        f.write(_HEADER)
        for block, xml in fragments.toLocalIterator():
            if block != current_block:
                _check_block(block)
                if current_block is not None:
                    f.write(f"</{current_block}>\n")
                f.write(f"<{block}>\n")
                current_block = block
            counts[block] += 1
            f.write(xml + "\n")
        if current_block is not None:
            f.write(f"</{current_block}>\n")
        f.write("</osmChange>\n")
    except BaseException:
        f.close()
        os.remove(path)  # no truncated changefile
        raise
    f.close()
    return counts
