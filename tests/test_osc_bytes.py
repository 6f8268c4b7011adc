"""Exact bytes of the .osc sinks on a hand-built element frame, and the
coordinate expression against Python's ``f"{v:.9f}"``.

The golden document was written by the Python-side formatter the sinks
used before their XML moved into one Spark SQL expression, with its two
null-value lines since corrected; both writers and the gzip mode must
produce it byte for byte."""

import gzip
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

# (change_type, kind, id, version, lat, lon, nds, members, tags), unsorted
ROWS = [
    ("delete", "relation", 22, 1, None, None, None, None, None),
    ("create", "way", 3, 1, None, None, [1, 2], None,
     {"é": "ü", "\uffff": "bmp-max", "\U0001d11e": "astral", "a": None}),
    ("create", "node", 1, 1, 5e-10, -5e-10, None, None,
     {"name": 'a&b<c>"d"', "note": "x\ny\rz\tw"}),
    ("create", "node", -5, 1, -0.0, 1 / 1024, None, None, None),
    ("create", "relation", 4, 1, None, None, None,
     [(3, "way", "outer"), (1, "node", None), (-5, "node", "")],
     {"type": "multipolygon"}),
    ("create", "node", 2, 1, 48.123456789, -122.5, [], None, {}),
    ("modify", "way", 11, 3, None, None, [10, 1], None, None),
    ("modify", "relation", 12, 2, None, None, None, [(11, "way", "inner")], None),
    ("modify", "node", 10, 2, -1e-12, 180.0, None, None, {"k": "v"}),
    ("delete", "node", 20, 1, None, None, None, None, None),
    ("delete", "way", 21, 1, None, None, None, None, {}),
]

# A null tag value drops its tag; a null member role prints ``role=""``.
GOLDEN = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<osmChange version="0.6" generator="changegen_spark">\n'
    "<create>\n"
    '<node id="-5" version="1" lat="-0.000000000" lon="0.000976562"/>\n'
    '<node id="1" version="1" lat="0.000000001" lon="-0.000000001">\n'
    '  <tag k="name" v="a&amp;b&lt;c&gt;&quot;d&quot;"/>\n'
    '  <tag k="note" v="x&#10;y&#13;z&#9;w"/>\n'
    "</node>\n"
    '<node id="2" version="1" lat="48.123456789" lon="-122.500000000"/>\n'
    '<way id="3" version="1">\n'
    '  <tag k="é" v="ü"/>\n'
    '  <tag k="\uffff" v="bmp-max"/>\n'
    '  <tag k="\U0001d11e" v="astral"/>\n'
    '  <nd ref="1"/>\n'
    '  <nd ref="2"/>\n'
    "</way>\n"
    '<relation id="4" version="1">\n'
    '  <tag k="type" v="multipolygon"/>\n'
    '  <member type="way" ref="3" role="outer"/>\n'
    '  <member type="node" ref="1" role=""/>\n'
    '  <member type="node" ref="-5" role=""/>\n'
    "</relation>\n"
    "</create>\n"
    "<modify>\n"
    '<node id="10" version="2" lat="-0.000000000" lon="180.000000000">\n'
    '  <tag k="k" v="v"/>\n'
    "</node>\n"
    '<way id="11" version="3">\n'
    '  <nd ref="10"/>\n'
    '  <nd ref="1"/>\n'
    "</way>\n"
    '<relation id="12" version="2">\n'
    '  <member type="way" ref="11" role="inner"/>\n'
    "</relation>\n"
    "</modify>\n"
    "<delete>\n"
    '<node id="20" version="1" lat="0.000000000" lon="0.000000000"/>\n'
    '<way id="21" version="1"/>\n'
    '<relation id="22" version="1"/>\n'
    "</delete>\n"
    "</osmChange>\n"
).encode()


def test_osc_golden_bytes(spark, tmp_path):
    from changegen_spark.sinks.oscxml import (
        ELEMENT_SCHEMA,
        write_osmchange,
        write_osmchange_sharded,
    )

    df = spark.createDataFrame(ROWS, ELEMENT_SCHEMA)
    counts = {"create": 5, "modify": 3, "delete": 3}
    plain = os.path.join(tmp_path, "driver.osc")
    sharded = os.path.join(tmp_path, "sharded.osc")
    gz = os.path.join(tmp_path, "driver.osc.gz")
    assert write_osmchange(df, plain) == counts
    assert write_osmchange_sharded(df, sharded, shards_per_block=2) == counts
    assert write_osmchange(df, gz, compress=True) == counts
    with open(plain, "rb") as f:
        assert f.read() == GOLDEN
    with open(sharded, "rb") as f:
        assert f.read() == GOLDEN
    with gzip.open(gz, "rb") as f:
        assert f.read() == GOLDEN


@pytest.mark.parametrize("writer", ["driver", "sharded"])
def test_unknown_change_type_raises_and_leaves_no_file(spark, tmp_path, writer):
    """A ``change_type`` outside create/modify/delete is an error in both
    writers, and no partial changefile is left behind."""
    from changegen_spark.sinks.oscxml import (
        ELEMENT_SCHEMA,
        write_osmchange,
        write_osmchange_sharded,
    )

    df = spark.createDataFrame(
        [
            ("create", "node", 1, 1, 1.0, 2.0, None, None, None),
            ("Create", "node", 2, 1, 3.0, 4.0, None, None, None),
        ],
        ELEMENT_SCHEMA,
    )
    path = os.path.join(tmp_path, f"{writer}.osc")
    write = write_osmchange if writer == "driver" else write_osmchange_sharded
    with pytest.raises(ValueError, match="change_type .* got 'Create'"):
        write(df, path)
    assert not os.path.exists(path)


def test_coord_matches_python_format(spark):
    from changegen_spark.sinks.oscxml import _coord

    rng = np.random.default_rng(20260)
    values = np.concatenate(
        [
            rng.uniform(-180.0, 180.0, 200_000),
            rng.uniform(-2e-9, 2e-9, 20_000),
            np.arange(-180 * 1024, 180 * 1024 + 1) / 1024,  # dyadic ties at 1e-10
            [-0.0, 0.0, 1e-12, -1e-12, 5e-10, -5e-10, 180.0, -180.0],
        ]
    )
    got = (
        spark.createDataFrame(pd.DataFrame({"v": values}))
        .select("v", _coord(F.col("v")).alias("s"))
        .toPandas()
    )
    bad = [(v, s) for v, s in zip(got["v"], got["s"]) if s != f"{v:.9f}"]
    assert not bad, f"{len(bad)} of {len(got)} differ, e.g. {bad[:5]}"
