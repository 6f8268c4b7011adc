"""CLI surface test: parquet DB dir + extract dir → .osc, via the real
``python -m changegen_spark`` entry (invoked in-process for session reuse)."""

import os
import xml.etree.ElementTree as ET

import pytest


@pytest.mark.slow
def test_cli_end_to_end(cli_dirs, tmp_path):
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    out = os.path.join(tmp_path, "changes.osc")
    rc = main(
        [
            db,
            "--osmsrc", ext,
            "--output", out,
            "--suffix", "_new",
            "--existing", "original_ways",
            "--deletions", "deleted_ways",
            "--id_offset", "20000",
        ]
    )
    assert rc == 0
    root = ET.parse(out).getroot()
    # same goldens as the API run, minus polygons (not exported here):
    # 24 junctions + 40 way vertices + 25 POIs = 89 create nodes
    assert len(root.findall("./create/node")) == 89
    assert len(root.findall("./create/way")) == 4
    assert len(root.findall("./modify/way")) == 6
    assert len(root.findall("./delete/way")) == 2
    # tags survived the WKT round-trip and suffix discovery
    names = {
        t.attrib["v"]
        for w in root.findall("./create/way")
        for t in w.findall("tag")
        if t.attrib["k"] == "name"
    }
    assert names == {"new-0", "new-1", "new-2", "new-3"}


@pytest.mark.slow
def test_cli_outdir_per_table(cli_dirs, tmp_path):
    """Reference mode: one {table}.osc per discovered table + one per
    deletions table (changegen/__main__.py:232-263)."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    outdir = os.path.join(tmp_path, "osc")
    rc = main(
        [
            db,
            "--osmsrc", ext,
            "--outdir", outdir,
            "--suffix", "_new",
            "--existing", "original_ways",
            "--deletions", "deleted_ways",
            "--id_offset", "20000",
        ]
    )
    assert rc == 0
    trails = ET.parse(os.path.join(outdir, "trails_new.osc")).getroot()
    pois = ET.parse(os.path.join(outdir, "pois_new.osc")).getroot()
    dels = ET.parse(os.path.join(outdir, "deleted_ways.osc")).getroot()
    # trails file: 24 junctions + 40 way vertices; pois file: 25 POI nodes
    assert len(trails.findall("./create/node")) == 64
    assert len(trails.findall("./create/way")) == 4
    assert len(trails.findall("./modify/way")) == 6
    assert len(pois.findall("./create/node")) == 25
    assert len(pois.findall("./create/way")) == 0
    assert len(dels.findall("./delete/way")) == 2


def test_cli_modify_meta_flag(cli_dirs, tmp_path):
    """--modify_meta as a flag over --suffix tables, hstore expanded via
    --hstore_tags (changegen/__main__.py:104-113, generator.py:190-203)."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    out = os.path.join(tmp_path, "meta.osc")
    rc = main(
        [
            db,
            "--osmsrc", ext,
            "--output", out,
            "--suffix", "_mod",
            "--modify_meta",
            "--hstore_tags", "tags",
            "--id_offset", "20000",
        ]
    )
    assert rc == 0
    root = ET.parse(out).getroot()
    mods = root.findall("./modify/way")
    assert len(mods) == 5
    ktags = {t.attrib["k"]: t.attrib["v"] for t in mods[0].findall("tag")}
    assert ktags["surface"] == "gravel"  # hstore-expanded, not a literal
    assert ktags["name"].startswith("mod-")  # column precedence over hstore


def test_cli_modify_meta_existing_guard(cli_dirs):
    """--modify_meta × --existing is rejected (changegen/__main__.py:229-230)."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    with pytest.raises(RuntimeError, match="modify_meta"):
        main(
            [
                db,
                "--osmsrc", ext,
                "--output", "/tmp/never.osc",
                "--modify_meta",
                "--existing", "original_ways",
            ]
        )


def test_cli_no_collisions_fatal(cli_dirs, tmp_path):
    """Collision with extract ids: warn by default, fatal only under
    --no_collisions (changegen/__main__.py:197-208)."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    out = os.path.join(tmp_path, "collide.osc")
    rc = main(
        [
            db,
            "--osmsrc", ext,
            "--output", out,
            "--suffix", "_new",
            "--id_offset", "0",
            "--no_collisions",
        ]
    )
    assert rc == -1
    assert not os.path.exists(out)


def test_cli_collision_warns_by_default(cli_dirs, tmp_path, capsys):
    """The same colliding --id_offset without --no_collisions only warns:
    the run goes on and writes the changefile."""
    from changegen_spark.__main__ import main

    db, ext = cli_dirs
    out = os.path.join(tmp_path, "collide.osc")
    rc = main(
        [
            db,
            "--osmsrc", ext,
            "--output", out,
            "--suffix", "_new",
            "--id_offset", "0",
        ]
    )
    assert rc == 0
    assert "WARNING: Chosen ID offset 0 may cause collisions" in capsys.readouterr().err
    assert os.path.getsize(out) > 0


def test_cli_rejects_multi_geometries(spark, tmp_path):
    from changegen_spark.__main__ import _split_by_gtype
    from changegen_spark.geo.geometry import GEOMETRY

    df = spark.createDataFrame(
        [({"gtype": "MultiLineString", "rings": [[{"x": 0.0, "y": 0.0}]]},)],
        f"geometry {GEOMETRY.simpleString()}",
    )
    with pytest.raises(ValueError, match="Multi"):
        _split_by_gtype(df, "geometry")


def test_query_runner_list_and_oracle():
    """python -m changegen_spark.queries: --list names every registry
    entry; --oracle prints SQL without starting Spark."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "changegen_spark.queries", "--list"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0
    names = out.stdout.split()
    assert "q01_pricing_summary" in names and "q_hll_distinct" in names
    sql = subprocess.run(
        [sys.executable, "-m", "changegen_spark.queries", "q_hll_distinct", "--oracle"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert sql.returncode == 0 and "FROM lineitem" in sql.stdout
    bad = subprocess.run(
        [sys.executable, "-m", "changegen_spark.queries", "q_nope"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert bad.returncode == 2


def test_corpus_cli_end_to_end(spark, sf_dir, tmp_path, capsys):
    """python -m changegen_spark.corpus at the contract thresholds must
    ship exactly the oracle-checked q_corpus_pipeline's documents, as
    manifest-verified shards carrying the packing columns + text."""
    import json

    from changegen_spark.corpus import main
    from changegen_spark.queries.mlprep import q_corpus_pipeline

    out = str(tmp_path / "shards")
    rc = main([sf_dir, "--outdir", out, "--eval-holdout", "19:3", "--verify"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["verified"] is True

    expected = q_corpus_pipeline(spark, sf_dir)
    assert summary["n_docs"] == expected.count()

    spark.catalog.refreshByPath(out)
    shipped = spark.read.json(out + "/shard=*", pathGlobFilter="*.json")
    exp = {
        (r.doc_id, r.seq_id, r.offset_in_seq) for r in expected.collect()
    }
    got = {(r.doc_id, r.seq_id, r.offset_in_seq) for r in shipped.collect()}
    assert got == exp
    assert "text" in shipped.columns


def test_corpus_cli_external_evalset_filters(spark, sf_dir, tmp_path, capsys):
    """--evalset drops every document whose n-gram overlap with the
    shipped artifact exceeds the threshold (and only those)."""
    import json

    from changegen_spark.corpus import main

    out_all = str(tmp_path / "a")
    out_ext = str(tmp_path / "b")
    rc = main([sf_dir, "--outdir", out_all])
    assert rc == 0
    n_all = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["n_docs"]
    rc = main(
        [sf_dir, "--outdir", out_ext,
         "--evalset", "fixtures/evalset_ngrams.parquet",
         "--max-contamination", "0.0"]
    )
    assert rc == 0
    n_ext = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["n_docs"]
    assert 0 < n_ext < n_all  # planted contaminated docs are removed


@pytest.mark.slow
def test_corpus_cli_incremental_against_persisted(spark, sf_dir, tmp_path, capsys):
    """--persist-corpus / --against round trip: every overlapping document
    of day-1 (exact content dup of the day-0 corpus) is dropped before
    the pipeline; the persisted artifact union covers both days."""
    import json
    import os

    from changegen_spark.corpus import main
    from changegen_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    day0, day1 = str(tmp_path / "day0"), str(tmp_path / "day1")
    docs.filter("doc_id < 300").write.parquet(
        os.path.join(day0, "documents.parquet")
    )
    docs.filter("doc_id >= 150").write.parquet(
        os.path.join(day1, "documents.parquet")
    )
    overlap = docs.filter("doc_id >= 150 AND doc_id < 300").count()
    assert overlap > 0

    rc = main([day0, "--outdir", str(tmp_path / "s0"),
               "--persist-corpus", "t_cli_day0"])
    assert rc == 0
    s0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s0["persisted_corpus"] == "t_cli_day0"

    rc = main([day1, "--outdir", str(tmp_path / "s1"),
               "--against", "t_cli_day0", "--persist-corpus", "t_cli_day1"])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # every overlap doc is an exact dup of the corpus; near-dup flags may
    # remove more
    assert s1["n_dropped_incremental"] >= overlap

    # the unioned day-1 artifact now covers day-0 content too: a re-run of
    # day0 against it drops everything
    rc = main([day0, "--outdir", str(tmp_path / "s2"),
               "--against", "t_cli_day1"])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["n_dropped_incremental"] == 300
    assert s2["n_docs"] == 0
