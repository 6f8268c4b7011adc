"""Training-shard export: deterministic placement and bytes, manifest
round-trip verification, and tamper detection."""

import glob
import hashlib
import json
import os

from changegen_spark.sinks.shards import (
    verify_training_shards,
    write_training_shards,
)


def _file_md5s(path):
    out = {}
    for p in sorted(glob.glob(os.path.join(path, "shard=*", "*.json"))):
        with open(p, "rb") as f:
            out[os.path.relpath(p, path)] = hashlib.md5(f.read()).hexdigest()
    return out


def test_shard_export_deterministic_and_verifiable(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text", "lang")
        .filter("doc_id < 60")
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    m1 = write_training_shards(docs, p1, "doc_id", n_shards=4)
    m2 = write_training_shards(docs.repartition(7), p2, "doc_id", n_shards=4)

    assert m1 == m2  # manifest independent of input partitioning
    assert m1["total_rows"] == 60
    assert set(m1["shards"]) == {0, 1, 2, 3}
    # shard FILES are byte-identical across runs and input partitionings
    f1, f2 = _file_md5s(p1), _file_md5s(p2)
    assert list(f1.values()) == list(f2.values())
    assert len(f1) == 4  # exactly one file per shard

    chk = verify_training_shards(spark, p1)
    assert chk["ok"], chk

    # tamper with one shard file -> verification must fail.  Hadoop's
    # local-FS .crc sidecar already rejects naive edits (ChecksumException)
    # — remove it to simulate a consistent tamper; the MANIFEST must still
    # catch the changed content.
    victim = sorted(glob.glob(os.path.join(p1, "shard=*", "*.json")))[0]
    crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
    os.remove(crc)
    with open(victim) as f:
        lines = f.readlines()
    doc = json.loads(lines[0])
    doc["text"] = doc["text"] + " tampered"
    lines[0] = json.dumps(doc) + "\n"
    with open(victim, "w") as f:
        f.writelines(lines)
    assert not verify_training_shards(spark, p1)["ok"]
