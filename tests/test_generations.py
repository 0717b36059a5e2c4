"""The generation store (engine/generations.py): its layout decisions
live in that one module, and its driver-side file operations accept
``file:`` URIs."""

from __future__ import annotations

import os

import pytest

from full_stack_big_data_spark.engine.generations import (
    committed, local_path, vacuum_superseded)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(HERE, "full_stack_big_data_spark")
STORE = os.path.join("engine", "generations.py")


def _sources() -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    out[os.path.relpath(path, PKG)] = fh.read()
    return out


def test_layout_decisions_live_only_in_the_store():
    """The epoch-append layout, the commit-record name and directory
    deletion each have one home; a second copy anywhere in the package
    is design drift back to per-family lifecycles."""
    src = _sources()
    assert STORE in src

    def holders(pred):
        return sorted(name for name, text in src.items() if pred(text))

    assert holders(lambda t: 'partitionBy("batch_id")' in t) == [STORE]
    # verify-store indexes are keyed generations: write_generation only
    assert holders(lambda t: 'partitionBy("band")' in t
                   or 'partitionBy("table_id")' in t) == []
    assert holders(lambda t: "partitionOverwriteMode" in t
                   and "batch_id" in t) == [STORE]
    assert holders(lambda t: '"_SUCCESS"' in t) == [STORE]
    assert holders(lambda t: "shutil.rmtree" in t) == sorted(
        [STORE, os.path.join("engine", "scratch.py")])


def test_local_path_strips_file_scheme_and_refuses_others(tmp_path):
    p = str(tmp_path / "gen")
    assert local_path(p) == p
    assert local_path("file://" + p) == p
    assert local_path("file:" + p) == p
    with pytest.raises(ValueError, match="s3a://bucket/gen"):
        local_path("s3a://bucket/gen")


def test_vacuum_accepts_file_uris(tmp_path):
    gen2, old = tmp_path / "gen2", tmp_path / "old"
    gen2.mkdir()
    (gen2 / "_SUCCESS").touch()
    old.mkdir()
    (old / "part-00000.parquet").write_bytes(b"x" * 10)
    assert committed("file://" + str(gen2))
    stats = vacuum_superseded(["file://" + str(gen2)],
                              ["file://" + str(old)])
    assert stats["deleted"] == ["file://" + str(old)]
    assert stats["bytes_reclaimed"] == 10
    assert not old.exists() and gen2.exists()


def test_codebook_round_trips_through_a_file_uri(spark, tmp_path):
    import numpy as np

    from full_stack_big_data_spark.operators.similarity import (
        _pq_codebooks, _read_pq_codebook, _write_pq_codebook)

    cb = _pq_codebooks()
    path = tmp_path / "gen" / "_codebook"
    _write_pq_codebook(cb, "file://" + str(path))
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-00000.parquet"]
    assert np.array_equal(
        _read_pq_codebook(spark, "file://" + str(path)), cb)


def test_codebook_overwrite_replaces_a_spark_written_dir(spark, tmp_path):
    """A codebook directory first written by a Spark job (part files
    with generated names, .crc checksums) holds only the new file and
    its commit record after the driver-side overwrite."""
    import numpy as np

    from full_stack_big_data_spark.operators.similarity import (
        _pq_codebooks, _read_pq_codebook, _write_pq_codebook)

    path = str(tmp_path / "_codebook")
    (spark.createDataFrame([(0, 0, [1, 2])],
                           "sub int, cell int, w array<bigint>")
     .repartition(2).write.parquet(path))
    assert any(f.endswith(".crc") for f in os.listdir(path))
    cb = _pq_codebooks()
    _write_pq_codebook(cb, path)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-00000.parquet"]
    assert np.array_equal(_read_pq_codebook(spark, path), cb)
