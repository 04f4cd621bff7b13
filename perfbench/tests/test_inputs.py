"""Seeded inputs: seed 0 is the identity, every seed's remap is a
bijection onto the same values, and the copy keeps rows and layout."""

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.inputs import (Digester, Oracles, build_seed_copy,
                              permutation, remap, scale_dir, seed_invariant)

ROOT = Path(__file__).resolve().parents[2]


def test_seed_zero_is_identity():
    domain = np.array([1, 5, 9, 12])
    assert (permutation(domain, 0, "suppkey") == domain).all()
    col = np.array([9, 1, 1, 12])
    assert (remap(col, domain, permutation(domain, 0, "suppkey"))
            == col).all()


@pytest.mark.parametrize("seed", [1, 2, 7, 12345])
def test_every_seed_is_a_bijection(seed):
    domain = np.arange(1, 1001)
    image = permutation(domain, seed, "suppkey")
    assert sorted(image.tolist()) == domain.tolist()
    mapped = remap(domain, domain, image)
    assert len(set(mapped.tolist())) == len(domain)
    # deterministic per seed, different across seeds and salts
    assert (permutation(domain, seed, "suppkey") == image).all()
    assert not (permutation(domain, seed + 1, "suppkey") == image).all()
    assert not (permutation(domain, seed, "doc_id") == image).all()


def _write(path, table):
    pq.write_table(table, path, row_group_size=table.num_rows,
                   compression="snappy")


def test_seed_copy_keeps_rows_order_and_joins(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    _write(src / "lineitem.parquet", pa.table({
        "l_suppkey": pa.array([3, 1, None, 2, 3], pa.int64()),
        "l_quantity": [1.0, 2.0, 3.0, 4.0, 5.0]}))
    _write(src / "supplier.parquet", pa.table({
        "s_suppkey": pa.array([1, 2, 3], pa.int64()),
        "s_name": ["a", "b", "c"]}))
    _write(src / "documents.parquet", pa.table({
        "doc_id": pa.array([10, 20, 30], pa.int64()),
        "text": ["x", "y", "z"]}))
    build_seed_copy(src, dst, seed=4)
    li = pq.read_table(dst / "lineitem.parquet")
    su = pq.read_table(dst / "supplier.parquet")
    docs = pq.read_table(dst / "documents.parquet")
    assert li.column("l_quantity").to_pylist() == [1.0, 2.0, 3.0, 4.0, 5.0]
    keys = li.column("l_suppkey").to_pylist()
    assert keys[2] is None
    assert keys[0] == keys[4]
    assert sorted(set(k for k in keys if k is not None)) == [1, 2, 3]
    # both supplier-key columns pass through the same bijection
    name_of = dict(zip(su.column("s_suppkey").to_pylist(),
                       su.column("s_name").to_pylist()))
    assert name_of[keys[0]] == "c" and name_of[keys[1]] == "a"
    assert sorted(docs.column("doc_id").to_pylist()) == [10, 20, 30]
    assert docs.column("text").to_pylist() == ["x", "y", "z"]
    assert pq.ParquetFile(dst / "lineitem.parquet").metadata \
        .num_row_groups == 1


def test_seed_zero_copy_is_byte_identical(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    _write(src / "supplier.parquet", pa.table({"s_suppkey": [1, 2]}))
    build_seed_copy(src, dst, seed=0)
    assert ((dst / "supplier.parquet").read_bytes()
            == (src / "supplier.parquet").read_bytes())


def test_digest_ignores_row_and_column_order():
    d = Digester(ROOT)
    a = d.digest(["b", "a"], [(1.0, "x"), (float("nan"), None)])
    b = d.digest(["a", "b"], [(None, float("nan")), ("x", 1.0)])
    assert a == b and a["rows"] == 2
    assert d.digest(["a", "b"], [("x", 1.1)]) != d.digest(["a", "b"],
                                                           [("x", 1.0)])


def test_oracle_reading_a_golden_fixture_is_refused(tmp_path):
    sql = "SELECT * FROM '/somewhere/tests/golden/spi_ms.parquet'"
    with pytest.raises(ValueError, match="tests/golden"):
        Oracles(ROOT, tmp_path).digest("spi_ms", sql)


@pytest.mark.parametrize("sql, invariant", [
    ("SELECT count(*) AS n FROM documents WHERE text IS NOT NULL", True),
    ("SELECT * FROM (SELECT lower(text) AS t FROM documents)", True),
    ("SELECT a * b FROM orders", True),
    ("SELECT doc_id, text FROM documents", False),
    ("SELECT l_orderkey FROM lineitem ORDER BY l_suppkey", False),
    ("SELECT * FROM documents", False),
    ("SELECT d.* FROM documents d JOIN orders o ON TRUE", False),
    ("WITH x AS (SELECT * FROM embeddings) SELECT count(*) FROM x", False),
    ("SELECT * EXCLUDE (text) FROM documents", False),
    ("SELECT struct_pack(*) FROM supplier", False),
    ("SELECT * FROM read_parquet('documents.parquet')", False),
])
def test_seed_invariant_oracles_cannot_see_remapped_keys(sql, invariant):
    assert seed_invariant(sql) is invariant


def test_seed_invariant_oracle_runs_once_on_seed_zero(tmp_path):
    src, base, data = tmp_path / "src", tmp_path / "s0", tmp_path / "s5"
    src.mkdir()
    _write(src / "documents.parquet", pa.table({
        "doc_id": pa.array([10, 20, 30], pa.int64()),
        "text": ["x", "y", "x"]}))
    build_seed_copy(src, base, seed=0)
    build_seed_copy(src, data, seed=5)
    oracles = Oracles(ROOT, data, base)
    words = "SELECT text, count(*) AS n FROM documents GROUP BY text"
    ids = "SELECT doc_id FROM documents"
    assert oracles.digest("words", words)["rows"] == 2
    assert oracles.digest("ids", ids)["rows"] == 3
    assert [p.name.split("-")[0] for p in (base / "oracle").iterdir()] == [
        "words"]
    assert [p.name.split("-")[0] for p in (data / "oracle").iterdir()] == [
        "ids"]


def test_workload_gates_are_registered_with_oracles():
    from perfbench.workloads import WORKLOADS
    from xclim_spark.queries import build_oracles, build_queries

    gates = [g for w in WORKLOADS.values() for g in w.gates]
    assert set(gates) <= set(build_queries()) and len(set(gates)) == len(gates)
    oracles = build_oracles()
    assert all(oracles.get(g) and "tests/golden/" not in oracles[g]
               for g in gates)


def test_scale_dirs_come_from_testdata_md():
    from perfbench.workloads import WORKLOADS

    md = ROOT / "TESTDATA.md"
    for w in WORKLOADS.values():
        assert scale_dir(md, w.scale).name == f"sf{w.scale}"
    with pytest.raises(KeyError):
        scale_dir(md, "7")
