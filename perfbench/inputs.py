"""Seeded inputs and their reference outputs.

Seed 0 is the source data as-is.  Seed ``N`` is a copy in which the
supplier key (``l_suppkey``/``s_suppkey``), ``documents.doc_id`` and
``embeddings.vec_id`` pass through a seeded bijection onto the same value
set; row counts, row order and the file layout (one snappy row group per
table) stay the same.  That moves hash placement and which cells or
documents share a partition without changing the amount of work.

References come from each gate's DuckDB oracle (``build_oracles()``) run
on the same seeded files; an oracle that names no remapped column and
projects no ``*`` from a table holding one sees the same data under every
seed, so its reference is computed once, on seed 0's files.  An oracle that reads a fixture under
``tests/golden/`` (made from the small test tables, not from these) is
refused rather than compared against the wrong data."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import re
import shutil
from pathlib import Path

import numpy as np


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: Key domain -> the (table, column) pairs sharing one bijection.
KEY_DOMAINS = {
    "suppkey": (("lineitem", "l_suppkey"), ("supplier", "s_suppkey")),
    "doc_id": (("documents", "doc_id"),),
    "vec_id": (("embeddings", "vec_id"),),
}


def scale_dir(testdata_md: Path, sf: str) -> Path:
    """The table directory ``TESTDATA.md`` lists for scale factor ``sf``
    (a row ``| 0.1 | `<dir>/` | ...``)."""
    for line in testdata_md.read_text().splitlines():
        cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
        if len(cells) >= 2 and cells[0] == sf:
            return Path(cells[1])
    raise KeyError(f"{testdata_md.name} lists no scale factor {sf}")


def permutation(values: np.ndarray, seed: int, salt: str) -> np.ndarray:
    """Image of the sorted distinct ``values`` under the seed's bijection
    (identity for seed 0)."""
    if seed == 0:
        return values.copy()
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "little"))
    return rng.permutation(values)


def _stars_over_keyed_tables(node, keyed: set[str]) -> bool:
    """Whether any SELECT in a parsed statement (DuckDB's
    ``json_serialize_sql`` tree) projects ``*`` (``t.*``, ``COLUMNS(*)``)
    straight from a table holding remapped keys.  A star over a subquery
    or a CTE passes on only the columns that query itself projected."""
    if isinstance(node, list):
        return any(_stars_over_keyed_tables(n, keyed) for n in node)
    if not isinstance(node, dict):
        return False
    if node.get("type") == "SELECT_NODE":
        def has_star(e):
            if isinstance(e, list):
                return any(map(has_star, e))
            return isinstance(e, dict) and (
                e.get("class") == "STAR" or any(map(has_star, e.values())))

        def direct_tables(t):
            if not isinstance(t, dict):
                return []
            if t.get("type") == "BASE_TABLE":
                return [t["table_name"].lower()]
            if t.get("type") == "JOIN":
                return direct_tables(t["left"]) + direct_tables(t["right"])
            # a table function could read any file: assume the worst
            return ["?"] if t.get("type") == "TABLE_FUNCTION" else []

        tables = direct_tables(node.get("from_table"))
        if has_star(node.get("select_list")) and any(
                t == "?" or t in keyed for t in tables):
            return True
    return any(_stars_over_keyed_tables(v, keyed) for v in node.values())


def seed_invariant(sql: str) -> bool:
    """True if a query cannot see the remapped keys: it names none of the
    remapped columns and projects no ``*`` from a table holding one.  Row
    order and every other column are the same under every seed, so such a
    query gives the same result on every seed's copy."""
    import duckdb

    pairs = [p for ps in KEY_DOMAINS.values() for p in ps]
    if any(re.search(rf"\b{col}\b", sql) for _, col in pairs):
        return False
    # ``f(*)`` other than ``count(*)`` may expand every column unseen
    if re.search(r"(?<!count)\(\s*\*\s*\)", sql, re.IGNORECASE):
        return False
    con = duckdb.connect()
    try:
        tree = json.loads(con.execute(
            "SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
    finally:
        con.close()
    return not tree.get("error", True) and not _stars_over_keyed_tables(
        tree["statements"], {t for t, _ in pairs})


def remap(column: np.ndarray, domain: np.ndarray,
          image: np.ndarray) -> np.ndarray:
    """Map each entry of ``column`` (all in the sorted ``domain``) to the
    entry of ``image`` at the same position."""
    return image[np.searchsorted(domain, column)]


def _remap_table(table, columns: dict[str, tuple[np.ndarray, np.ndarray]]):
    import pyarrow as pa
    import pyarrow.compute as pc

    for col, (domain, image) in columns.items():
        arr = table.column(col).combine_chunks()
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
        vals = arr.fill_null(domain[0]).to_numpy()
        mapped = remap(vals, domain, image)
        new = pa.array(mapped, type=arr.type, mask=~valid)
        table = table.set_column(table.schema.get_field_index(col), col, new)
    return table


def build_seed_copy(src: Path, dst: Path, seed: int) -> None:
    """Write the seed's copy of every table in ``src`` to ``dst``."""
    import pyarrow.parquet as pq

    dst.mkdir(parents=True, exist_ok=True)
    present = [t for t in TABLES if (src / f"{t}.parquet").exists()]
    if seed == 0:
        for t in present:
            shutil.copyfile(src / f"{t}.parquet", dst / f"{t}.parquet")
        return
    tables = {t: pq.read_table(src / f"{t}.parquet") for t in present}
    per_table: dict[str, dict] = {}
    for salt, pairs in KEY_DOMAINS.items():
        pairs = [(t, c) for t, c in pairs if t in tables]
        if not pairs:
            continue
        domain = np.unique(np.concatenate([
            tables[t].column(c).drop_null().to_numpy() for t, c in pairs]))
        image = permutation(domain, seed, salt)
        for t, c in pairs:
            per_table.setdefault(t, {})[c] = (domain, image)
    for t, table in tables.items():
        if t in per_table:
            table = _remap_table(table, per_table[t])
        pq.write_table(table, dst / f"{t}.parquet",
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")


def seed_dir(cache: Path, src: Path, seed: int) -> Path:
    """The cached seeded copy of ``src`` (built once per checkout)."""
    tag = hashlib.md5(str(src.resolve()).encode()).hexdigest()[:8]
    out = cache / f"seed-{seed}-{tag}"
    if not (out / "_done").exists():
        tmp = cache / f".tmp-{out.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build_seed_copy(src, tmp, seed)
        (tmp / "_done").touch()
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out


def link_tree(src: Path, dst: Path) -> None:
    """Hard-link the seeded tables under a run-private directory, so the
    gates' staging tags (md5 of the input path) are new for every run."""
    dst.mkdir(parents=True)
    for f in src.glob("*.parquet"):
        os.link(f, dst / f.name)


def load_file_module(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Digester:
    """Order-insensitive digest of a result, normalising values the way
    ``tools/check_correctness.py`` does."""

    def __init__(self, root: Path):
        self.norm = load_file_module(
            "perfbench_check_correctness",
            root / "tools" / "check_correctness.py").norm

    def digest(self, columns: list[str], rows) -> dict:
        """``rows`` are sequences in ``columns`` order."""
        order = sorted(range(len(columns)), key=columns.__getitem__)
        lines = sorted(repr(tuple(self.norm(r[i]) for i in order))
                       for r in rows)
        h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        return {"rows": len(lines), "columns": sorted(columns), "hash": h}


class Oracles:
    """Reference digests for the gates of one seeded input directory
    (``data``), cached by oracle text next to the files they were computed
    on; a seed-invariant oracle runs on seed 0's files (``base``) once."""

    def __init__(self, root: Path, data: Path, base: Path | None = None):
        self.data, self.base = data, base or data
        self.digester = Digester(root)

    def digest(self, gate: str, sql: str) -> dict:
        import duckdb

        if "tests/golden/" in sql:
            raise ValueError(f"the oracle of {gate} reads a fixture under "
                             "tests/golden/, not the seeded inputs")
        data = self.base if seed_invariant(sql) else self.data
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = data / "oracle" / f"{gate}-{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        con = duckdb.connect()
        for t in TABLES:
            if (data / f"{t}.parquet").exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{data}/{t}.parquet'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        out = self.digester.digest(cols, res.fetchall())
        con.close()
        path.parent.mkdir(exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(out))
        tmp.rename(path)
        return out
