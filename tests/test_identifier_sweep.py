"""Registry identifier parity sweep.

Every identifier the registry and the YAML virtual modules (``icclim``,
``anuclim``, ``cf``) resolved when the set was frozen is listed in
``tests/golden/identifiers.json``; the registry must never shrink below
it.  When the reference checkout is present, its identifiers are
required too: the ``identifier="..."`` arguments across
``src/xclim/indicators/**`` plus the indicator keys of the YAML virtual
modules (``data/icclim.yml``, ``data/anuclim.yml``, ``data/cf.yml``).
That is the automated version of the round-5/6 alias batches: any
identifier the reference registers must be callable here by the same
name.

Extend the frozen set (sorted registry keys, sorted module keys) when
an identifier is added on purpose; removing one must fail here.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re

import pytest

REF = "/root/reference"
HAVE_REF = os.path.isdir(os.path.join(REF, "src", "xclim"))
FROZEN = os.path.join(os.path.dirname(__file__), "golden",
                      "identifiers.json")


def _frozen(key: str) -> set[str]:
    with open(FROZEN) as f:
        return set(json.load(f)[key])


def _ref_core_identifiers() -> set[str]:
    ids = set()
    for p in glob.glob(os.path.join(REF, "src/xclim/indicators/**/*.py"),
                       recursive=True):
        with open(p) as f:
            for m in re.finditer(r'identifier="([^"]+)"', f.read()):
                ids.add(m.group(1))
    return ids


def _ref_yaml_identifiers(yml: str) -> list[str]:
    in_ind, out = False, []
    with open(os.path.join(REF, "src/xclim/data", yml)) as f:
        for line in f:
            if line.startswith("indicators:"):
                in_ind = True
                continue
            if in_ind:
                m = re.match(r"^  (\w[\w\-\.]*):\s*$", line)
                if m:
                    out.append(m.group(1))
                elif re.match(r"^\w", line):
                    in_ind = False
    return out


def test_all_reference_core_identifiers_resolve():
    from xclim_spark.indicators import registry

    want = _frozen("registry")
    if HAVE_REF:
        want |= _ref_core_identifiers()
    missing = sorted(i for i in want if i not in registry)
    assert not missing, f"unresolvable identifiers: {missing}"


@pytest.mark.parametrize("yml,module", [
    ("icclim.yml", "icclim"),
    ("anuclim.yml", "anuclim"),
    ("cf.yml", "cf"),
])
def test_all_reference_virtual_module_identifiers_resolve(yml, module):
    import xclim_spark.indicators as ind

    mod = getattr(ind, module)
    mine = {k for k, _ in mod}
    want = _frozen(module)
    if HAVE_REF:
        want |= set(_ref_yaml_identifiers(yml))
    missing = sorted(want - mine)
    assert not missing, f"{module}: unresolvable identifiers: {missing}"


def test_short_aliases_compute(spark):
    """The round-6 alias batch resolves AND computes: the alias output
    column carries the alias name and the numbers match the long-name
    twin."""
    from pyspark.sql import functions as F

    from xclim_spark.indicators import registry

    rows = [(0, dt.date(2001, 1, 1) + dt.timedelta(days=i),
             float(i % 10)) for i in range(365)]
    df = spark.createDataFrame(rows, "cell INT, time DATE, pr DOUBLE")
    u = {"pr": "mm/d"}
    short = registry["prcptot"](df, pr="pr", units=u, freq="YS",
                                cells=["cell"], missing=None).df.collect()[0]
    long_ = registry["precip_accumulation"](
        df, pr="pr", units=u, freq="YS", cells=["cell"],
        missing=None).df.collect()[0]
    assert short["prcptot"] == long_["precip_accumulation"]

    # ICCLIM RR chains through the prcptot alias (icclim.yml RR)
    from xclim_spark.indicators import icclim
    rr = icclim.RR(df, pr="pr", units=u, freq="YS", cells=["cell"],
                   missing=None).df.collect()[0]
    assert rr["RR"] == short["prcptot"]

    # consecutive_frost_free_days is the Temp-realm identifier for
    # maximum_consecutive_frost_free_days (_temperature.py)
    rows = [(0, dt.date(2001, 1, 1) + dt.timedelta(days=i),
             2.0 if 50 <= i < 150 else -3.0) for i in range(365)]
    tdf = spark.createDataFrame(rows, "cell INT, time DATE, tasmin DOUBLE")
    cffd = registry["consecutive_frost_free_days"](
        tdf, tasmin="tasmin", units={"tasmin": "degC"}, freq="YS",
        cells=["cell"], missing=None).df.collect()[0]
    assert cffd["consecutive_frost_free_days"] == 100

    # converter shorts (convert/_conversion.py identifiers)
    for name in ("hurs", "huss", "prsn", "wind_chill", "utci",
                 "spi", "spei", "ssi", "sgi", "api", "cu", "cp",
                 "cffwis", "dc", "dmc", "kbdi", "df", "ffdi"):
        assert name in registry, name


def test_icclim_quartile_family(spark):
    """CD/CW/WD/WW resolve in the icclim module with the reference's op
    pairs (cold=below, warm=above; dry=below, wet=above)."""
    from xclim_spark.indicators import icclim

    ops = {"CD": ("<", "<"), "CW": ("<", ">"),
           "WD": (">", "<"), "WW": (">", ">")}
    for name, (op_a, op_b) in ops.items():
        i = getattr(icclim, name)
        assert i.parameters["op_a"].default == op_a, name
        assert i.parameters["op_b"].default == op_b, name
