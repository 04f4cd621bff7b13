"""Indicator layer: registry, declarative specs, named indicators.

Usage::

    from xclim_spark.indicators import atmos, registry

    res = atmos.tx_days_above(df, tasmax="qty", thresh="30 degC",
                              freq="MS", time="day", cells=["cell"])
    res.df     # Spark DataFrame: cells..., period, tx_days_above
    res.attrs  # cf-style metadata (units, long_name, history, ...)

    # several indicators sharing freq, in one aggregation
    both = evaluate_indicators(df, {
        "warm_day_frequency": {"tasmax": "tx"},
        "warm_night_frequency": {"tasmin": "tn"},
    }, time="day", cells=["cell"])

Mirrors the reference's ``xclim.atmos`` call surface
(``src/xclim/indicators/``) and its YAML virtual-module builder
(``src/xclim/core/indicator.py:1703-1958``).
"""

from .core import (
    COMPUTES,
    Indicator,
    IndicatorResult,
    Parameter,
    VARIABLES,
    build_indicator_module,
    build_indicator_module_from_yaml,
    evaluate_indicators,
    from_dict,
    register_compute,
    registry,
)
from . import computes  # noqa: F401
from .atmos import atmos
from .icclim import icclim
from .anuclim import anuclim
from .cf import cf
from .convert import convert
from .generic import generic
from .land import land
from .seaice import seaIce

__all__ = [
    "COMPUTES",
    "Indicator",
    "IndicatorResult",
    "Parameter",
    "VARIABLES",
    "anuclim",
    "atmos",
    "cf",
    "convert",
    "generic",
    "icclim",
    "land",
    "seaIce",
    "build_indicator_module",
    "build_indicator_module_from_yaml",
    "evaluate_indicators",
    "from_dict",
    "register_compute",
    "registry",
]
