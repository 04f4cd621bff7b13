"""Indicator framework: registry + declarative specs compiled to Spark plans.

Re-expresses the reference's indicator machinery
(``src/xclim/core/indicator.py``) Spark-first:

* an :class:`Indicator` is a *declarative spec* — identifier, realm, input
  variables, typed parameters (thresholds carry units), output metadata
  templates, a named generic ``compute`` and a missing-value policy
  (reference ``Indicator.__new__``/``from_dict``, indicator.py:125-877);
* calling one **builds a Catalyst plan** from the kernel layer
  (``operators.generic`` / ``run_length`` / ``percentile``) — all unit
  parsing (pint-equivalent) happens at plan time in the driver, executors
  only ever see Column expressions with pre-computed scalars;
* post-processing applies the missing-value mask
  (reference ``CheckMissingIndicator._postprocess``, indicator.py:1522-1549)
  and attaches formatted cf_attrs metadata
  (``_update_attrs``, indicator.py:1085);
* a compute that is one period aggregate is registered as an aggregate
  Column builder (:func:`register_aggregate`), so the indicator and its
  count-based mask — or several indicators sharing ``freq``
  (:func:`evaluate_indicators`) — compile to ONE ``groupBy(cells, period)``
  reading the source once, as xclim's dask graph shares one read.

Specs are plain dicts (YAML-compatible — the same shape as the reference's
``data/*.yml`` virtual modules, indicator.py:1761) so whole indicator
modules can be built with :func:`build_indicator_module` /
:func:`build_indicator_module_from_yaml`.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.generic import resample_agg
from ..operators.missing import (
    MISSING_METHODS,
    count_flag,
    expected_count,
    mask_missing,
)
from ..units import str2pint, check_units, to_agg_units

__all__ = [
    "VARIABLES",
    "Parameter",
    "IndicatorResult",
    "Indicator",
    "registry",
    "from_dict",
    "build_indicator_module",
    "build_indicator_module_from_yaml",
    "COMPUTES",
    "register_compute",
    "AGGREGATES",
    "register_aggregate",
    "evaluate_indicators",
    "register_alias",
]

# ---------------------------------------------------------------------------
# Variable vocabulary (reference src/xclim/data/variables.yml, loaded into
# VARIABLES at _types.py:29-46).  Canonical units drive threshold conversion.
# ---------------------------------------------------------------------------

VARIABLES: dict[str, dict[str, str]] = {
    "tas": {"canonical_units": "degC", "standard_name": "air_temperature",
            "cell_methods": "time: mean within days"},
    "tasmin": {"canonical_units": "degC", "standard_name": "air_temperature",
               "cell_methods": "time: minimum within days"},
    "tasmax": {"canonical_units": "degC", "standard_name": "air_temperature",
               "cell_methods": "time: maximum within days"},
    "pr": {"canonical_units": "mm/d",
           "standard_name": "precipitation_flux"},
    "prsn": {"canonical_units": "mm/d",
             "standard_name": "snowfall_flux"},
    "snd": {"canonical_units": "m", "standard_name": "surface_snow_thickness"},
    "snw": {"canonical_units": "kg m-2",
            "standard_name": "surface_snow_amount"},
    "sfcWind": {"canonical_units": "m s-1", "standard_name": "wind_speed"},
    "sfcWindmax": {"canonical_units": "m s-1", "standard_name": "wind_speed",
                   "cell_methods": "time: maximum within days"},
    "evspsblpot": {"canonical_units": "mm/d", "standard_name":
                   "water_potential_evapotranspiration_flux"},
    "ua": {"canonical_units": "m s-1", "standard_name": "eastward_wind"},
    "hurs": {"canonical_units": "%", "standard_name": "relative_humidity"},
    "huss": {"canonical_units": "1", "standard_name": "specific_humidity"},
    "ps": {"canonical_units": "Pa", "standard_name": "surface_air_pressure"},
    "discharge": {"canonical_units": "m3 s-1",
                  "standard_name": "water_volume_transport_in_river_channel"},
    "wsgsmax": {"canonical_units": "m s-1",
                "standard_name": "wind_speed_of_gust"},
    "psl": {"canonical_units": "hPa",
            "standard_name": "air_pressure_at_sea_level"},
    "sund": {"canonical_units": "h", "standard_name": "duration_of_sunshine"},
    # harness variables (driver test tables are unitless)
    "data": {"canonical_units": "1", "standard_name": "data"},
}


@dataclass
class Parameter:
    """Typed indicator parameter (reference ``Parameter``/``InputKind``,
    indicator.py:125, utils.py:560-658)."""

    name: str
    default: Any = None
    kind: str = "number"  # number | quantified | freq | string | bool | window
    units: str | None = None  # dimensionality contract for quantified
    description: str = ""
    # input role whose units a quantified threshold converts into
    # (defaults to the primary/first input)
    applies_to: str | None = None


@dataclass
class IndicatorResult:
    """A computed indicator: the Spark plan + cf metadata sidecar (the
    reference returns a DataArray with ``attrs``; Spark schemas don't carry
    rich attrs, so they ride alongside).  For :func:`evaluate_indicators`
    ``attrs`` holds one such dict per identifier."""

    df: DataFrame
    attrs: dict = field(default_factory=dict)

    # delegate the common DataFrame verbs so results stay composable
    def __getattr__(self, item):
        return getattr(self.df, item)


# ---------------------------------------------------------------------------
# Generic computes — named bridges from specs to the kernel layer.
# The reference's equivalents are the generic indices used by cf.yml
# (count_occurrences, spell_length, ...; src/xclim/data/cf.yml) backed by
# xclim.indices.generic.
# ---------------------------------------------------------------------------

COMPUTES: dict[str, Callable] = {}


def register_compute(name: str):
    def deco(fn):
        COMPUTES[name] = fn
        return fn

    return deco


# Aggregate computes: one aggregate over the rows of each (cells, period),
# registered as ``build(cols, params, *, time) -> Column``.  Their COMPUTES
# entry is derived from the builder, and the indicator layer places
# several builders and their count-based masks in one aggregation.

AGGREGATES: dict[str, Callable] = {}

# call parameters that select rows (``select_time``) before aggregating
_INDEXER_KEYS = ("season", "month", "doy_bounds", "date_bounds")


def time_indexer(params: dict) -> dict:
    return {k: params[k] for k in _INDEXER_KEYS if params.get(k) is not None}


def register_aggregate(name: str):
    def deco(build):
        AGGREGATES[name] = build

        def compute(df, cols, params, *, time, cells, alias):
            agg = build(cols, params, time=time).alias(alias)
            return resample_agg(df, params["freq"], agg, time=time,
                                cells=cells, **time_indexer(params))

        compute.__doc__ = build.__doc__
        register_compute(name)(compute)
        return build

    return deco


registry: dict[str, "Indicator"] = {}


class Indicator:
    """Declarative indicator compiled to a Spark plan on call.

    Parameters mirror the reference's ``Indicator`` class attributes
    (indicator.py:125-283): ``identifier``, ``realm``, ``title``,
    ``units`` (output), ``standard_name``, ``long_name`` (template),
    ``description`` (template), ``cell_methods``, ``compute`` (name into
    ``COMPUTES``), ``input`` (role -> variable name), ``parameters``,
    ``missing`` (+ ``missing_options``), ``src_freq``.
    """

    def __init__(
        self,
        *,
        identifier: str,
        compute: str,
        realm: str = "generic",
        title: str = "",
        units: str = "",
        standard_name: str = "",
        long_name: str = "",
        description: str = "",
        cell_methods: str = "",
        input: dict[str, str] | None = None,
        parameters: dict[str, Parameter] | None = None,
        missing: str | None = None,
        missing_options: dict | None = None,
        src_freq: str = "D",
        references: str = "",
    ) -> None:
        if compute not in COMPUTES:
            raise ValueError(f"Unknown compute {compute!r}")
        self.identifier = identifier
        self.compute = compute
        self.realm = realm
        self.title = title
        self.units = units
        self.standard_name = standard_name
        self.long_name = long_name
        self.description = description
        self.cell_methods = cell_methods
        self.input = dict(input or {"data": "data"})
        self.parameters = dict(parameters or {})
        self.missing = missing
        self.missing_options = dict(missing_options or {})
        self.src_freq = src_freq
        self.references = references
        registry[identifier] = self

    # -- plan construction ------------------------------------------------

    def _resolve_params(self, kwargs: dict, var_units: dict[str, str]) -> dict:
        """Bind call kwargs over declared defaults; convert quantified
        params into the magnitude of the relevant input's units (pint work
        happens here, at plan time — reference ``convert_units_to`` inside
        computes)."""
        params: dict[str, Any] = {}
        display: dict[str, Any] = {}
        for name, p in self.parameters.items():
            val = kwargs.pop(name, p.default)
            display[name] = val
            if p.kind == "quantified" and val is not None:
                # bare numbers / dimensionless strings pass through as the
                # magnitude in the input's own units (the harness tables are
                # unitless); quantified strings are dimensionality-checked
                # and converted into the primary input's units at plan time.
                role = p.applies_to or next(iter(self.input))
                target = var_units.get(role, "1")
                if isinstance(val, (int, float)):
                    params[name] = float(val)
                else:
                    q = str2pint(val, p.units or "1")
                    if q.units in ("", "1") or target in ("", "1"):
                        params[name] = q.magnitude
                    else:
                        if p.units:
                            check_units(q.units, p.units)
                        params[name] = q.to(target).magnitude
            else:
                params[name] = val
        params["_display"] = display
        return params

    def _bind(self, kwargs: dict, units, missing, missing_options
              ) -> "_Call":
        """Steps 1-2 of a call, plus its missing-value policy."""
        # 1. bind input variables -> columns (reference _assign_named_args,
        # indicator.py:976)
        cols: dict[str, str] = {}
        var_units: dict[str, str] = {}
        for role, varname in self.input.items():
            col = kwargs.pop(varname, None)
            if col is None:
                col = kwargs.pop(role, varname)
            cols[role] = col
            var_units[role] = (units or {}).get(
                varname,
                VARIABLES.get(varname, {}).get("canonical_units", "1"),
            )

        # 2. parameters (thresholds converted at plan time)
        params = self._resolve_params(kwargs, var_units)
        if kwargs:
            raise TypeError(
                f"{self.identifier}: unexpected arguments {sorted(kwargs)}"
            )
        return _Call(
            self, cols, params, params.get("freq") or "YS",
            self.missing if missing is ... else missing,
            {**self.missing_options, **(missing_options or {})},
        )

    def __call__(
        self,
        df: DataFrame,
        *,
        time: str = "time",
        cells: Sequence[str] = (),
        units: dict[str, str] | None = None,
        missing: str | None | type(...) = ...,
        missing_options: dict | None = None,
        locale: str | None = None,
        **kwargs,
    ) -> IndicatorResult:
        """Bind variables + params, build the plan, post-process.

        Variable binding: for each declared input role, a kwarg named after
        the *variable* (e.g. ``tasmax="qty"``) maps it to a DataFrame
        column.  ``units`` optionally gives actual column units per
        variable (defaults to the variable's canonical units).
        """
        call = self._bind(kwargs, units, missing, missing_options)
        cells = list(cells)
        # 3. compute — builds the Catalyst plan from the kernel layer — and
        # 4. missing-value post-processing (indicator.py:1522-1549).  An
        # aggregate compute with no time indexer and no or a count-based
        # mask is one groupBy whose count column flags the periods to null;
        # any other call computes, builds the mask DataFrame and left-joins
        # it on null-safe (cells, period) keys.
        if call.unfused_reason() is None:
            out = _aggregate(df, [call], time=time, cells=cells)
        else:
            out = COMPUTES[self.compute](
                df, call.cols, call.params,
                time=time, cells=cells, alias=self.identifier,
            )
            if call.method:
                mask = MISSING_METHODS[call.method](
                    df, call.var, call.freq, time=time, cells=cells,
                    src_freq=self.src_freq, **call.options,
                )
                out = mask_missing(
                    out, mask, [self.identifier], keys=[*cells, "period"]
                )
        return IndicatorResult(out, self._attrs(call.params, locale))

    def _attrs(self, params: dict, locale: str | None) -> dict[str, str]:
        # 5. metadata (reference _update_attrs, indicator.py:1085):
        # templates render through the AttrFormatter so known values
        # ("YS" -> "annual", with locale declensions) read as prose, and
        # the history line carries the timestamped call provenance
        from ..formatting import (
            default_formatter,
            gen_call_string,
            get_local_attrs,
            get_local_formatter,
            list_locales,
            update_history,
        )

        disp = params["_display"]
        fmt = {
            k: v for k, v in disp.items()
            if v is not None and isinstance(v, (str, int, float, bool))
        }
        try:
            units_attr = self.units or to_agg_units("1", self.compute)
        except ValueError:
            units_attr = ""
        attrs = {
            "units": units_attr,
            "standard_name": self.standard_name,
            "long_name": _safe_format(self.long_name, fmt,
                                      default_formatter),
            "description": _safe_format(self.description, fmt,
                                        default_formatter),
            "cell_methods": self.cell_methods,
            "history": update_history(
                gen_call_string(self.identifier, **fmt),
                new_name=self.identifier),
        }
        # translations are opt-in (reference: set_options(metadata_locales))
        locales = [locale] if locale in list_locales() else []
        for loc in locales:
            lf = get_local_formatter(loc)
            for key, tmpl in get_local_attrs(self.identifier, loc).items():
                attrs[key] = _safe_format(tmpl, fmt, lf)
        return attrs


@dataclass
class _Call:
    """One indicator call with its columns, parameters and missing-value
    policy resolved."""

    indicator: Indicator
    cols: dict[str, str]
    params: dict
    freq: str
    method: str | None
    options: dict

    @property
    def var(self) -> str:
        """The masked column: the first input's."""
        return self.cols[next(iter(self.cols))]

    def unfused_reason(self) -> str | None:
        """Why this call cannot be columns of a shared period
        aggregation, or None when it can."""
        if self.indicator.compute not in AGGREGATES:
            return f"compute {self.indicator.compute!r} is not one " \
                "period aggregate"
        if time_indexer(self.params):
            return "a time indexer selects its rows"
        if self.method and count_flag(self.method) is None:
            return f"missing method {self.method!r} is not count-based"
        return None


def _aggregate(df: DataFrame, calls: Sequence[_Call], *, time: str,
               cells: list[str]) -> DataFrame:
    """Fusable calls sharing one ``freq`` as columns of ONE
    ``groupBy(cells, period)``.  A count-based mask adds the non-null count
    of its variable (one per variable) and nulls the value in the final
    projection, where the flag is read against ``expected_count``."""
    freq = calls[0].freq
    aggs, values, counts = [], [], {}
    for c in calls:
        ident = c.indicator.identifier
        aggs.append(AGGREGATES[c.indicator.compute](
            c.cols, c.params, time=time).alias(ident))
        value = F.col(ident)
        if c.method:
            if c.var not in counts:
                counts[c.var] = f"_valid{len(counts)}"
                aggs.append(F.count(c.var).alias(counts[c.var]))
            flag = count_flag(c.method)(
                F.col(counts[c.var]),
                expected_count("period", freq, c.indicator.src_freq),
                **c.options)
            value = F.when(F.coalesce(flag, F.lit(False)), None) \
                .otherwise(value)
        values.append(value.alias(ident))
    return resample_agg(df, freq, *aggs, time=time, cells=cells) \
        .select(*cells, "period", *values)


def evaluate_indicators(
    df: DataFrame,
    calls: dict[str, dict],
    *,
    time: str = "time",
    cells: Sequence[str] = (),
    units: dict[str, str] | None = None,
) -> IndicatorResult:
    """Several registry indicators in ONE period aggregation.

    ``calls`` maps registry identifiers to the keyword arguments their own
    call would take (variable bindings, parameters, ``missing``,
    ``missing_options``, ``locale``); ``time``, ``cells`` and ``units`` are
    shared.  Each indicator must be one period aggregate called without a
    time indexer, with no or a count-based missing method, and all must
    share ``freq``; otherwise a ValueError names the first that does not.
    The result has ``cells..., period`` and one column per identifier,
    masked as its own call would mask it; ``attrs`` maps each identifier
    to its metadata."""
    if not calls:
        raise ValueError("evaluate_indicators needs at least one indicator")
    bound, attrs = [], {}
    for name, kw in calls.items():
        kw = dict(kw)
        missing = kw.pop("missing", ...)
        missing_options = kw.pop("missing_options", None)
        locale = kw.pop("locale", None)
        ind = registry[name]
        call = ind._bind(kw, units, missing, missing_options)
        reason = call.unfused_reason()
        if reason is None and bound and call.freq != bound[0].freq:
            reason = f"freq {call.freq!r} differs from {bound[0].freq!r}"
        if reason is not None:
            raise ValueError(f"{name}: {reason}; call it on its own")
        bound.append(call)
        attrs[name] = ind._attrs(call.params, locale)
    return IndicatorResult(
        _aggregate(df, bound, time=time, cells=list(cells)), attrs)


def _safe_format(template: str, params: dict, formatter=None) -> str:
    try:
        if formatter is not None:
            return formatter.format(template, **params)
        return template.format(**params)
    except (KeyError, IndexError):
        return template


# ---------------------------------------------------------------------------
# from_dict / module builders (reference indicator.py:741-797, 1703-1958)
# ---------------------------------------------------------------------------

def from_dict(spec: dict) -> Indicator:
    """Build + register an Indicator from a YAML-shaped dict spec."""
    spec = dict(spec)
    raw_params = spec.pop("parameters", {})
    parameters = {}
    for name, p in raw_params.items():
        if not isinstance(p, dict):
            p = {"default": p}
        parameters[name] = Parameter(
            name=name,
            default=p.get("default"),
            kind=p.get("kind", "number"),
            units=p.get("units"),
            description=p.get("description", ""),
            applies_to=p.get("applies_to"),
        )
    return Indicator(parameters=parameters, **spec)


def register_alias(identifier: str, base: str, **overrides) -> Indicator:
    """Register ``identifier`` as a clone of the ``base`` registry entry —
    the reference registers many computes under short identifiers (e.g.
    ``spi`` for ``standardized_precipitation_index``, atmos/_precip.py;
    ``utci`` for the UTCI converter, convert/_conversion.py).  The clone
    is a full Indicator (output column named after the alias, same
    compute/inputs/parameters) with optional spec overrides; parameter
    overrides are plain ``{name: default}`` merges."""
    b = registry[base]
    spec = dict(
        identifier=identifier,
        compute=b.compute,
        realm=b.realm,
        title=b.title,
        units=b.units,
        standard_name=b.standard_name,
        long_name=b.long_name,
        description=b.description,
        cell_methods=b.cell_methods,
        input=dict(b.input),
        missing=b.missing,
        missing_options=dict(b.missing_options),
        src_freq=b.src_freq,
        references=b.references or f"alias of {base}",
    )
    params = {
        k: Parameter(name=k, default=p.default, kind=p.kind, units=p.units,
                     description=p.description, applies_to=p.applies_to)
        for k, p in b.parameters.items()
    }
    pover = overrides.pop("parameters", {})
    for pk, pv in pover.items():
        if pk in params:
            params[pk].default = pv
        else:
            params[pk] = Parameter(name=pk, default=pv)
    spec.update(overrides)
    return Indicator(parameters=params, **spec)


class VirtualModule:
    """Namespace holding generated indicators (the reference registers real
    python modules via ``build_indicator_module``, indicator.py:1703)."""

    def __init__(self, name: str, indicators: dict[str, Indicator]):
        self.__name__ = name
        for k, v in indicators.items():
            setattr(self, k, v)
        self._indicators = indicators

    def __iter__(self):
        return iter(self._indicators.items())

    def __len__(self):
        return len(self._indicators)


def build_indicator_module(name: str, specs: Sequence[dict]) -> VirtualModule:
    return VirtualModule(name, {s["identifier"]: from_dict(s) for s in specs})


def build_indicator_module_from_yaml(name: str, yaml_text: str) -> VirtualModule:
    """Build a module from YAML text shaped like the reference's
    ``data/*.yml`` (indicator.py:1761): top-level ``indicators:`` mapping of
    identifier -> spec."""
    import yaml

    doc = yaml.safe_load(yaml_text)
    specs = []
    for ident, body in (doc.get("indicators") or {}).items():
        body = dict(body or {})
        body.setdefault("identifier", ident)
        if "base" in body:  # spec inheritance, reference yml `base:` key
            base = registry[body.pop("base")]
            merged = {
                "identifier": body["identifier"],
                "compute": base.compute,
                "realm": base.realm,
                "units": base.units,
                "standard_name": base.standard_name,
                "long_name": base.long_name,
                "description": base.description,
                "cell_methods": base.cell_methods,
                "input": dict(base.input),
                "missing": base.missing,
                "src_freq": base.src_freq,
                "parameters": {
                    k: {"default": p.default, "kind": p.kind, "units": p.units}
                    for k, p in base.parameters.items()
                },
            }
            for k, v in body.items():
                if k == "parameters":
                    for pk, pv in v.items():
                        if not isinstance(pv, dict):
                            pv = {"default": pv}
                        merged["parameters"].setdefault(pk, {}).update(pv)
                else:
                    merged[k] = v
            body = merged
        specs.append(body)
    return build_indicator_module(name, specs)
