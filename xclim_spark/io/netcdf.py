"""NetCDF ingest: manifest-parallel file conversion to long rows
(reference CLI open path ``src/xclim/cli.py:55-73``; BASELINE's
"DataFrame ops over NetCDF via custom UDFs").

Scale shape: the *manifest* (one row per file) is the DataFrame that
parallelizes — each task opens its file(s) locally and emits long rows,
so a 100 TB archive ingests at one-file granularity with no driver
bottleneck and no shuffle (the write re-partitions by year downstream).

The NetCDF libraries (h5netcdf/xarray/netCDF4) are not in this
container, so the default reader raises ``NotImplementedError``; the
plumbing accepts any ``reader(path) -> iterator of pandas.DataFrame``
so tests (and deployments with other formats) inject their own.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..util import local_frame

__all__ = ["netcdf_manifest", "ingest_netcdf", "default_netcdf_reader"]


def netcdf_manifest(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """One row per file; repartitioned so each task converts ~1 file."""
    df = local_frame(spark, [(p,) for p in paths], "path STRING")
    return df.repartition(max(len(paths), 1))


def default_netcdf_reader(variables: Sequence[str] | None = None):
    """Build a reader using xarray/h5netcdf if available; without the
    NetCDF4 stack, *classic* (CDF-1/CDF-2) files still read through the
    stdlib parser in :mod:`.netcdf3` (NetCDF4/HDF5 files raise an honest
    ``NotImplementedError`` there).

    Returns ``reader(path) -> Iterator[pandas.DataFrame]`` with columns
    ``time, lat, lon, <var>...`` (long layout).
    """
    try:  # pragma: no cover - not installed in this container
        import xarray as xr
    except ImportError:
        from . import netcdf3 as n3

        def _read_classic(path: str) -> Iterator[pd.DataFrame]:
            # shared streaming decoder: bounded batches, CF
            # mask/scale/time decode identical to ingest_netcdf3
            yield from n3.iter_nc3_frames(path, variables)

        return _read_classic

    def _read(path: str) -> Iterator[pd.DataFrame]:  # pragma: no cover
        ds = xr.open_dataset(path, engine="h5netcdf",
                             chunks={"time": 1000})
        names = list(variables or ds.data_vars)
        for _, chunk in ds[names].groupby_bins(
            "time", bins=max(len(ds.time) // 1000, 1)
        ):
            yield chunk.to_dataframe().reset_index()

    return _read


def ingest_netcdf(
    spark: SparkSession,
    paths: Sequence[str],
    schema: str,
    *,
    reader: Callable[[str], Iterator[pd.DataFrame]] | None = None,
    variables: Sequence[str] | None = None,
) -> DataFrame:
    """Convert NetCDF files to a long DataFrame.

    ``schema`` is the output DDL (e.g. ``"time TIMESTAMP, lat DOUBLE,
    lon DOUBLE, tas DOUBLE"``).  ``reader`` defaults to the
    xarray/h5netcdf reader; any callable yielding pandas frames per file
    works (the unit tests inject a synthetic one — the distribution,
    batching and schema contract are exercised for real either way).
    """
    rd = reader if reader is not None else default_netcdf_reader(variables)
    manifest = netcdf_manifest(spark, paths)

    def _convert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                yield from rd(path)

    return manifest.mapInPandas(_convert, schema=schema)
