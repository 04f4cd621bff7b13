"""The benchmark's workloads: ordered lists of registered gates
(``xclim_spark.queries.build_queries()`` entries), each chosen to put most
of its time in a different layer."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    gates: tuple[str, ...]
    why: str
    #: the TESTDATA.md scale factor the seeded inputs are made from
    scale: str


# Together the two workloads reach every layer of LAYERS, each through the
# cheapest gates that reach it, so that a whole benchmark session fits its
# time budget.
WORKLOADS: dict[str, Workload] = {
    "climate": Workload(
        gates=("ind_tg_mean_masked_ms", "ind_warm_freq_ys",
               "first_spell_doy_ys"),
        why=("Climate indicators planned in the JVM: parquet scan, shuffle "
             "and window plans, one SQL execution per gate, no Python "
             "workers and little driver work."),
        scale="0.1",
    ),
    "udf_llm_stream": Workload(
        gates=("conv_vpd_ms", "fire_components_ms", "fa_gumbel_rp",
               "ens_stats_ms", "sdba_loci_adjust_ms", "dedup_semantic",
               "emb_rand_projection", "search_bm25_docs",
               "text_quality_by_source", "text_lm_perplexity",
               "tokenizer_bpe_train", "quality_clf_score",
               "stream_tx_days_above_30d", "nc3_subdaily_ingest"),
        why=("Work outside JVM plans: pandas UDF workers for climate "
             "layers, eager driver-side LLM curation loops, a stateful "
             "micro-batch aggregation and NetCDF3 decode."),
        scale="0.001",
    ),
}

#: Package layers the traced run wraps: layer name -> module or package.
LAYERS: dict[str, str] = {
    "calendar": "xclim_spark.calendar",
    "units": "xclim_spark.units",
    "functions": "xclim_spark.functions",
    "operators.generic": "xclim_spark.operators.generic",
    "operators.run_length": "xclim_spark.operators.run_length",
    "operators.percentile": "xclim_spark.operators.percentile",
    "operators.missing": "xclim_spark.operators.missing",
    "operators.fire": "xclim_spark.operators.fire",
    "indicators": "xclim_spark.indicators",
    "stats": "xclim_spark.stats",
    "sdba": "xclim_spark.sdba",
    "ensembles": "xclim_spark.ensembles",
    "io": "xclim_spark.io",
    "streaming": "xclim_spark.streaming",
    "llm.dedup": "xclim_spark.llm.dedup",
    "llm.similarity": "xclim_spark.llm.similarity",
    "llm.quality_clf": "xclim_spark.llm.quality_clf",
    "llm.tokenizer": "xclim_spark.llm.tokenizer",
    "llm.lm": "xclim_spark.llm.lm",
    "llm.text": "xclim_spark.llm.text",
    "llm.search": "xclim_spark.llm.search",
}
