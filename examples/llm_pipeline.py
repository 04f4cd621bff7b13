"""End-to-end training-data pipeline: Bloom cross-snapshot screen ->
near-dup clustering -> decontamination -> quality filter ->
LM-perplexity filter -> exact-substring dedup -> PII scrub ->
deterministic mixture -> sequence packing -> exact BPE token
accounting.

Runnable against the synthetic corpus:

    python examples/llm_pipeline.py [sf_dir]    # default sf0.01

Every stage is a Catalyst plan over the ``documents`` table — the same
code runs on a 100 TB corpus: dedup candidates come from banded LSH
joins (never all-pairs), clusters close by a driver union-find when
the edge list is small and by O(log n) star-rewrite rounds when it is
not, decontamination broadcasts the eval-set
n-gram dictionary, and packing is a per-source running-total window.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from xclim_spark import session
    from xclim_spark.llm import dedup as dd
    from xclim_spark.llm import pipeline as pl
    from xclim_spark.llm import text as tx

    from xclim_spark.llm import bloom as bl
    from xclim_spark.llm import lm
    from xclim_spark.llm import tokenizer as tok

    # honor the harness's core-count contract (bench.py does the same);
    # local[*] under a 1g default driver heap means 32 concurrent tasks
    # in one small JVM — measured flaky (shuffle-write OOM) on a loaded
    # host, so cap memory explicitly for the local recipe too
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    spark = session(app="llm-pipeline-example",
                    master=f"local[{cpus}]" if cpus else None,
                    **{"spark.driver.memory":
                       os.environ.get("SPARK_GRAFT_MEM", "4g")})
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n0 = docs.count()

    # 0. cross-snapshot screen: drop docs already kept in a previous
    #    "crawl" (here: a toy snapshot of every 10th doc) via a Bloom
    #    filter — bounded memory, zero-shuffle map-side probe
    nb, nh = bl.bloom_parameters(max(n0 // 10, 1), 0.001)
    snap_keys = docs.filter("doc_id % 10 = 0") \
        .select(F.md5("text").alias("key"))
    dense = bl.bloom_dense(
        bl.bloom_build(snap_keys, key_col="key", num_bits=nb,
                       num_hashes=nh), num_bits=nb)
    docs = bl.bloom_probe(
        docs.withColumn("key", F.md5("text")), dense, key_col="key",
        num_bits=nb, num_hashes=nh) \
        .filter(~F.coalesce("maybe_member", F.lit(False))) \
        .drop("key", "maybe_member")
    n0b = docs.count()

    # 1. near-dup clusters via the production front door (exact dedup
    #    first, MinHash only on exemplars — clone groups never emit
    #    quadratic pair lists); keep the canonical (min id)
    comp = dd.near_dup_components(docs, threshold=0.6, num_perm=32,
                                  bands=16)
    drop = comp.filter(F.col("id") != F.col("component")) \
        .select(F.col("id").alias("doc_id"))
    docs = docs.join(F.broadcast(drop), on="doc_id", how="left_anti")
    n1 = docs.count()

    # 2. decontaminate against a toy "eval set" (first 20 documents by id)
    evalset = (spark.read.parquet(os.path.join(sf_dir,
                                               "documents.parquet"))
               .orderBy("doc_id").limit(20))
    flags = pl.decontaminate(docs, evalset, n=8)
    dirty = flags.filter("contaminated").select("doc_id")
    docs = docs.join(F.broadcast(dirty), on="doc_id", how="left_anti")
    n2 = docs.count()

    # 3. quality screen: token count + alphabetic ratio, pure expressions
    docs = docs.filter(
        (tx.token_count("text") >= 5) & (tx.alpha_ratio("text") > 0.5))
    n3 = docs.count()

    # 3b. CCNet LM-perplexity screen: bigram stupid-backoff trained on
    #     the two "clean" sources, head+middle buckets kept (the model
    #     lives as DataFrames — never collected or broadcast)
    uni, big, sc = lm.lm_train_counts(
        docs.filter(F.col("source").isin("src0", "src1")))
    scored = lm.lm_buckets(lm.lm_score(docs, uni, big, sc))
    keep = scored.filter("ppl_bucket <= 2 OR ppl_bucket IS NULL") \
        .select("doc_id")
    docs = docs.join(keep, on="doc_id", how="left_semi")
    n3b = docs.count()

    # 3c. trained quality classifier (DCLM/fastText shape): hashed
    #     n-gram logistic regression on a stopword-density proxy label,
    #     scored map-side from the plan-literal weight vector
    from xclim_spark.llm import quality_clf as qc

    stop = ("the", "and", "of", "to", "a", "in", "is", "that", "for",
            "it")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    labeled = docs.withColumn("_t", toks).filter(F.size("_t") >= 1) \
        .withColumn("label",
                    (F.size(F.filter(F.col("_t"),
                                     lambda x: x.isin(*stop)))
                     .cast("double") / F.size("_t") >= 0.06).cast("int"))
    wts = qc.quality_clf_train(labeled, label_col="label", dim=256,
                               epochs=6)
    keep_q = qc.quality_clf_score(docs, wts) \
        .filter("quality_score >= 0.4").select("doc_id")
    docs = docs.join(F.broadcast(keep_q), on="doc_id", how="left_semi")
    n3c = docs.count()

    # 4. exact duplicate-substring spans (Lee et al. 2022): drop docs
    #    whose duplicated span covers most of their text (here: any
    #    span of 16+ tokens shared with another doc)
    spans = dd.duplicate_spans(docs, n=8, min_docs=2)
    long_spans = (spans
                  .filter(F.col("span_end") - F.col("span_start") >= 15)
                  .select("doc_id").distinct())
    docs = docs.join(F.broadcast(long_spans), on="doc_id",
                     how="left_anti")
    n4 = docs.count()

    # 5. PII scrub: redact emails/IPs/SSNs/phones in place, keep the
    #    per-kind counts as quality metadata (pure regexp expressions)
    counts = tx.pii_counts(F.col("text"))
    docs = docs.select(
        "doc_id", "source",
        tx.redact_pii(F.col("text")).alias("text"),
        sum(counts.values()).alias("n_pii"),
    )
    n5 = docs.filter("n_pii > 0").count()

    # 6. deterministic per-source mixture (hash-sampled, replayable)
    rates = {f"src{i}": 0.25 + 0.05 * (i % 10) for i in range(20)}
    mix = pl.mixture_sample(docs, rates)
    n6 = mix.count()

    # 7. pack into 512-token training contexts per source stream
    packed = pl.pack_sequences(mix, 512)
    n7 = packed.select("source", "pack_id").distinct().count()

    # 8. exact token accounting under a corpus-trained BPE tokenizer
    #    (one corpus pass + vocab-table merge rounds; Arrow encoder)
    merges = tok.bpe_train(mix, num_merges=16)
    tokens = tok.bpe_encode_counts(mix, merges) \
        .agg(F.sum("n_tokens")).first()[0]

    print(f"documents           : {n0}")
    print(f"after bloom screen  : {n0b}")
    print(f"after dedup         : {n1}")
    print(f"after decontam      : {n2}")
    print(f"after quality filter: {n3}")
    print(f"after ppl filter    : {n3b}")
    print(f"after quality clf   : {n3c}")
    print(f"after substr dedup  : {n4}")
    print(f"docs with PII hits  : {n5}")
    print(f"after mixture       : {n6}")
    print(f"packed contexts     : {n7}")
    print(f"exact BPE tokens    : {tokens} ({len(merges)} merges)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1
         else "/root/testdata/sf0.01")
