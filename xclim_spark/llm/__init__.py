"""LLM training-data pipeline operators: dedup, similarity, text analysis.

The components a 100 TB corpus pipeline needs, built Spark-first:

* :mod:`.dedup` — exact hash dedup, MinHash+LSH near-dedup, SimHash,
  duplicate-span / paragraph / C4 sentence-span removal, connected
  components;
* :mod:`.bloom` — Bloom-filter approximate membership for
  cross-snapshot dedup at ingest (bounded state, zero-shuffle probe);
* :mod:`.similarity` — cosine top-k (brute force baseline, LSH, IVF,
  IVF-PQ/IVFADC) over embedding columns, k-means / PQ codebook
  training, JL random projection;
* :mod:`.text` — language id, quality scoring (Gopher/C4 rules), token
  counting, fingerprinting, NFC normalization, PII scrubbing;
* :mod:`.tokenizer` — BPE training (one corpus pass, merge rounds on
  the driver when the word table fits) and exact Arrow-batched token
  accounting;
* :mod:`.lm` — CCNet-style n-gram LM perplexity filtering (stupid
  backoff, model-as-DataFrames scoring, head/middle/tail buckets);
* :mod:`.quality_clf` — trained quality classifier (DCLM/fastText
  shape): hashed-n-gram logistic regression trained in numpy on the
  collected feature table when it fits (else map-side passes + one
  groupBy(feature) shuffle per epoch), scored map-side by an Arrow
  UDF whose closure carries the weight vector;
* :mod:`.urls` — URL canonicalization, registered-domain extraction,
  canonical-URL dedup and domain-mix counts;
* :mod:`.search` — BM25 ranked retrieval over the corpus;
* :mod:`.pipeline` — decontamination, mixture/stratified sampling,
  Gopher repetition statistics, sequence packing;
* :mod:`.multimodal` — binary-column plumbing with codec-free
  image/audio header probes.
"""

from . import (  # noqa: F401
    bloom,
    dedup,
    lm,
    multimodal,
    pipeline,
    quality_clf,
    search,
    similarity,
    text,
    tokenizer,
    urls,
)
