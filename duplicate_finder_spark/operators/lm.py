"""CCNet-style n-gram language-model perplexity scoring.

CCNet (Wenzek et al. 2020) ranks Common-Crawl documents by the
perplexity of a language model trained on a trusted corpus — the
classic "does this read like curated text" quality signal that sits
beside the classifier gate (operators/classifier.py) and the
distribution matcher (operators/importance.py) in a pretraining
curation funnel. KenLM is unavailable here (and would be a per-row
black box anyway); this module re-expresses the signal as a hashed
WORD-BIGRAM add-one model whose fit and scoring are both plain
DataFrame algebra:

1. hash each word and each adjacent word pair of the TARGET corpus
   into ``n_buckets`` (first 32 bits of sha2, the same engine-portable
   bucket as operators/importance.py — gram text never shuffles);
2. the model is two count tables: C(u) over unigram buckets and C(b)
   over bigram buckets, with add-one smoothing over the bucket space
   p(w2|w1) = (C(b) + 1) / (C(u(w1)) + n_buckets) — unseen contexts
   degrade to the uniform 1/n_buckets, so every document scores;
3. a document's negative log likelihood is the sum over its bigram
   positions of −log p, carried in INTEGER micro-nats
   (round(1e6·(ln(C(u)+V) − ln(C(b)+1)))): per-doc sums are
   order-independent, so scores are bit-identical across partitionings
   and engines — the determinism contract of operators/importance.py
   and operators/sampling.py.

Scale shape (10^12 docs, small trusted target):

* both fits are map-side-combinable groupBy counts, each exchange
  bounded by ``n_buckets`` rows per map task regardless of corpus size;
* the two count tables are ≤ ``n_buckets`` rows — broadcast; scoring is
  one narrow pass over the corpus (linear zip_with bigrams → explode →
  two broadcast hash joins → per-doc partial-agg sum). The corpus
  text itself never shuffles; only (doc_id, bucket) pairs move, and
  only as far as the map side;
* ``mean_nll_micro`` uses integer floor division, avoiding any
  float-mean round-trip between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duplicate_finder_spark.functions.text import tokens
from duplicate_finder_spark.operators.importance import _bucket

__all__ = ["fit_bigram_lm", "lm_score"]


def _doc_bigrams(docs: DataFrame, n_buckets: int, id_col: str,
                 text_col: str) -> DataFrame:
    """→ (id, u, b) one row per bigram POSITION (not distinct): u is
    the context word's bucket, b the word-pair bucket. Linear zip_with
    (no quadratic slice capture), docs with < 2 tokens emit nothing."""
    # bind the token array in its own projection: both slices and the
    # zip_with read that bound attribute instead of each re-evaluating
    # the tokenizer expression (functions/text.py:40). The size filter
    # does not: Catalyst substitutes its alias and pushes it below the
    # projection, so it runs on its own tokenizer call
    t = (docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
         .filter(F.size("_toks") >= 2))
    toks = F.col("_toks")
    pairs = F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                       F.slice(toks, 2, F.size(toks) - 1),
                       lambda a, b: F.struct(a.alias("w1"),
                                             F.concat_ws(" ", a, b)
                                             .alias("g")))
    return (t
            .select(F.col(id_col), F.explode(pairs).alias("p"))
            .select(id_col,
                    _bucket(F.col("p.w1"), n_buckets).alias("u"),
                    _bucket(F.col("p.g"), n_buckets).alias("b")))


def fit_bigram_lm(target: DataFrame, n_buckets: int = 1 << 16,
                  id_col: str = "doc_id", text_col: str = "text",
                  ) -> tuple[DataFrame, DataFrame]:
    """Fit the hashed add-one bigram model over the trusted corpus.

    Returns ``(unigram_counts, bigram_counts)`` — (u, n_u) and
    (b, n_b), each ≤ n_buckets rows, both map-side-combinable counts.
    The context table counts BIGRAM POSITIONS per context bucket (not
    raw unigram occurrences), so Σ_b C(b|u) == C(u) holds exactly and
    the add-one model is a proper distribution over next-word buckets.
    """
    grams = _doc_bigrams(target, n_buckets, id_col, text_col)
    bi = grams.groupBy("u", "b").agg(F.count("*").alias("n_b")) \
              .select("u", "b", "n_b")
    # C(u) = Σ_b C(u, b) exactly (every bigram position contributes to
    # both tables), so the context table is a re-aggregation of the
    # (≤ n_buckets-row) bigram table — NOT a second full pass over the
    # target corpus: one scan + tokenize + explode instead of two.
    uni = bi.groupBy("u").agg(F.sum("n_b").alias("n_u"))
    return uni, bi


def _nll_micro(n_b: Column, n_u: Column, n_buckets: int) -> Column:
    """Integer micro-nat NLL of one bigram position under add-one
    smoothing: round(1e6·(ln(C(u)+V) − ln(C(b)+1))) ≥ 0."""
    return F.round(1e6 * (F.log(n_u + F.lit(float(n_buckets)))
                          - F.log(n_b + F.lit(1.0)))).cast("long")


def lm_score(docs: DataFrame, target: DataFrame,
             n_buckets: int = 1 << 16,
             id_col: str = "doc_id", text_col: str = "text",
             ) -> DataFrame:
    """→ (id, n_bigrams, nll_micro, mean_nll_micro) per doc with ≥ 2
    tokens. Lower mean = more target-like (CCNet keeps the low-ppl
    head/middle of the ranking).

    ``target`` may be a pre-fit ``(uni, bi)`` tuple from
    :func:`fit_bigram_lm` for repeated-scoring workloads.
    """
    if isinstance(target, tuple):
        uni, bi = target
    else:
        uni, bi = fit_bigram_lm(target, n_buckets, id_col, text_col)
    # precompute the micro-nat NLL per BUCKET on the (≤ n_buckets-row)
    # broadcast side — identical _nll_micro expressions, evaluated once
    # per distinct (u, b) / per distinct unseen u / once for the
    # never-seen-context constant, instead of two logs + a round per
    # bigram OCCURRENCE of the scored corpus
    bi_nll = (bi.join(uni, "u")
              .select("u", "b",
                      _nll_micro(F.col("n_b"), F.col("n_u"), n_buckets)
                      .alias("_nll_b")))
    uni_nll = uni.select(
        "u", _nll_micro(F.lit(0), F.col("n_u"), n_buckets).alias("_nll_u"))
    nll_unseen = _nll_micro(F.lit(0), F.lit(0), n_buckets)
    grams = _doc_bigrams(docs, n_buckets, id_col, text_col)
    scored = (grams
              .join(F.broadcast(bi_nll), ["u", "b"], "left")
              .join(F.broadcast(uni_nll), ["u"], "left")
              .select(id_col,
                      F.coalesce(F.col("_nll_b"), F.col("_nll_u"),
                                 nll_unseen).alias("nll")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("nll").alias("nll_micro"))
            .select(id_col, "n_bigrams", "nll_micro",
                    F.expr("nll_micro div n_bigrams")
                    .alias("mean_nll_micro")))
