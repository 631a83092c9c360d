"""Streaming model serving: score a document stream with a batch-trained
Naive Bayes language model.

The production shape for classifier-based curation at ingest time: the
model is trained OFFLINE (one batch pass over the training half — the
same counts the registered ``docs_nb_langid_confusion`` query builds),
collapsed to its bounded tables (L priors, L·B smoothed log-likelihoods,
all exact integer micro-nats), and embedded in the stream as literal map
lookups — so scoring is completely STATELESS: each arriving document is
classified inside its own row by a fold over its token buckets, no
shuffle, no streaming state, no watermark. A 100 TB/day feed scores at
scan speed; the only state anywhere is the sink's.

The per-row fold (``aggregate`` over the token array) is the same
sequential-integer-sum contract as the batch query, so stream and batch
predictions are bit-identical — pinned by
tests/test_streaming.py::test_nb_score_stream_matches_batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..constants import NB_BUCKETS, NB_SPLIT_SEED
from ..functions.hashing import hash60_expr
from ..functions.text import clean_text_expr
from ..functions.textstats import tokens_expr
from ..sources.tables import load_table


def nb_train_model(
    spark: SparkSession, sf_dir: str
) -> dict:
    """One batch pass over the train half (seeded doc_id hash, the
    registered query's split): returns the bounded literal model —
    sorted langs, per-lang prior and unseen-bucket default, and the
    per-(lang, bucket) log-likelihood table, all integer micro-nats."""
    import math

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", clean_text_expr(F.col("text")).alias("c"))
        .where(F.col("lang").isNotNull())
    )
    feats = d.where(
        F.pmod(
            hash60_expr(F.col("doc_id").cast("string"), seed=NB_SPLIT_SEED),
            F.lit(2),
        )
        == 0
    ).select(
        "doc_id",
        "lang",
        F.explode(tokens_expr(F.col("c"))).alias("g"),
    ).select(
        "doc_id", "lang", F.pmod(hash60_expr(F.col("g")), F.lit(NB_BUCKETS)).alias("b")
    )
    c_lb = {
        (r["lang"], int(r["b"])): int(r["n"])
        for r in feats.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    t_l: dict[str, int] = {}
    for (lang, _b), n in c_lb.items():
        t_l[lang] = t_l.get(lang, 0) + n
    n_l = {
        r["lang"]: int(r["n"])
        for r in feats.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    n_train, n_langs = sum(n_l.values()), len(n_l)
    langs = sorted(n_l)
    prior = {
        lang: round(math.log((n_l[lang] + 1) / (n_train + n_langs)) * 1e6)
        for lang in langs
    }
    ll = {
        (lang, b): round(
            math.log((c + 1) / (t_l[lang] + NB_BUCKETS)) * 1e6
        )
        for (lang, b), c in c_lb.items()
    }
    default = {
        lang: round(math.log(1 / (t_l[lang] + NB_BUCKETS)) * 1e6)
        for lang in langs
    }
    return {"langs": langs, "prior": prior, "ll": ll, "default": default}


def nb_predict_expr(text: Column, model: dict) -> Column:
    """Predicted language for a raw text column, entirely row-local:
    token buckets via the seeded hash, one integer fold per candidate
    language over literal-map lookups, argmax with lang-ASC tie-break
    (the registered query's (score DESC, lang ASC) order, realized as
    array_sort over (-score, lang) structs)."""
    buckets = F.transform(
        tokens_expr(clean_text_expr(text)),
        lambda g: F.pmod(hash60_expr(g), F.lit(NB_BUCKETS)),
    )
    cands = []
    for lang in model["langs"]:
        entries = [
            x
            for (l, b), v in sorted(model["ll"].items())
            if l == lang
            for x in (F.lit(b), F.lit(v))
        ]
        m = F.create_map(*entries) if entries else F.create_map()
        dflt = F.lit(model["default"][lang])
        score = F.lit(model["prior"][lang]) + F.aggregate(
            buckets,
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.coalesce(m[b], dflt),
        )
        cands.append(
            F.struct((-score).alias("ns"), F.lit(lang).alias("lang"))
        )
    return F.array_sort(F.array(*cands))[0]["lang"]


def nb_score_stream(
    spark: SparkSession, src_dir: str, model: dict
) -> DataFrame:
    """Stateless classification of a JSON document feed: one output row
    per document with the model's prediction. No aggregation, no state."""
    docs = spark.readStream.schema(
        "doc_id long, lang string, text string"
    ).json(src_dir)
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        nb_predict_expr(F.col("text"), model).alias("predicted"),
    )
