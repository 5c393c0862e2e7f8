"""Corpus parse stage: web_pages → per-doc index inputs.

Spark mapping of the reference's reader+parser stages (reference
reader.py:9-43, parser_module.py:104-191): one narrow Arrow-batched
``mapInPandas`` pipeline — scan → column-pruned projection → tokenize.
No shuffle; Catalyst pushes the column pruning into the parquet scan
(only ``url, warc_ts, text`` are read, not ``html``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

from search_engine_spark.config import EngineConfig

PARSED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("doc_length", IntegerType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("unique_terms", IntegerType(), False),
        StructField(
            "terms",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType(), False),
                        StructField("tf", IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        StructField(
            "capitals",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType(), False),
                        StructField("cap", BooleanType(), False),
                    ]
                )
            ),
            False,
        ),
        StructField("entities", ArrayType(StringType()), False),
    ]
)


def _parse_batches(stemming: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-side imports: keep the closure picklable and cheap
        from search_engine_spark.functions.textproc import parse_web_doc

        stemmer = None
        if stemming:
            from search_engine_spark.functions.stemmer import Stemmer

            stemmer = Stemmer()

        for pdf in batches:
            # clean_text is intentionally NOT staged: no downstream index
            # table consumes it (the byte-identity invariant is enforced at
            # the function level, tests/test_textproc.py), and carrying the
            # full cleaned body would double the staged table's write volume
            rows = {k: [] for k in (
                "url", "warc_ts", "doc_length", "max_tf",
                "unique_terms", "terms", "capitals", "entities")}
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                doc = parse_web_doc(url, text, stemmer=stemmer)
                if doc is None:
                    continue
                rows["url"].append(doc.url)
                rows["warc_ts"].append(ts)
                rows["doc_length"].append(doc.doc_length)
                rows["max_tf"].append(doc.max_tf)
                rows["unique_terms"].append(doc.unique_terms)
                rows["terms"].append(
                    [{"term": t, "tf": c} for t, c in doc.term_tf.items()]
                )
                rows["capitals"].append(
                    [{"term": t, "cap": c} for t, c in doc.capitals.items()]
                )
                rows["entities"].append(sorted(doc.entities))
            yield pd.DataFrame(rows)

    return fn


#: batch-monotone doc_id layout: ids of batch k live in [k·2^48, (k+1)·2^48)
DOC_ID_BATCH_SHIFT = 48


def assign_doc_ids(
    parsed: DataFrame, cfg: EngineConfig, batch_seq: int = 0
) -> DataFrame:
    """Attach ``doc_id`` + ``bucket``.

    doc_id = batch_seq·2^48 + monotonically_increasing_id(): every id of
    batch k+1 exceeds every id of batch k, so an incremental posting merge
    is a tail-append (codec.append_posting_blob) and in-batch id gaps stay
    small enough for delta encoding to pay. Callers pass the number of
    ``parsed`` batches committed before this one as ``batch_seq``. Ranking
    never reads doc_id: the tie-break is (score, warc_ts, url), as the
    reference ties on date, not id (ranker.py:51-63).

    The in-batch id is (partition << 33 | row): it is assigned on a narrow,
    deterministically-partitioned chain (parquet scan → mapInPandas) and
    immediately persisted by the caller's table append, so a task retry
    regenerates identical values. Envelope: batch_seq < 2^15 and < 2^48 ids
    per batch (32k input partitions x 8.6B rows); exceeding either raises.
    ``bucket`` is pmod(doc_id, num_buckets) — sequential in-batch ids
    round-robin across buckets, so balance is preserved.
    """
    if not 0 <= batch_seq < (1 << 15):
        raise ValueError(
            f"monotone doc_id batch_seq {batch_seq} outside [0, 2^15)"
        )
    mid = F.monotonically_increasing_id()
    base = F.lit(batch_seq << DOC_ID_BATCH_SHIFT).cast("long")
    doc_id = F.when(mid < F.lit(1 << DOC_ID_BATCH_SHIFT), base + mid
                    ).otherwise(
        F.raise_error(
            F.lit("monotone doc_id overflow: > 2^48 ids in one batch "
                  "(coalesce the ingest batch or split it)")
        ).cast("long")
    )
    return parsed.withColumn("doc_id", doc_id).withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(cfg.num_buckets)).cast("int")
    )


def parse_corpus(
    pages: DataFrame, config: EngineConfig | None = None, batch_seq: int = 0
) -> DataFrame:
    """web_pages DataFrame → parsed docs with doc_id + bucket columns.

    ``doc_id`` is a batch-monotone id in the 2^48 slot ``batch_seq`` (see
    ``assign_doc_ids``); ``bucket`` doc-partitions the index so every
    term's postings are spread across all shards (hot-term skew never lands
    on one reducer).
    """
    cfg = config or EngineConfig()
    parsed = pages.select("url", "warc_ts", "text").mapInPandas(
        _parse_batches(cfg.stemming), schema=PARSED_SCHEMA
    )
    return assign_doc_ids(parsed, cfg, batch_seq)
