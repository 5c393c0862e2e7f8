"""Compaction's full re-derive fallback must absorb the batch it appends.

``compact_staging`` falls back to ``derive_index_tables`` whenever the
incremental merge cannot run — for example on an index that predates the
persisted vocabulary states (``vocab_capitals``/``vocab_entities``). The
re-derive skips every table that already exists, so unless the fallback
drops the derived tables first, a freshly appended batch never reaches
corpus_stats, doc_stats or postings while the staleness stamp records it as
absorbed: the docs are lost silently and for good.
"""

import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.config import EngineConfig

#: a term only the increment contains (in >= 2 docs, so the df==1 pruning
#: keeps it in the vocabulary)
FRESH_TERM = "quokkafresh"


def _pages(texts, start):
    n = len(texts)
    return pa.table({
        "url": pa.array([f"https://fallback.example/p{start + i}"
                         for i in range(n)], pa.string()),
        "warc_ts": pa.array([1_600_000_000_000_000 + start + i
                             for i in range(n)],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([t.encode() for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
    })


def test_fallback_absorbs_fresh_batch(spark, tmp_path):
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(generate_web_pages(150), base_path)
    idx = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)
    cat = CatalogAdapter(idx)
    base_docs = int(cat.read_table(spark, "corpus_stats")
                    .collect()[0]["n_docs"])

    # an index from before the vocabulary states were persisted
    cat.drop_table("vocab_capitals")

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    fresh_texts = [f"{FRESH_TERM} market report number {i} rally"
                   for i in range(3)]
    pq.write_table(_pages(fresh_texts, 0), str(incoming / "fresh.parquet"))
    incremental_index_update(spark, str(incoming), str(tmp_path / "staging"),
                             str(tmp_path / "ckpt"), cfg)
    out = compact_staging(spark, idx, str(tmp_path / "staging"), cfg)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is False  # vocab state missing → fallback

    n_docs = int(cat.read_table(spark, "corpus_stats")
                 .collect()[0]["n_docs"])
    assert n_docs == base_docs + len(fresh_texts)
    assert cat.has_table("vocab_capitals")

    rows = BM25SearchEngine(spark, idx, cfg).search_batch(
        [(1, FRESH_TERM)], k=10).collect()
    assert {r["url"] for r in rows} == {
        f"https://fallback.example/p{i}" for i in range(len(fresh_texts))
    }
