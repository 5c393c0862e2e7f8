"""Seeded benchmark inputs: base corpus, increment and query batch.

Everything the engine receives is derived from one integer seed. The
corpus comes from ``search_engine_spark.sources.fixtures`` with its module
seed swapped for the benchmark seed, so seed 42 reproduces the fixture
corpus byte for byte. The engine only ever sees the Parquet files written
here and plain query strings.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from search_engine_spark.sources import fixtures

QUERIES_PER_BATCH = 25
#: df strata of the query stream, with the share of query tokens drawn
#: from each (unknown = a token the corpus never contains)
STRATA = (("head", 0.3), ("mid", 0.3), ("rare", 0.25), ("unknown", 0.15))
#: fixture queries that carry the tokenizer forms (hashtag, mention,
#: number, percent, fraction, dash, multi-word entity); every batch has them
TOKENIZER_FORM_QIDS = (7, 8, 9, 10, 11, 12, 13)


@dataclass(frozen=True)
class Shape:
    """Corpus shape of one workload."""

    base_docs: int
    increment_docs: int
    vocab_size: int | None = None  # None = the 5k-term fixture vocabulary
    zipf_s: float | None = None


@contextlib.contextmanager
def _fixture_seed(seed: int):
    saved = fixtures.SEED
    fixtures.SEED = seed
    try:
        yield
    finally:
        fixtures.SEED = saved


def write_corpus(shape: Shape, seed: int, base_path: str,
                 increment_dir: str) -> tuple[list, list]:
    """Write the base corpus file and the increment (as the only file of
    ``increment_dir``, the landing directory the ingest stream reads).

    Both are slices of ONE generated corpus of base + increment rows, as
    the repo's own compaction bench does. Returns the (url, warc_ts, text)
    rows of base and of base + increment, for the oracle.
    """
    with _fixture_seed(seed):
        table = fixtures.generate_web_pages(
            shape.base_docs + shape.increment_docs,
            vocab_size=shape.vocab_size, zipf_s=shape.zipf_s,
        )
    os.makedirs(increment_dir, exist_ok=True)
    pq.write_table(table.slice(0, shape.base_docs), base_path,
                   compression="snappy", row_group_size=8_192)
    pq.write_table(table.slice(shape.base_docs),
                   os.path.join(increment_dir, "pages.parquet"),
                   compression="snappy", row_group_size=8_192)
    rows = list(zip(table["url"].to_pylist(), table["warc_ts"].to_pylist(),
                    table["text"].to_pylist()))
    return rows[:shape.base_docs], rows


def query_batch(term_df: dict[str, int], seed: int, batch: int = 0,
                n: int = QUERIES_PER_BATCH) -> list[tuple[int, str]]:
    """Batch number ``batch`` of the seeded stream of ``(qid, text)``
    queries, stratified by df.

    ``term_df`` is the indexed vocabulary (term -> df) of the corpus the
    batch runs against. The batch holds the fixture queries that carry the
    tokenizer forms, then generated queries of 1-8 tokens. Head = the 20
    highest-df terms, mid = the next 200 terms with df > 3, rare = df <= 3,
    unknown = a token the corpus never contains. Query lengths and the
    number of tokens per stratum are fixed quotas, so only which terms
    fill them depends on the seed and the work per batch stays comparable
    across seeds.
    """
    rng = np.random.default_rng([seed, 1, batch])
    by_df = sorted(term_df, key=lambda t: (-term_df[t], t))
    pools = {
        "head": by_df[:20],
        "mid": [t for t in by_df[20:] if term_df[t] > 3][:200],
        "rare": [t for t in by_df if term_df[t] <= 3],
    }
    texts = [text for qid, text in fixtures.FIXTURE_QUERIES
             if qid in TOKENIZER_FORM_QIDS]
    lengths = rng.permutation(
        [1 + i % 8 for i in range(n - len(texts))]).tolist()
    n_tokens = sum(lengths)
    quota = [round(share * n_tokens) for _, share in STRATA]
    quota[0] += n_tokens - sum(quota)
    strata = rng.permutation(np.repeat(
        [name for name, _ in STRATA], quota)).tolist()
    for length in lengths:
        tokens = []
        for _ in range(length):
            pool = pools.get(strata.pop())
            if not pool:  # "unknown", or a stratum this vocabulary lacks
                tokens.append("zq%07d" % rng.integers(10 ** 7))
            else:
                tokens.append(pool[int(rng.integers(len(pool)))])
        texts.append(" ".join(tokens))
    return list(enumerate(texts, start=1))
