"""Batch-monotone doc ids (operators/parse.py::assign_doc_ids).

End-to-end invariants of the tail-append compaction design:

- an index grown by streaming compaction returns the same (qid, rank, url,
  score) on the fixture query set as a from-scratch rebuild, and the same
  term_stats (term, df);
- compaction takes the incremental path and the spliced hot-term groups
  really are multi-block (the splice-eligible shape);
- re-crawls dedup by URL (ids are not content-addressed);
- the id layout: every parsed batch — build, resumed build or compaction —
  lands in its own 2^48 slot above all earlier ids;
- an index built with the retired url-hash ids (stamped ``hash``, or
  built before the stamp existed) is refused by compaction and build
  resume, and still answers queries.

Rank identity against the reference oracle is pinned by
tests/test_parity.py; splice byte-correctness by tests/test_codec_append.py.
"""

import os

import pytest

import pyspark.sql.functions as F

from search_engine_spark.config import EngineConfig

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def spark():
    from search_engine_spark.session import get_spark

    cfg = EngineConfig(num_buckets=2, shuffle_partitions=4)
    s = get_spark("test-monotone", master="local[4]", config=cfg)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _cfg(**kw):
    return EngineConfig(num_buckets=2, shuffle_partitions=4, block_size=8,
                        **kw)


def _results(spark, idx, cfg):
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

    eng = BM25SearchEngine(spark, idx, cfg)
    rows = eng.search_batch(FIXTURE_QUERIES[:12], k=10).collect()
    return sorted((r.qid, r.rank, r.url, round(r.score, 9)) for r in rows)


def _term_stats(spark, idx):
    return sorted(map(tuple,
                      spark.read.parquet(f"{idx}/term_stats").collect()))


def _slots_by_batch(spark, idx):
    """2^48 slot of each parsed batch, in manifest (commit) order."""
    from search_engine_spark.sources.catalog import CatalogAdapter

    rows = (
        spark.read.parquet(f"{idx}/parsed")
        .groupBy("batch")
        .agg(F.min(F.shiftrightunsigned("doc_id", 48)).alias("lo"),
             F.max(F.shiftrightunsigned("doc_id", 48)).alias("hi"))
        .collect()
    )
    span = {str(r["batch"]): (r["lo"], r["hi"]) for r in rows}
    order = CatalogAdapter(idx).completed_batches("parsed")
    assert all(span[b][0] == span[b][1] for b in order), span
    return [span[b][0] for b in order]


def test_monotone_mode_end_to_end(spark, tmp_path):
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    full = generate_web_pages(540)
    base = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 400), base)
    inc_dir = tmp_path / "incoming"
    inc_dir.mkdir()
    pq.write_table(full.slice(400, 80), str(inc_dir / "wave.parquet"))
    all_path = str(tmp_path / "all.parquet")
    pq.write_table(full.slice(0, 480), all_path)

    # two 480-doc indexes: rebuilt from scratch, and grown by compaction
    rebuild = str(tmp_path / "rebuild")
    build_index(spark, spark.read.parquet(all_path), rebuild, _cfg(),
                resume_batches=2)

    mono_idx = str(tmp_path / "mono_idx")
    mcfg = _cfg()
    build_index(spark, spark.read.parquet(base), mono_idx, mcfg,
                resume_batches=1)
    incremental_index_update(spark, str(inc_dir), str(tmp_path / "staging"),
                             str(tmp_path / "ckpt"), mcfg)
    out = compact_staging(spark, mono_idx, str(tmp_path / "staging"), mcfg)
    assert out["incremental"] is True
    assert out["n_docs"] == 480 - _dropped(full.slice(0, 480))

    # term_stats and rank identity: compacted == rebuild
    assert _term_stats(spark, mono_idx) == _term_stats(spark, rebuild)
    res = _results(spark, mono_idx, mcfg)
    assert res == _results(spark, rebuild, _cfg())
    assert len(res) > 50  # non-vacuous

    post = spark.read.parquet(f"{mono_idx}/postings")
    # splice-eligible shape existed: hot terms span multiple blocks
    assert post.filter(F.size("block_last") > 1).count() > 10

    # re-crawl of an ALREADY-INDEXED url: dedup is by url, not id —
    # compacting it again must be a no-op append (0 new docs)
    recrawl = tmp_path / "incoming2"
    recrawl.mkdir()
    pq.write_table(full.slice(10, 5), str(recrawl / "again.parquet"))
    incremental_index_update(spark, str(recrawl), str(tmp_path / "staging2"),
                             str(tmp_path / "ckpt2"), mcfg)
    out2 = compact_staging(spark, mono_idx, str(tmp_path / "staging2"), mcfg)
    assert out2["batch_id"] is None  # nothing new appended
    assert out2["n_docs"] == out["n_docs"]

    # a second fold of new docs takes the next slot: every batch sits in
    # its own 2^48 slot, strictly above all earlier ones
    wave3 = tmp_path / "incoming3"
    wave3.mkdir()
    pq.write_table(full.slice(480, 60), str(wave3 / "wave3.parquet"))
    incremental_index_update(spark, str(wave3), str(tmp_path / "staging3"),
                             str(tmp_path / "ckpt3"), mcfg)
    out3 = compact_staging(spark, mono_idx, str(tmp_path / "staging3"), mcfg)
    assert out3["batch_id"] == "compact-2" and out3["incremental"] is True
    assert out3["n_docs"] == 540 - _dropped(full)
    slots = _slots_by_batch(spark, mono_idx)
    assert len(slots) == 3
    assert all(a < b for a, b in zip(slots, slots[1:])), slots


def test_file_resume_regroup_takes_fresh_slots(spark, tiny_corpus_path,
                                               tmp_path, monkeypatch):
    """A resumed file-level build regroups the remaining files under fresh
    batch ids; their ids must not reuse a slot a kept batch holds."""
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter

    multi = str(tmp_path / "pages_multi")
    spark.read.parquet(tiny_corpus_path).repartition(4).write.parquet(multi)
    idx = str(tmp_path / "idx")

    real_append = CatalogAdapter.append_batch
    calls = []

    def crashing_append(self, df, name, batch_id, **kw):
        if len(calls) == 2:
            raise RuntimeError("simulated kill")
        calls.append(batch_id)
        return real_append(self, df, name, batch_id, **kw)

    monkeypatch.setattr(CatalogAdapter, "append_batch", crashing_append)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_index(spark, spark.read.parquet(multi), idx, _cfg(),
                    resume_batches=4)
    monkeypatch.setattr(CatalogAdapter, "append_batch", real_append)
    build_index(spark, spark.read.parquet(multi), idx, _cfg(),
                resume_batches=4)

    batches = CatalogAdapter(idx).completed_batches("parsed")
    assert any(b.startswith("resume") for b in batches)
    assert _slots_by_batch(spark, idx) == list(range(len(batches)))
    parsed = spark.read.parquet(f"{idx}/parsed")
    assert parsed.count() == parsed.select("doc_id").distinct().count()


def _dropped(tbl) -> int:
    """Rows whose text cleans to nothing (fixtures EMPTY_SNIPPET stride)."""
    n = tbl.num_rows
    return sum(1 for i in range(n) if i % 613 == 7)


def test_monotone_batch_seq_envelope():
    from search_engine_spark.operators.parse import assign_doc_ids

    with pytest.raises(ValueError, match="batch_seq"):
        assign_doc_ids(None, EngineConfig(), batch_seq=1 << 15)


@pytest.mark.parametrize("stamp", ["hash", None])
def test_old_layout_index_refused(spark, tmp_path, stamp):
    """An index stamped ``doc_id_mode: hash``, or carrying no stamp (built
    before the stamp existed), holds url-hash ids: compaction and build
    resume refuse it with a ValueError naming the stamp, and the index
    still answers queries exactly as before."""
    import json

    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import compact_staging

    full = generate_web_pages(200)
    base = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 160), base)
    more = str(tmp_path / "more.parquet")
    pq.write_table(full.slice(160, 40), more)
    staging = str(tmp_path / "staging")
    parse_corpus(spark.read.parquet(more), _cfg()).write.parquet(staging)

    idx = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(base), idx, _cfg(),
                resume_batches=1)
    before = _results(spark, idx, _cfg())
    assert len(before) > 20  # non-vacuous

    cat = CatalogAdapter(idx)
    manifest = cat._load()
    assert manifest["properties"]["doc_id_mode"] == "monotone"
    if stamp is None:
        del manifest["properties"]["doc_id_mode"]
    else:
        manifest["properties"]["doc_id_mode"] = stamp
    with open(cat._manifest_path(), "w") as f:
        json.dump(manifest, f)
    n_snapshots = len(manifest["snapshots"])

    with pytest.raises(ValueError, match="doc_id_mode"):
        compact_staging(spark, idx, staging, _cfg())
    with pytest.raises(ValueError, match="doc_id_mode"):
        build_index(spark, spark.read.parquet(base), idx, _cfg(),
                    resume_batches=1)
    assert len(cat._load()["snapshots"]) == n_snapshots  # nothing written
    assert _results(spark, idx, _cfg()) == before
