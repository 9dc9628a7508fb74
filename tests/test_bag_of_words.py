"""The corpus bag of words (retrieval_index ``bag``) behind every
word-count operator.  Pinned here: each operator that reads it matches
its DuckDB oracle on dirty text (NULL, empty and whitespace-only
documents), none leaves an entry in the SQL cache, and the exact-pair
guard of the dedup diagnostics probes each corpus version afresh."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from go_mapreduce_crawler_spark.operators import all_oracles, all_queries
from go_mapreduce_crawler_spark.operators import retrieval_index as ri
from tests.oracle_utils import compare

QUERIES = all_queries()
ORACLES = all_oracles()

# Every operator that counts words from the bag instead of exploding
# documents itself.
BAG_READERS = (
    "text_tfidf_top_terms", "text_inverted_index", "text_heavy_hitters",
    "text_unigram_lm_score", "text_bigram_lm_score",
    "text_kneser_ney_score", "text_pmi_cooccurrence",
    "text_textrank_keywords", "text_oov_rate", "text_zipf_slope",
    "unigram_lm_train", "unigram_lm_apply", "corpus_domain_mixture",
    "domain_mixture_mw_iterated", "dsir_importance_weights",
    "text_heavy_hitters_cms", "dedup_jaccard_pairs",
    "dedup_sorted_neighborhood", "dedup_containment_pairs")

# NULL text, empty text and whitespace-only text
DIRTY = ((900001, None), (900002, ""), (900003, "   "))


def _with_rows(src: pa.Table, rows) -> pa.Table:
    """``src`` plus one row per (doc_id, text); the other columns copy
    the first rows of ``src``."""
    extra = pa.table({f.name: pa.array(
        [i for i, _ in rows] if f.name == "doc_id"
        else [t for _, t in rows] if f.name == "text"
        else src.column(f.name).to_pylist()[:len(rows)],
        type=f.type) for f in src.schema})
    return pa.concat_tables([src, extra])


@pytest.fixture(scope="module")
def dirty(sf_small, tmp_path_factory):
    """sf_small's documents plus a NULL-text, an empty-text and a
    whitespace-only document, with a DuckDB view over them."""
    d = str(tmp_path_factory.mktemp("dirty"))
    src = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    pq.write_table(_with_rows(src, DIRTY),
                   os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')")
    yield d, con
    con.close()
    ri.clear()


@pytest.mark.parametrize("name", BAG_READERS)
def test_bag_readers_match_oracle_on_dirty_text(spark, dirty, name):
    d, con = dirty
    assert compare(QUERIES[name](spark, d), con, ORACLES[name], name) == []


def test_bag_counts_skip_null_text(spark, dirty):
    """A NULL-text document has no tokens, so no row in the bag; the
    empty and whitespace-only ones count their empty tokens (1 and 4),
    as ``string_split`` does."""
    d, _ = dirty
    ix = ri.index_for(spark, d)
    dl = {r.doc_id: r.dl for r in ix.bag.dl.filter("doc_id >= 900001")
          .collect()}
    assert dl == {900002: 1, 900003: 4}
    assert ix.bag.n_docs == ix.doc_count() - 1


def test_bag_readers_leave_no_cache_entries(spark, sf_small):
    """The bag is held as local checkpoints, outside the SQL cache, and
    no reader caches a copy of it: collecting each leaves the
    CacheManager empty."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for name in BAG_READERS:
        assert QUERIES[name](spark, sf_small).collect(), name
        assert cache.isEmpty(), name


def test_exact_pair_bound_probes_each_corpus_version(spark, sf_small,
                                                     tmp_path, monkeypatch):
    """The document count behind the exact-pair guard is probed once per
    corpus version: a corpus that passed the guard and is then
    rewritten in place with more documents than the bound is refused."""
    from go_mapreduce_crawler_spark.operators import dedup

    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    shutil.copy(os.path.join(sf_small, "documents.parquet"), path)
    src = pq.read_table(path)
    monkeypatch.setattr(dedup, "JACCARD_EXACT_MAX_DOCS", src.num_rows)
    try:
        assert dedup.q_dedup_jaccard_pairs(spark, d).count() > 0

        grown = _with_rows(src, [(900001, "one more document")])
        pq.write_table(grown, path)
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        for op in (dedup.q_dedup_jaccard_pairs, dedup.q_dedup_containment):
            with pytest.raises(ValueError, match="sample bound"):
                op(spark, d)
    finally:
        ri.clear()
