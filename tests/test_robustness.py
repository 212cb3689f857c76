"""Degenerate-input sweep: empty tables and null/empty text through the
operator surface — no crashes, sane shapes (the edges a 100 TB corpus WILL
contain)."""
import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope='module')
def empty_docs(spark):
    return spark.createDataFrame(
        [], 'doc_id long, text string, lang string, source string, n_chars long')


@pytest.fixture(scope='module')
def weird_docs(spark):
    rows = [
        (1, '', 'en', 's', 0),                       # empty text
        (2, ' ', 'en', 's', 1),                      # whitespace only
        (3, 'one', 'en', 's', 3),                    # single word
        (4, 'a b c d e f g h i j k l', 'en', 's', 23),
        (5, None, 'en', 's', None),                  # NULL text
    ]
    return spark.createDataFrame(
        rows, 'doc_id long, text string, lang string, source string, n_chars long')


def test_text_operators_survive_degenerate_docs(spark, weird_docs, empty_docs):
    from changepoynt_spark.operators import text as txt
    docs_nonnull = weird_docs.filter('text IS NOT NULL')
    for fn in (txt.token_counts, txt.quality_stats, txt.quality_filter_flags,
               txt.normalize_text, txt.lexical_diversity, txt.repetition_stats,
               txt.corpus_report):
        out = fn(docs_nonnull)
        assert out.count() >= 0        # materializes without error
        out_schema_cols = out.columns  # schema resolves
        assert len(out_schema_cols) > 1
        assert fn(empty_docs).count() == 0
    # keep flags stay total booleans on empty/whitespace docs
    flags = txt.quality_filter_flags(docs_nonnull).toPandas()
    assert flags['keep'].notna().all()
    # chunking: empty text yields one (empty) chunk, not a crash
    ch = txt.chunk_documents(docs_nonnull, chunk_words=5, overlap=1).toPandas()
    assert set(ch['doc_id']) == {1, 2, 3, 4}
    # bm25 on a term nothing contains
    assert txt.bm25_search(docs_nonnull, ['zzz'], k=3).count() == 0


def test_dedup_similarity_survive_degenerate_inputs(spark, weird_docs, empty_docs):
    from changepoynt_spark.operators import dedup
    docs = weird_docs.filter('text IS NOT NULL')
    assert dedup.exact_dup_groups(docs).count() == 0      # all texts distinct
    assert dedup.simhash(docs).count() == 4
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    # CC over an empty pair graph
    pairs = spark.createDataFrame([], 'doc_a long, doc_b long')
    assert dedup.dup_clusters(pairs).count() == 0
    assert dedup.dup_clusters_star(pairs).count() == 0


def test_ngram_jaccard_pairs_requires_a_df_cap(spark, weird_docs):
    """An uncapped posting list builds k^2/2 pairs for one hot shingle in a
    single row, so the cap has no default and must be >= 1."""
    from changepoynt_spark.operators import dedup
    with pytest.raises(TypeError, match='df_cap'):
        dedup.ngram_jaccard_pairs(weird_docs)
    with pytest.raises(ValueError, match='df_cap'):
        dedup.ngram_jaccard_pairs(weird_docs, df_cap=0)


@pytest.mark.parametrize('module, op, kw, match', [
    ('dedup', 'minhash_lsh_pairs', {'num_hashes': 32, 'bands': 5}, 'bands'),
    ('dedup', 'simhash', {'bits': 65}, 'bits'),
    ('fused', 'score_rollup', {'output': 'table'}, 'output'),
    ('bpe', 'learn_bpe_merges_windowed', {'mode': 'greedy'}, 'mode'),
    ('window_ops', 'moving_window_score', {'method': 'median'}, 'method'),
    ('window_ops', 'seasonal_decompose', {'keys': ['doc_id'], 'period': 1},
     'period'),
])
def test_operator_input_checks_raise_value_error(weird_docs, module, op, kw, match):
    """Out-of-contract operator arguments raise ValueError, not an assert
    (``python -O`` strips asserts and the call would run on)."""
    import importlib
    fn = getattr(importlib.import_module(f'changepoynt_spark.operators.{module}'), op)
    with pytest.raises(ValueError, match=match):
        fn(weird_docs, **kw)


def test_rollup_operators_survive_empty_events(spark):
    from changepoynt_spark.operators import rollup
    ev = spark.createDataFrame([], 'event_id long, ts timestamp, user_id long, '
                                   'event_type string, value double, props string')
    assert rollup.rollup_from_points(ev, ['user_id']).count() == 0
    assert rollup.time_weighted_avg(ev, ['user_id']).count() == 0
    assert rollup.rollup_partial(ev, ['user_id']).count() == 0
    assert rollup.percentile_rollup(ev, ['user_id']).count() == 0
    # single-point series: TWA covers exactly its own bucket remainder
    one = spark.createDataFrame([(1, dt.datetime(2026, 1, 1, 0, 10, 30), 5.0)],
                                'user_id long, ts timestamp, value double')
    twa = rollup.time_weighted_avg(one, ['user_id'],
                                   interval_seconds=3600).toPandas()
    assert len(twa) == 1 and twa['twa'].iloc[0] == 5.0


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize('cc', ['dup_clusters', 'dup_clusters_star'])
def test_dup_clusters_release_retired_label_checkpoints(spark, cc):
    """Every round's retired checkpoint is freed: a multi-round chain leaves
    at most the returned frame's own checkpoint cached, and a run that
    fails to converge leaves nothing."""
    from changepoynt_spark.operators import dedup
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 8)],
                                  'doc_a long, doc_b long')
    before = _persisted(spark)
    got = {r['doc_id']: r['cluster_id']
           for r in getattr(dedup, cc)(pairs).collect()}
    assert got == {i: 1 for i in range(1, 9)}
    assert len(_persisted(spark) - before) <= 1
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match='did not converge'):
        getattr(dedup, cc)(pairs, max_iterations=1)
    assert _persisted(spark) <= before
