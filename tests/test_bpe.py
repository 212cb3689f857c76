"""Learned-merge BPE tokenizer (operators/bpe.py).

The engine-portability contract rests on one primitive: literal
non-overlapping left-to-right substring replace that RESUMES AFTER each
replacement.  Spark's F.replace, DuckDB's replace and Python's str.replace
all implement it; the first test pins the three-engine agreement on the
adversarial run case, so the rest of the suite may use Python's str.replace
as the reference model.
"""
import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from changepoynt_spark.operators import bpe
from changepoynt_spark.operators.bpe import EOW, SEP


# ---------------------------------------------------------------- reference

def _delim_word(w):
    return ''.join(c + SEP for c in w + EOW)


def _delim_text(t):
    return ''.join(c + SEP for c in t.replace(' ', EOW) + EOW)


def _py_learn(texts, n_merges):
    """Pure-Python model of learn_bpe_merges: pair counts over the
    frequency-weighted distinct-word table, argmax with (count DESC, lhs,
    rhs) ties, applied as chained str.replace."""
    from collections import Counter
    wc = Counter(w for t in texts for w in t.split(' '))
    reprs = {w: _delim_word(w) for w in wc}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, cnt in wc.items():
            syms = [s for s in reprs[w].split(SEP) if s != '']
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append({'merge_rank': rank, 'lhs': lhs, 'rhs': rhs,
                       'merged': lhs + rhs, 'pair_count': cnt})
        for w in reprs:
            reprs[w] = reprs[w].replace(lhs + SEP + rhs, lhs + rhs)
    return merges


def _py_tokenize(text, merges):
    s = _delim_text(text)
    for m in merges:
        s = s.replace(m['lhs'] + SEP + m['rhs'], m['lhs'] + m['rhs'])
    return [t for t in s.split(SEP) if t != '']


# ---------------------------------------------------------------- primitive

def test_replace_run_semantics_agree_across_engines(spark):
    """The load-bearing primitive: replacing (l,l) over four separated l's
    must yield exactly two 'll' symbols (resume-after, not re-scan) in
    Python, DuckDB and Spark alike."""
    src = SEP.join(['l', 'l', 'l', 'l'])
    pat, rep = 'l' + SEP + 'l', 'll'
    expect = 'll' + SEP + 'll'
    assert src.replace(pat, rep) == expect
    got_duck = duckdb.sql(
        "SELECT replace(?, ?, ?)", params=[src, pat, rep]).fetchone()[0]
    assert got_duck == expect
    got_spark = (spark.range(1)
                 .select(F.replace(F.lit(src), F.lit(pat), F.lit(rep)))
                 .first()[0])
    assert got_spark == expect


# ----------------------------------------------------------------- learning

def test_learning_matches_python_model_on_planted_corpus(spark):
    texts = ['low low low lower lowest', 'new newer newest low',
             'wide wider new new']
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               'doc_id long, text string')
    got = bpe.learn_bpe_merges(df, n_merges=10)
    assert got == _py_learn(texts, 10)
    # sanity on content: 'low' is the dominant word, so 'l'+'o' or 'o'+'w'
    # must appear among the first merges
    first_pairs = {(m['lhs'], m['rhs']) for m in got[:3]}
    assert ('l', 'o') in first_pairs or ('o', 'w') in first_pairs


def test_learning_is_partition_invariant(spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(120)
    a = bpe.learn_bpe_merges(docs, n_merges=6)
    b = bpe.learn_bpe_merges(docs.repartition(7), n_merges=6)
    assert a == b


def test_learning_stops_early_when_pairs_run_out(spark):
    df = spark.createDataFrame([(0, 'ab ab')], 'doc_id long, text string')
    got = bpe.learn_bpe_merges(df, n_merges=50)
    # 'a b EOW' has pairs (a,b),(b,EOW) -> at most 2 merges then one final
    # full-word symbol with nothing adjacent
    assert 0 < len(got) < 50
    final = _py_tokenize('ab ab', got)
    assert final == ['ab' + EOW, 'ab' + EOW]


# ------------------------------------------------------------- application

def test_tokenize_matches_python_model_and_roundtrips(spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(60)
    merges = bpe.learn_bpe_merges(docs, n_merges=12)
    out = bpe.bpe_tokenize(docs, merges=merges, with_roundtrip=True)
    rows = {r['doc_id']: r for r in out.collect()}
    for src in docs.select('doc_id', 'text').collect():
        r = rows[str(src['doc_id'])]
        toks = _py_tokenize(src['text'], merges)
        assert list(r['tokens']) == toks
        assert r['n_bpe'] == len(toks)
        assert r['roundtrip'] is True
        # no token spans a word boundary: EOW only ever terminal
        for t in r['tokens']:
            assert EOW not in t[:-1]


def test_detokenize_is_byte_exact(spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(200)
    toks = bpe.bpe_tokenize(docs, n_merges=8)
    detok = bpe.bpe_detokenize(toks)
    j = (docs.select(F.col('doc_id').cast('string').alias('doc_id'),
                     F.col('text').alias('orig'))
         .join(detok, 'doc_id'))
    assert j.filter(F.col('orig') != F.col('text')).count() == 0
    assert j.count() == 200


def test_token_ids_use_portable_md5_formula(spark):
    df = spark.createDataFrame([(0, 'hi hi')], 'doc_id long, text string')
    out = bpe.bpe_tokenize(df, merges=[], vocab=50257).first()
    import hashlib
    for tok, tid in zip(out['tokens'], out['token_ids']):
        expect = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 50257
        assert tid == expect


# ------------------------------------------------------------- duckdb twin

def test_contract_queries_match_duckdb_twin(spark, sf_dir):
    """Spark learning+application vs the unrolled MATERIALIZED-CTE oracle,
    end to end on the test corpus (the driver repeats this at sf0.01)."""
    import __spark_entry__ as entrymod
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    q = entrymod.queries()
    sql = entrymod.oracle_sql()
    merges_spark = sorted(
        tuple(r) for r in q['doc_bpe_merges'](spark, sf_dir).collect())
    merges_duck = sorted(tuple(r) for r in
                         con.execute(sql['doc_bpe_merges']).fetchall())
    assert merges_spark == merges_duck
    tok_spark = sorted(tuple(r) for r in
                       q['doc_bpe_tokens'](spark, sf_dir).collect())
    tok_duck = sorted(tuple(r) for r in
                      con.execute(sql['doc_bpe_tokens']).fetchall())
    assert len(tok_spark) == len(tok_duck) > 0
    for a, b in zip(tok_spark, tok_duck):
        assert a == b
    assert all(r[5] is True or r[5] == 1 for r in tok_spark)  # roundtrip col


def test_materialized_hint_is_present_in_oracle(spark):
    """Guard the 2^n CTE-inlining blowup fix: the oracle must carry the
    MATERIALIZED hint on every chained CTE."""
    import __spark_entry__ as entrymod
    sql = entrymod.oracle_sql()['doc_bpe_merges']
    assert sql.count('AS MATERIALIZED') >= 2 * 16


# ------------------------------------------------------------------- plans

def test_application_is_a_zero_shuffle_scan(spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet')
    merges = [{'merge_rank': 1, 'lhs': 'e', 'rhs': 'r', 'merged': 'er',
               'pair_count': 1}]
    plan = (bpe.bpe_tokenize(docs, merges=merges)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'Exchange' not in plan


# ------------------------------------------------ windowed 1k-merge variant

def _py_learn_windowed(texts, n_rounds, batch, window=4):
    """Pure-Python model of learn_bpe_merges_windowed(mode='rank'):
    rank-ordered batches over the frequency-weighted distinct-window
    table, counts as-of round start, applied in rank order."""
    from collections import Counter
    cc = Counter()
    for t in texts:
        ws = t.split(' ')
        for i in range(0, len(ws), window):
            cc[' '.join(ws[i:i + window])] += 1
    reprs = {ch: _delim_text(ch) for ch in cc}
    merges = []
    for _ in range(n_rounds):
        pairs = Counter()
        for ch, cnt in cc.items():
            syms = [s for s in reprs[ch].split(SEP) if s != '']
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        acc = sorted(pairs.items(),
                     key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:batch]
        if not acc:
            break
        for (lhs, rhs), cnt in acc:
            merges.append({'merge_rank': len(merges) + 1, 'lhs': lhs,
                           'rhs': rhs, 'merged': lhs + rhs,
                           'pair_count': cnt})
            for ch in reprs:
                reprs[ch] = reprs[ch].replace(lhs + SEP + rhs, lhs + rhs)
    return merges, reprs


def test_windowed_learning_matches_python_model(spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(80)
    texts = [r['text'] for r in docs.select('text').collect()]
    got, rep = bpe.learn_bpe_merges_windowed(docs, n_rounds=3, batch=16,
                                             window=4)
    rep.unpersist()
    exp, _ = _py_learn_windowed(texts, 3, 16)
    assert got == exp
    # cross-word merges actually happen: some merged symbol contains an
    # INTERIOR EOW (a span across a word boundary)
    assert any(EOW in m['merged'][:-1] for m in got)


def test_windowed_tokenize_matches_model_and_is_partition_invariant(
        spark, sf_dir):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(50)
    texts = {r['doc_id']: r['text']
             for r in docs.select('doc_id', 'text').collect()}
    merges, rep = bpe.learn_bpe_merges_windowed(docs, n_rounds=3, batch=16,
                                                window=4)
    out = bpe.bpe_tokenize_windowed(docs, merges=merges, window_reprs=rep,
                                    window=4, with_roundtrip=True).toPandas()
    out2 = bpe.bpe_tokenize_windowed(docs.repartition(7), merges=merges,
                                     window=4, with_roundtrip=True).toPandas()
    rep.unpersist()
    _, wrep = _py_learn_windowed(list(texts.values()), 3, 16)
    for _, r in out.iterrows():
        t = texts[int(r['doc_id'])]
        ws = t.split(' ')
        exp = []
        for i in range(0, len(ws), 4):
            s = wrep[' '.join(ws[i:i + 4])]
            exp += [x for x in s.split(SEP) if x != '']
        assert list(r['tokens']) == exp, r['doc_id']
        assert r['roundtrip']
    a = out.sort_values('doc_id').reset_index(drop=True)
    b = out2.sort_values('doc_id').reset_index(drop=True)
    assert a['n_bpe'].tolist() == b['n_bpe'].tolist()
    assert [list(x) for x in a['token_ids']] == \
           [list(x) for x in b['token_ids']]


def test_windowed_1k_merges_detok_roundtrip_sf01(spark):
    """The r7 'realistic vocab' gate at sf0.1: 18x64 = 1152 learned merges
    (>= 1k), tokenization round-trips BYTE-EXACTLY for every one of the
    5000 docs — via the in-scan roundtrip audit column AND an explicit
    bpe_detokenize equality join."""
    docs = spark.read.parquet('/root/testdata/sf0.1/documents.parquet')
    merges, rep = bpe.learn_bpe_merges_windowed(docs, n_rounds=18, batch=64,
                                                window=4)
    assert len(merges) >= 1024
    tok = bpe.bpe_tokenize_windowed(docs, merges=merges, window_reprs=rep,
                                    window=4, with_roundtrip=True)
    tok = tok.persist()
    try:
        n = tok.count()
        assert n == docs.count()
        assert tok.filter(~F.col('roundtrip')).count() == 0
        detok = bpe.bpe_detokenize(tok)
        bad = (detok.alias('d')
               .join(docs.select(F.col('doc_id').cast('string')
                                  .alias('doc_id'),
                                 F.col('text').alias('orig')), 'doc_id')
               .filter(F.col('text') != F.col('orig')).count())
        assert bad == 0
        # tokens genuinely compress: fewer symbols than characters
        stats = tok.agg(F.sum('n_bpe').alias('nb')).first()
        nchar = docs.agg(F.sum(F.length('text'))).first()[0]
        assert stats['nb'] < nchar / 2
    finally:
        tok.unpersist()
        rep.unpersist()


def test_merge_table_icebergish_artifact_roundtrip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(80)
    merges, rep = bpe.learn_bpe_merges_windowed(docs, n_rounds=2, batch=16,
                                                window=4)
    rep.unpersist()
    snap = bpe.write_merge_table(spark, str(tmp_path / 'bpe'), merges,
                                 properties={'corpus': 'test'})
    assert snap['manifest']['properties']['n_merges'] == len(merges)
    back = bpe.read_merge_table(spark, str(tmp_path / 'bpe'))
    assert back == merges
    # tokenizing with the loaded table == tokenizing with the live one
    a = bpe.bpe_tokenize_windowed(docs, merges=merges, window=4).toPandas()
    b = bpe.bpe_tokenize_windowed(docs, merges=back, window=4).toPandas()
    a = a.sort_values('doc_id').reset_index(drop=True)
    b = b.sort_values('doc_id').reset_index(drop=True)
    assert [list(x) for x in a['token_ids']] == \
           [list(x) for x in b['token_ids']]


def test_learning_parallelism_is_data_sized(spark, sf_dir):
    """r9: the windowed learner's per-round parallelism derives from the
    distinct-window table size (floor 8, ~8k rows/task, capped at cores) —
    the r8 coalesce(8) literal is gone, so a corpus-scale table spreads
    across the cluster instead of 8 serialized tasks."""
    par = spark.sparkContext.defaultParallelism
    # unit: the sizing rule itself scales with rows and respects the cap
    df = spark.range(1)
    assert bpe._sized_parts(100, df, target=8192, floor=8) == min(par, 8)
    assert bpe._sized_parts(8192 * 3, df, target=8192, floor=8) == min(par, 8)
    assert bpe._sized_parts(8192 * 20, df, target=8192, floor=8) == \
        min(par, 20)
    assert bpe._sized_parts(10**9, df, target=8192, floor=8) == par
    # integration: the loop table the learner returns carries the sized
    # partition count (small test corpus -> the floor, capped at cores)
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(120)
    merges, rep = bpe.learn_bpe_merges_windowed(docs, n_rounds=2, batch=16,
                                                window=4)
    try:
        n = rep.count()
        assert rep.rdd.getNumPartitions() == \
            bpe._sized_parts(n, rep, target=8192, floor=8) == min(par, 8)
    finally:
        rep.unpersist()


def test_windowed_learning_releases_cached_generations_on_failure(
        spark, sf_dir, monkeypatch):
    """A round that fails mid-job must not leak the cached distinct-window
    generations: the current (lazily checkpointed) one and every retired one
    are released before the error propagates."""
    pairs_sql, calls = bpe._pairs_sql, []

    def failing_second_round(src):
        calls.append(src)
        if len(calls) < 2:
            return pairs_sql(src)
        return (f"if(length({src}) >= 0, raise_error('forced round failure'), "
                f"{pairs_sql(src)})")

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    monkeypatch.setattr(bpe, '_pairs_sql', failing_second_round)
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet').limit(40)
    with pytest.raises(Exception, match='forced round failure'):
        bpe.learn_bpe_merges_windowed(docs, n_rounds=3, batch=16, window=4)
    assert len(calls) == 2
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_learning_refuses_raw_string_literal_parsing(spark):
    """``_sql_str`` escapes with backslashes, which the parser keeps verbatim
    under ``escapedStringLiterals=true``: fail loudly, not mislearn."""
    docs = spark.createDataFrame([(1, "it's a back\\slash")],
                                 'doc_id long, text string')
    conf = 'spark.sql.parser.escapedStringLiterals'
    spark.conf.set(conf, 'true')
    try:
        for learn in (bpe.learn_bpe_merges, bpe.learn_bpe_merges_windowed):
            with pytest.raises(ValueError, match=conf):
                learn(docs)
    finally:
        spark.conf.unset(conf)
    assert bpe.learn_bpe_merges(docs, n_merges=1)
